package graft.api

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft._
import graft.index.IvfFlatIndex

/**
 * The resident path (bounded batch, no predicate: one job over the
 * served epoch's resident list blocks) against the SQL static path
 * (reached through a pass-through predicate), across the serving
 * lifecycle: every comparison is `===` on (qid, id, dist, rank).
 */
class ResidentSearchSpec extends SparkSpec {

  private val dim = 8

  /** Random rows, plus copies of some under new ids (exact distance ties
    * broken by id) and a few NaN vectors (never ranked). */
  private def corpusRows(n: Int, seed: Int, idBase: Long): Seq[(Long, Array[Float])] = {
    val base = randomVectors(n, dim, seed).map { case (i, v) => (idBase + i, v) }
    val dups = base.take(n / 10).map { case (i, v) => (i + 100000L, v.clone()) }
    val nans = (0 until 3).map(i =>
      (idBase + 200000L + i, Array.tabulate(dim)(j => if (j == i) Float.NaN else 0.05f * j)))
    base ++ dups ++ nans
  }

  /** Queries with a null vector, a repeated qid (first row wins) and one
    * query sitting exactly on a duplicated corpus vector. */
  private def batch(corpus: Seq[(Long, Array[Float])]): Array[(Long, Array[Float])] =
    (randomVectors(10, dim, seed = 5).map { case (i, v) => (i, v) } ++ Seq(
      (50L, null: Array[Float]),
      (3L, Array.fill(dim)(0.5f)),
      (60L, corpus.head._2.clone()))).toArray

  private def ranked(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(x => (x._1, x._4)).toSeq

  private def compareAll(db: VectorDB, name: String, b: Array[(Long, Array[Float])],
      overrides: Seq[Option[Metric.Value]], stage: String): Unit = {
    val idx = db.served(name).index
    for (m <- overrides; k <- Seq(1, 10, 1000)) {
      val params = SearchParams(k = k, nprobe = 3, metric = m)
      val resident = idx.searchBatch(b, params)
      val sql = idx.searchBatch(b, params, Some(lit(true)))
      val got = ranked(resident)
      val want = ranked(sql)
      assert(resident.queryExecution.executedPlan.toString.contains("ResidentTopK"),
        s"$stage: resident path not taken")
      assert(sql.queryExecution.executedPlan.toString.contains("ListScanTopK"),
        s"$stage: predicate search left the SQL path")
      assert(got.nonEmpty)
      assert(got === want, s"$name $stage metric=$m k=$k")
    }
  }

  for ((metric, overrides) <- Seq(
      Metric.L2 -> Seq(None, Some(Metric.InnerProduct)),
      Metric.InnerProduct -> Seq(None),
      Metric.Cosine -> Seq(None))) {
    test(s"resident search is bit-identical to the SQL static path ($metric) across activate, appends and compaction") {
      val db = new VectorDB(spark, Files.createTempDirectory("graft-resident").toString)
      val name = s"r_${metric.toString.toLowerCase}"
      try {
        db.createIndex(IndexConfig(name, dimension = dim, metric = metric, nlist = 6))
        val rows = corpusRows(300, seed = 17, idBase = 0L)
        val clean = vectorsDF(rows.filterNot(_._2.exists(_.isNaN)))
        val cents = IvfFlatIndex.train(spark, clean, 6)
        db.activateEpoch(name, db.buildEpoch(name, vectorsDF(rows), Some(cents)))
        val b = batch(rows)
        compareAll(db, name, b, overrides, "activate")
        for (round <- 1 to 2) {
          db.addVectors(name, vectorsDF(corpusRows(40, seed = 30 + round, idBase = round * 1000000L)))
          compareAll(db, name, b, overrides, s"append $round")
        }
        // evicted blocks (here: all of them, after two extensions) are
        // re-read from the epoch files, through every extension's files
        db.served(name).index.residentLists.get.release()
        compareAll(db, name, b, overrides, "evicted")
        db.compactEpoch(name)
        compareAll(db, name, b, overrides, "compact")
      } finally db.close()
    }
  }
}
