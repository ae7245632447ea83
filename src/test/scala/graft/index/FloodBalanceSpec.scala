package graft.index

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.{Metric, SearchParams, SparkSpec}
import graft.functions.VectorKernels

/**
 * The flood scans over a list-skewed EPOCH: Spark's file packer puts the
 * biggest list files in one partition, so an unwidened scan hands one
 * task most of the rows. Every flood scorer (flat, PQ with and without
 * rerank, the exact flood) must spread its scoring stage over
 * defaultParallelism tasks of even row counts — and the widen must not
 * change a single result: top-k under (dist, id) is partition-blind.
 */
class FloodBalanceSpec extends SparkSpec {

  private val dim = 16
  private val nlist = 32
  private val k = 5
  private val params = SearchParams(k = k, nprobe = 4)

  /** A clustered corpus of `rows(l)` rows in list `l`, written and read
    * back as an epoch, one file per list. */
  private def clusteredEpoch(rows: Int => Int) = {
    val rnd = new scala.util.Random(17)
    val centers = Array.fill(nlist)(Array.fill(dim)(rnd.nextFloat() * 8f - 4f))
    var id = -1L
    val data = centers.indices.flatMap { l =>
      Seq.fill(rows(l)) {
        id += 1
        (id, centers(l).map(_ + (rnd.nextFloat() - 0.5f) * 0.1f))
      }
    }
    val bc = spark.sparkContext.broadcast(centers)
    val tmp = java.nio.file.Files.createTempDirectory("graft-skew").toString
    IvfFlatIndex.writeEpoch(IvfFlatIndex.assign(vectorsDF(data), bc), s"$tmp/vectors")
    (IvfFlatIndex.readEpoch(spark, s"$tmp/vectors"), bc)
  }

  /** 4 big lists (250 rows) and 28 small (15 rows): the packer's first
    * partition takes the big ones. */
  private lazy val (epoch, centroids) = clusteredEpoch(l => if (l < 4) 250 else 15)
  private lazy val corpus = epoch.select("id", "vec").collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
  private lazy val flat = new IvfFlatIndex(spark, epoch, centroids, Metric.L2)
  private lazy val books = spark.sparkContext.broadcast(IvfPqIndex.trainCodebooks(
    corpus.map(_._2).toArray, m = 4, nbits = 6))
  private lazy val codes = epoch.select(col("id"),
    graft.functions.pq.pq_encode(col("vec"), books).as("codes"), col("list_id"))
  private lazy val pq = new IvfPqIndex(spark, codes, epoch, centroids, books)
  private lazy val queries = randomVectors(IvfFlatIndex.MaxStaticBatch + 76, dim, seed = 3)
    .map { case (q, v) => (q, v.map(_ * 4f)) }
  private lazy val qdf = queriesDF(queries)

  private def sortedKeys(df: DataFrame) =
    df.select("qid", "id", "dist", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq

  /** Rows read by each task of every stage that scored candidates. */
  private final class ScoringStages extends SparkListener {
    private val rows = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
    val scoring = mutable.ArrayBuffer[(Int, Seq[Long])]() // (numTasks, rows per task)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      rows.getOrElseUpdate(t.stageId, mutable.ArrayBuffer[Long]()) +=
        m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      val info = s.stageInfo
      if (info.accumulables.values.exists(_.name.contains("candidates scored")))
        scoring += ((info.numTasks, rows.getOrElse(info.stageId, mutable.ArrayBuffer()).toSeq))
    }
  }

  /** Run `df` to completion and return its scoring stages. */
  private def scoringStages(df: => DataFrame): Seq[(Int, Seq[Long])] = {
    val l = new ScoringStages
    spark.sparkContext.addSparkListener(l)
    try {
      df.collect()
      org.apache.spark.sql.graftshims.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(l)
    l.synchronized(l.scoring.toSeq)
  }

  private def flatPartial(widen: Boolean): DataFrame = {
    val probed = IvfFlatIndex.probeRows(qdf, centroids, params.nprobe, Metric.L2)
    val s = epoch.select("id", "list_id", "vec")
    val in = if (widen) IvfFlatIndex.widenScan(s, Sizing.bytes(s), sortCols = Seq("list_id")) else s
    TopKAggregator.finalizePartial(BroadcastProbeTopK.flat(probed, in, k, Metric.L2.id), k, 4)
  }

  private def pqPartial(preK: Int, widen: Boolean): DataFrame = {
    val probed = IvfFlatIndex.probeRows(qdf, centroids, params.nprobe, Metric.L2)
    val in = if (widen) IvfFlatIndex.widenScan(codes, Sizing.bytes(codes), sortCols = Seq("list_id"))
      else codes
    TopKAggregator.finalizePartial(
      BroadcastProbeTopK.pq(probed, in, preK, books, Metric.L2.id), preK, 4)
  }

  test("the skewed epoch packs most rows into one file partition") {
    val perPart = epoch.rdd.mapPartitions(it => Iterator(it.size)).collect()
    val mean = perPart.sum.toDouble / perPart.length
    assert(perPart.length >= spark.sparkContext.defaultParallelism,
      s"the epoch scan must not be under-partitioned: ${perPart.toSeq}")
    assert(perPart.max > 2 * mean, s"the epoch scan must be skewed: ${perPart.toSeq}")
  }

  test("widenScan spreads a skewed or under-partitioned scan and leaves an even one") {
    def widened(df: DataFrame) = !(IvfFlatIndex.widenScan(df, Sizing.bytes(df)) eq df)
    val p = spark.sparkContext.defaultParallelism
    assert(widened(epoch.select("id", "list_id", "vec")), "skewed file split")
    assert(widened(codes), "skewed file split under a projection")
    val cached = epoch.select("id", "list_id", "vec").persist()
    try {
      cached.count()
      assert(widened(cached), "skewed file split under a cache")
    } finally cached.unpersist()
    assert(widened(epoch.coalesce(1)), "one partition")
    // an epoch of equal lists packs into an even split: no shuffle
    val (even, _) = clusteredEpoch(_ => 30)
    assert(even.rdd.getNumPartitions >= p)
    assert(!widened(even), "even file split")
    // clustered by list through a shuffle, as a scorer's caller may lay
    // its corpus out: the split carries no sizes and has enough partitions
    val byList = epoch.repartition(2 * p, col("list_id")).sortWithinPartitions("list_id")
    assert(!widened(byList), "list-clustered shuffle")
  }

  test("widened and unwidened floods return the same rows, and match static and brute force") {
    // flat: the operator over the epoch scan either way, then the full path vs static
    val flatStatic = sortedKeys(flat.searchBatch(queries.toArray, params))
    assert(sortedKeys(flatPartial(widen = true)) === flatStatic)
    assert(sortedKeys(flatPartial(widen = false)) === flatStatic)
    assert(sortedKeys(flat.search(qdf, params)) === flatStatic)
    // pq: the ADC stage at rerank 0's k and rerank 20's preK, then the full paths
    for (preK <- Seq(k, 20))
      assert(sortedKeys(pqPartial(preK, widen = true)) ===
        sortedKeys(pqPartial(preK, widen = false)), s"ADC top-$preK")
    for (rerank <- Seq(0, 20))
      assert(sortedKeys(pq.search(qdf, params, rerank)) ===
        sortedKeys(pq.searchBatch(queries.toArray, params, rerank)), s"pq rerankK=$rerank")
    // exact flood: one virtual list, widened or not, against brute force
    val brute = queries.flatMap { case (qid, qv) =>
      corpus.map { case (id, v) => (qid, id, VectorKernels.distance(v, qv, Metric.L2.id)) }
        .sortBy(t => (t._3, t._2)).take(k)
        .zipWithIndex.map { case ((_, id, d), i) => (qid, i + 1, id, d) }
    }.sortBy(t => (t._1, t._2))
    val oneList = epoch.select(col("id"), lit(0).as("list_id"), col("vec"))
    val all = qdf.withColumn("list_id", lit(0))
    for (widen <- Seq(true, false)) {
      val in = if (widen) IvfFlatIndex.widenScan(oneList, Sizing.bytes(oneList)) else oneList
      assert(sortedKeys(TopKAggregator.finalizePartial(
        BroadcastProbeTopK.flat(all, in, k, Metric.L2.id), k, 4)) === brute, s"widen=$widen")
    }
    assert(sortedKeys(Knn.exact(qdf, epoch.select("id", "vec"), k)) === brute)
  }

  test("every flood scoring stage runs defaultParallelism tasks of balanced rows") {
    val p = spark.sparkContext.defaultParallelism
    val floods = Seq[(String, () => DataFrame)](
      "flat flood" -> (() => flat.search(qdf, params)),
      "pq flood rerank 0" -> (() => pq.search(qdf, params, 0)),
      "pq flood rerank 20" -> (() => pq.search(qdf, params, 20)),
      "Knn.exact flood" -> (() => Knn.exact(qdf, epoch.select("id", "vec"), k)))
    for ((name, df) <- floods) {
      val stages = scoringStages(df())
      assert(stages.nonEmpty, s"$name: no scoring stage seen")
      for ((tasks, rows) <- stages) {
        assert(tasks === p, s"$name: scoring stage ran $tasks tasks, not $p")
        val mean = rows.sum.toDouble / rows.length
        assert(rows.max <= 2 * mean, s"$name: rows per scoring task $rows (mean $mean)")
      }
    }
  }
}
