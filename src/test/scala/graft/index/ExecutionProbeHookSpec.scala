package graft.index

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, raise_error, when}

import graft.{Metric, SearchParams, SparkSpec}

/**
 * The execution-callback contract, on both paths that arm one: the
 * resident search (a bounded batch over resident list blocks) and the
 * SQL static path (the same batch with a predicate). A search's probe
 * listener fires once per successful execution, never at construction
 * or on a failed action, for as long as its DataFrame lives.
 */
class ExecutionProbeHookSpec extends SparkSpec {

  private val dim = 8

  /** The probe pairs' qid sets, one per listener call. */
  private val fires = new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()

  private lazy val index: IvfFlatIndex = {
    val built = IvfFlatIndex.build(spark, vectorsDF(randomVectors(400, dim, seed = 3)), nlist = 4)
    val path = Files.createTempDirectory("graft-probe").toString + "/vectors"
    IvfFlatIndex.writeEpoch(built.vectors, path)
    val idx = new IvfFlatIndex(spark, IvfFlatIndex.readEpoch(spark, path), built.centroids,
      Metric.L2, pairs => { fires.add(pairs.map(_._1).toSet); () })
    idx.keepResident()
    assert(idx.residentLists.nonEmpty)
    idx
  }

  private val params = SearchParams(k = 3, nprobe = 2)

  /** A three-query batch whose qids start at `qid0`. */
  private def batch(qid0: Long): Array[(Long, Array[Float])] =
    randomVectors(3, dim, seed = qid0.toInt).map { case (i, v) => (qid0 + i, v) }.toArray

  /** (path, the batch's qids, its search) for both paths, the predicate
    * path's qids offset so the two batches never share one. */
  private def searches(qid0: Long): Seq[(String, Set[Long], DataFrame)] = {
    val r = batch(qid0)
    val p = batch(qid0 + 1000000L)
    Seq(("resident", r.map(_._1).toSet, index.searchBatch(r, params)),
      ("predicate", p.map(_._1).toSet, index.searchBatch(p, params, Some(lit(true)))))
  }

  /** Listener calls so far for the batch of `qids`. */
  private def firesOf(qids: Set[Long]): Int = {
    org.apache.spark.sql.graftshims.drainListenerBus(spark)
    fires.asScala.count(_ == qids)
  }

  test("a constructed search fires nothing; each collect fires once") {
    for ((path, qids, df) <- searches(100L)) {
      assert(firesOf(qids) === 0, s"$path: construction fired")
      df.collect()
      assert(firesOf(qids) === 1, s"$path: first collect")
      df.collect()
      assert(firesOf(qids) === 2, s"$path: second collect")
    }
  }

  test("count() over a search fires once") {
    for ((path, qids, df) <- searches(200L)) {
      assert(df.count() > 0)
      assert(firesOf(qids) === 1, path)
    }
  }

  test("a failing action over a search fires nothing") {
    for ((path, qids, df) <- searches(300L)) {
      val failing = df.select(when(col("id") >= 0, raise_error(lit("boom"))).as("x"))
      intercept[Exception](failing.collect())
      assert(firesOf(qids) === 0, s"$path: a failed action fired")
    }
  }

  test("a search re-executed after 65 other executed searches still fires") {
    for ((path, qids, df) <- searches(400L)) {
      df.collect()
      (0 until 65).foreach(i => searches(500L + 10L * i).foreach(_._3.collect()))
      df.collect()
      assert(firesOf(qids) === 2, s"$path: the re-execution did not fire")
    }
  }

  /** Arms a fresh callback on one search, executes it once, and returns
    * only a weak reference to the callback. */
  private def armedAndDropped(df: DataFrame): java.lang.ref.WeakReference[AnyRef] = {
    val hits = new java.util.concurrent.atomic.AtomicLong()
    val cb: Long => Unit = _ => { hits.incrementAndGet(); () }
    ExecutionProbeHook.arm(df, cb).collect()
    org.apache.spark.sql.graftshims.drainListenerBus(spark)
    assert(hits.get() === 1L)
    new java.lang.ref.WeakReference[AnyRef](cb)
  }

  test("a dropped search's callback is collected") {
    for ((path, _, df) <- searches(1200L)) {
      val ref = armedAndDropped(df)
      var tries = 0
      while (ref.get() != null && tries < 50) {
        System.gc()
        Thread.sleep(50)
        tries += 1
      }
      assert(ref.get() === null, s"$path: a dropped search's callback is still reachable")
    }
  }
}
