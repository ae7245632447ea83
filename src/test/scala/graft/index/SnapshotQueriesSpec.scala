package graft.index

import graft.SparkSpec

/**
 * Pins [[IvfFlatIndex.snapshotQueries]] after the r9 rewrite from
 * `limit(n+1).collect()` to `rdd.take(n+1)`.
 *
 * Why the rewrite: Spark's `BaseLimitExec` names its loop-state variable
 * with a JVM-global counter (`_limit_counter_N`), so a plan containing a
 * limit produces DIFFERENT generated source on every build and can never
 * hit the codegen cache — each snapshot paid a fresh Janino compile plus
 * JIT warm-in, re-paid on every plan construction (measured as the
 * r8 bench's flood-family instability: +2 codegen compiles per run on
 * exactly the three floodQuerySet entries).
 *
 * The contract that must survive the rewrite: one lazy evaluation, a
 * bounded prefix of at most MaxStaticBatch+1 rows on the driver, bounded
 * iff the set fits MaxStaticBatch, and the sample IS the serving input.
 * A local (qid LONG, qvec ARRAY<FLOAT>) frame is decoded in place, and
 * must give the same batch as a distributed copy of its rows.
 */
class SnapshotQueriesSpec extends SparkSpec {

  private val Max = IvfFlatIndex.MaxStaticBatch

  test("bounded set: snapshot holds every row and reports bounded") {
    val qs = queriesDF(randomVectors(37, 8))
    val snap = IvfFlatIndex.snapshotQueries(qs)
    assert(snap.bounded)
    assert(snap.batch.isDefined)
    assert(snap.sample.length === 37)
    assert(snap.sample.map(_._1).sorted === (0L until 37L).toArray)
  }

  test("flood set: snapshot stops at the probe prefix and reports unbounded") {
    val qs = queriesDF(randomVectors(Max + 50, 8))
    val snap = IvfFlatIndex.snapshotQueries(qs)
    assert(!snap.bounded)
    assert(snap.batch.isEmpty)
    // the probe never drags the whole flood onto the driver
    assert(snap.sample.length === Max + 1)
  }

  test("exact boundary: MaxStaticBatch rows stay on the static path") {
    val qs = queriesDF(randomVectors(Max, 8))
    val snap = IvfFlatIndex.snapshotQueries(qs)
    assert(snap.bounded)
    assert(snap.sample.length === Max)
  }

  test("null qvec rows survive the snapshot for the callers' validation") {
    val s = spark
    import s.implicits._
    val qs = Seq((1L, Array(1.0f, 2.0f)), (2L, null.asInstanceOf[Array[Float]]))
      .toDF("qid", "qvec")
    val snap = IvfFlatIndex.snapshotQueries(qs)
    assert(snap.bounded)
    assert(snap.sample.length === 2)
    assert(snap.sample.find(_._1 == 2L).get._2 == null)
  }

  test("snapshot plan compiles no run-varying limit stage (codegen cache stays warm)") {
    val qs = queriesDF(randomVectors(64, 8))
    IvfFlatIndex.snapshotQueries(qs) // first build: may compile
    def n = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val before = n
    IvfFlatIndex.snapshotQueries(queriesDF(randomVectors(64, 8)))
    assert(n - before === 0,
      "re-snapshotting an identically-shaped query set recompiled generated " +
        "code — a limit-shaped (or otherwise run-varying) stage is back in the plan")
  }

  /** Rows with a null qvec at 5 and a null qid at 9. */
  private def mixedRows: Seq[(Option[Long], Array[Float])] =
    randomVectors(40, 8, seed = 3).map { case (i, v) =>
      (if (i == 9L) None else Some(i), if (i == 5L) null else v)
    }

  private def decoded(snap: IvfFlatIndex.QuerySnapshot): Seq[(Long, Option[Seq[Float]])] =
    snap.sample.toSeq.map { case (q, v) => (q, Option(v).map(_.toSeq)) }

  test("a local frame and a distributed copy decode to identical batches") {
    val s = spark
    import s.implicits._
    val local = mixedRows.toDF("qid", "qvec")
    val distributed = spark.sparkContext.parallelize(mixedRows, 3).toDF("qid", "qvec")
    assert(local.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(!distributed.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val snaps = Seq(local, distributed).map { df =>
      val before = IvfFlatIndex.droppedNullQueries.get()
      val snap = IvfFlatIndex.snapshotQueries(df)
      assert(IvfFlatIndex.droppedNullQueries.get() === before + 1, "null qid not counted once")
      snap
    }
    val Seq(a, b) = snaps
    assert(a.bounded && b.bounded)
    assert(decoded(a) === decoded(b))
    // input order, the null-qid row gone, the null qvec kept
    assert(a.sample.map(_._1).toSeq === (0L until 40L).filter(_ != 9L))
    assert(a.sample.find(_._1 == 5L).get._2 == null)
    assert(a.sample.find(_._1 == 6L).get._2.toSeq === mixedRows(6)._2.toSeq)
  }

  test("a local snapshot runs no job and compiles nothing") {
    val qs = queriesDF(randomVectors(64, 8, seed = 17))
    qs.queryExecution.optimizedPlan // the frame's own analysis is not the snapshot's
    def compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val before = compiles
    try {
      val snap = IvfFlatIndex.snapshotQueries(qs)
      org.apache.spark.sql.graftshims.drainListenerBus(spark)
      assert(snap.bounded && snap.sample.length === 64)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() === 0, s"a local snapshot ran ${jobs.get()} job(s)")
    assert(compiles - before === 0, "a local snapshot compiled generated code")
  }

  test("a local frame of another column type takes the Row decode and fails there") {
    val s = spark
    import s.implicits._
    // never read as raw bits: an INT qid or DOUBLE elements would decode
    // to wrong values if the in-place read accepted them
    val intQid = Seq((1, Array(1.0f, 2.0f))).toDF("qid", "qvec")
    val doubleVec = Seq((1L, Array(1.0, 2.0))).toDF("qid", "qvec")
    for (df <- Seq(intQid, doubleVec)) {
      assert(df.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      intercept[ClassCastException](IvfFlatIndex.snapshotQueries(df))
    }
  }

  test("a local frame is read off its analyzed plan, by name, whatever its column order") {
    val s = spark
    import s.implicits._
    val rows = randomVectors(20, 8, seed = 23)
    // a Project of aliases over a LocalRelation: renamed, reordered, with
    // a column the snapshot does not read and names in another case
    val local = rows.map { case (q, v) => (v, "x", q) }.toDF("QVEC", "tag", "Qid")
    val plan = local.queryExecution.analyzed
    assert(plan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project] &&
      plan.children.head.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val distributed = spark.sparkContext.parallelize(rows, 2).toDF("qid", "qvec")
    val Seq(a, b) = Seq(local, distributed).map(IvfFlatIndex.snapshotQueries(_))
    assert(a.bounded && b.bounded)
    assert(decoded(a) === decoded(b))
    // a computed column is not an alias: the optimized read still decodes it
    val shifted = local.select(($"Qid" + 1).as("qid"), $"QVEC".as("qvec"))
    assert(IvfFlatIndex.snapshotQueries(shifted).sample.map(_._1).toSeq ===
      rows.map(_._1 + 1))
  }
}
