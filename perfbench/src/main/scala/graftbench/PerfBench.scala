package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.col

import graft.{IndexConfig, Metric, SearchParams}
import graft.api.VectorDB
import graft.functions.VectorKernels
import graft.index.{IvfFlatIndex, IvfPqIndex}
import graft.pipeline.{Curation, Dedup}

/**
 * graft's benchmark program: one seeded workload per process, driven only
 * through the engine's public API, with one closed-loop client thread.
 * Each call is timed from outside; in a traced run every call also gets
 * spans, and a SparkListener attributes jobs, stages and tasks to the op
 * whose job group caused them. The raw record (ops, checks, spans, Spark
 * events) is written as JSON for `perfbench/run.py` to reduce.
 *
 * Usage: PerfBench <workload> <seed> <seconds> <trace 0|1> <workDir> <outFile>
 */
object PerfBench {

  // shapes fixed by the workload definitions (see perfbench/README.md)
  val Dim = 128
  val Components = 256
  val Sigma = 1.0
  val Nlist = 128
  val Nprobe = 16
  val K = 10
  val Batch = 64
  val AppendEvery = 8
  val CompactEvery = 4
  val FloodNprobe = 8
  val PqM = 16
  val PqNbits = 8
  val RerankK = 100
  val PqTrain = 1024 // codebook training sample (4 per centroid)
  val Index = "vecs"
  val WarmupSearches = 8
  val TrainSample = 5120 // k-means training sample: 40 vectors per list

  // input sizes, shrunk from the reference shape (1M x 128-D) to fit a run
  val Corpus = 20000
  val AppendBatch = 1000
  val FloodQueries = 2048
  val CurateDocs = 3000
  val PlantedExact = 50
  val PlantedNear = 25
  val NearDupVectors = 4000
  val PlantedPairs = 40
  val RecallQueries = 128
  val QueryPool = 4096

  // id ranges: corpus [0, corpus), queries from 1e9, appends from 2e9,
  // offline inputs from 3e9 (one block per iteration)
  val QueryBase = 1000000000L
  val AppendBase = 2000000000L
  val OfflineBase = 3000000000L
  val OfflineStride = 10000000L

  def main(args: Array[String]): Unit = {
    require(args.length == 6,
      "usage: PerfBench <workload> <seed> <seconds> <trace 0|1> <workDir> <outFile>")
    val Array(workload, seedS, secondsS, traceS, workDir, outFile) = args
    require(Set("serve_ingest", "offline")(workload), s"unknown workload $workload")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val events = if (traceS == "1") {
      val l = new SparkEvents
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val run = new Run(spark, traceS == "1", events, seedS.toLong, workDir, secondsS.toDouble)
    try run.workload(workload)
    catch {
      case e: Throwable =>
        run.check("run completes", ok = false, e.toString)
    }
    val record = run.record(workload)
    spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      org.json4s.jackson.Serialization.write(record)(org.json4s.DefaultFormats))
  }

  /** Every operator node of an executed plan, through AQE stages. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  def sumMetric(df: DataFrame, name: String): Long =
    planNodes(df.queryExecution.executedPlan)
      .flatMap(_.metrics.get(name)).map(_.value).sum

  def du(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)
}

/** One benchmark process: the op recorder plus the two workloads. */
final class Run(
    spark: SparkSession,
    traceOn: Boolean,
    events: Option[SparkEvents],
    seed: Long,
    workDir: String,
    seconds: Double) {
  import PerfBench._
  import spark.implicits._

  private val tracer = new Tracer(traceOn)
  private val ops = ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  private val checks = ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  private val layer = mutable.LinkedHashMap.empty[String, Any]
  private val gauges = mutable.LinkedHashMap.empty[String, Any]
  // served and exact top-k ids per query, for recall (computed by run.py)
  private val recallSets = mutable.LinkedHashMap.empty[String, Any]
  private var firstOpAt = 0L
  private var iteration = 0 // offline: the iteration an op belongs to

  private val mixture = new Mixture(seed, Dim, Components, Sigma)
  private val docGen = new DocGen(seed)

  // --- op recording ---------------------------------------------------------

  /** Time one op. `traced` false runs it with spans and event recording
    * off (the job group marks its events), for the overhead comparison. */
  private def op[T](kind: String, items: Long, traced: Boolean = traceOn)(f: Int => T)
      : (Int, Option[T]) = {
    val id = ops.size
    val rec = mutable.LinkedHashMap[String, Any](
      "id" -> id, "kind" -> kind, "items" -> items, "traced" -> traced, "iter" -> iteration)
    ops += rec
    spark.sparkContext.setJobGroup(if (traced) s"op-$id" else s"u-$id", kind)
    tracer.enabled = traced
    val cg0 = Run.codegenCount
    if (firstOpAt == 0L) firstOpAt = Clock.now()
    val t0 = Clock.now()
    val result =
      try Some(tracer.span(kind, id)(f(id)))
      catch { case e: Exception => rec("error") = e.toString; None }
    rec("t0") = t0
    rec("t1") = Clock.now()
    rec("ok") = result.isDefined
    if (traced) rec("codegen") = Run.codegenCount - cg0
    spark.sparkContext.clearJobGroup()
    tracer.enabled = traceOn
    (id, result)
  }

  private def note(id: Int, key: String, value: Any): Unit = ops(id)(key) = value

  /** Record an output check; a failed check fails the op it belongs to. */
  def check(name: String, ok: Boolean, detail: => String, opId: Int = -1): Unit = {
    checks += mutable.LinkedHashMap("name" -> name, "ok" -> ok, "op" -> opId,
      "detail" -> (if (ok) "" else detail))
    if (!ok && opId >= 0) ops(opId)("ok") = false
  }

  private def span[T](name: String, id: Int)(f: => T): T = tracer.span(name, id)(f)

  // --- shared pieces ----------------------------------------------------------

  /** The corpus as a generated (id, vec) frame: deterministic, so each
    * evaluation yields the same rows. */
  private def corpus: DataFrame = mixture.frame(spark, 0, Corpus)

  private def queryBatch(i: Int): Array[(Long, Array[Float])] = {
    val off = (i * Batch) % QueryPool
    mixture.batch(QueryBase + off, Batch)
  }

  private def queryFrame(b: Array[(Long, Array[Float])]): DataFrame =
    b.toSeq.toDF("qid", "qvec")

  /** (qid -> rows ordered by rank) from a collected search result. */
  private def byQuery(rows: Array[Row]): Map[Long, Seq[(Long, Double, Int)]] =
    rows.map(r => (r.getAs[Long]("qid"), (r.getAs[Long]("id"),
        r.getAs[Number]("dist").doubleValue, r.getAs[Number]("rank").intValue)))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSeq.sortBy(_._3) }

  /** k rows per query, ranks 1..k, ordered by (dist, id). */
  private def checkRanked(name: String, opId: Int, qids: Seq[Long],
      got: Map[Long, Seq[(Long, Double, Int)]], k: Int): Unit = {
    val bad = qids.find { q =>
      val xs = got.getOrElse(q, Nil)
      xs.size != k || xs.map(_._3) != (1 to k) ||
        xs.zip(xs.drop(1)).exists { case (a, b) =>
          a._2 > b._2 || (a._2 == b._2 && a._1 >= b._1)
        }
    }
    check(name, bad.isEmpty, s"query ${bad.getOrElse(-1L)}: ${got.get(bad.getOrElse(-1L))}", opId)
  }

  /** The index set-up: create, train, build with warm-start centroids,
    * activate. */
  private def setup(): (VectorDB, Array[Array[Float]]) = {
    def phase[T](key: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      layer(key) = (System.nanoTime() - t0) / 1e6
      r
    }
    val db = new VectorDB(spark, s"$workDir/db")
    db.createIndex(IndexConfig(Index, Dim, Metric.L2, nlist = Nlist))
    val cents = phase("kmeans.train_ms")(IvfFlatIndex.train(spark, corpus, Nlist, TrainSample))
    val epoch = phase("storage.build_epoch_ms")(db.buildEpoch(Index, corpus, Some(cents)))
    phase("api.activate_ms")(db.activateEpoch(Index, epoch))
    (db, cents)
  }

  private def epochDir(db: VectorDB): String =
    s"${db.dataPath}/$Index/epochs/${db.stats(Index)("epoch")}"

  /** Parquet files per list and bytes of the served epoch. */
  private def storageShape(db: VectorDB): (Double, Long) = {
    val dir = new java.io.File(epochDir(db))
    val lists = Option(new java.io.File(dir, "vectors").listFiles).getOrElse(Array.empty)
      .filter(_.getName.startsWith("list_id="))
    val files = lists.map(l => Option(l.listFiles).getOrElse(Array.empty)
      .count(_.getName.endsWith(".parquet"))).sum
    (if (lists.isEmpty) 0.0 else files.toDouble / Nlist, du(dir))
  }

  // --- ops ------------------------------------------------------------------

  private var searches = 0

  /** One batch-64 search through the facade, checked. */
  private def search(db: VectorDB, cents: Array[Array[Float]], traced: Boolean): Unit = {
    val b = queryBatch(searches)
    searches += 1
    val q = queryFrame(b)
    val (id, rows) = op("search", b.length, traced) { id =>
      val df = span("api.search.build", id)(db.search(Index, q, K, Nprobe))
      val rows = span("api.search.exec", id)(df.collect())
      if (traced) note(id, "candidates", sumMetric(df, "numCandidates"))
      rows
    }
    rows.foreach { rs =>
      checkRanked("search returns k ranked rows", id, b.map(_._1).toSeq, byQuery(rs), K)
    }
    if (traced) {
      note(id, "lists_touched", b.flatMap(x =>
        VectorKernels.probeLists(x._2, cents, Nprobe, Metric.L2.id)).distinct.length)
      note(id, "files_per_list", storageShape(db)._1)
    }
  }

  private var appended = 0L

  /** addVectors of one fresh batch, then a check that it is served. */
  private def append(db: VectorDB): Unit = {
    val from = AppendBase + appended
    val batch = mixture.frame(spark, from, AppendBatch)
    val (id, added) = op("append", AppendBatch) { id =>
      span("storage.append", id)(db.addVectors(Index, batch))
    }
    if (added.isDefined) {
      appended += AppendBatch
      userBytes += AppendBatch.toLong * (8 + 4 * Dim)
    }
    check("append adds the batch", added.contains(AppendBatch.toLong),
      s"added $added", id)
    val probe = mixture.batch(from + AppendBatch / 2, 1)
    val (cid, rows) = op("check", 1, traced = false) { _ =>
      db.search(Index, queryFrame(probe), K, Nprobe).collect()
    }
    val top = rows.map(byQuery).flatMap(_.get(probe(0)._1)).flatMap(_.headOption)
    check("appended vector is served at rank 1, distance 0",
      top.exists(t => t._1 == probe(0)._1 && t._2 == 0.0), s"top $top", cid)
    epochWritten(db)
  }

  /** compactEpoch on the served epoch, then an exact-count check. */
  private def compact(db: VectorDB): Unit = {
    val (id, _) = op("compact", 0) { id =>
      span("storage.compact", id)(db.compactEpoch(Index))
    }
    val n = db.stats(Index)("num_vectors")
    check("stats count is exact after compaction", n == Corpus + appended,
      s"num_vectors $n, expected ${Corpus + appended}", id)
    epochWritten(db)
  }

  // epoch bytes the write path produced, for storage.write_amp
  private var userBytes = 0L
  private var writtenBytes = 0L
  private var lastEpochBytes = -1L
  private var lastEpoch = ""

  private def epochWritten(db: VectorDB): Unit = {
    val epoch = db.stats(Index)("epoch").toString
    val bytes = storageShape(db)._2
    writtenBytes += (if (epoch == lastEpoch) bytes - lastEpochBytes else bytes)
    lastEpoch = epoch
    lastEpochBytes = bytes
  }

  /** Top-k ids per query id, keyed by the id as a string (a JSON key). */
  private def ids(got: Map[Long, Seq[(Long, Double, Int)]]): Map[String, Seq[Long]] =
    got.map { case (q, xs) => q.toString -> xs.map(_._1) }

  /** Served and exact top-k ids of `qs` (the exact oracle is the facade's
    * `searchExact`), kept for the recall check. */
  private def keepRecall(name: String, db: VectorDB, qs: Array[(Long, Array[Float])],
      served: Map[String, Seq[Long]]): Unit = {
    val exact = ids(byQuery(db.searchExact(Index, queryFrame(qs), K).collect()))
    recallSets(name) = Map(
      "served" -> qs.map(q => q._1.toString -> served.getOrElse(q._1.toString, Nil)).toMap,
      "exact" -> exact)
  }

  /** Reopen a fresh facade on the same data path: the count must hold. */
  private def reopenCheck(db: VectorDB): Unit = {
    val fresh = new VectorDB(spark, db.dataPath)
    fresh.loadIndex(Index)
    val n = fresh.stats(Index)("num_vectors")
    check("stats count is exact after reopening", n == Corpus + appended,
      s"num_vectors $n, expected ${Corpus + appended}")
    fresh.close()
  }

  // --- workloads -------------------------------------------------------------

  def workload(name: String): Unit = name match {
    case "serve_ingest" => serveIngest()
    case "offline" => offline()
  }

  /**
   * The measured loop: whole units of work, back to back, for `seconds`.
   * A unit starts only while it is expected to end inside the window
   * (judged by the previous unit's duration), and at least one runs, so
   * a run's op sequence does not depend on where the deadline cuts it.
   */
  private def loop(unit: Int => Unit): Unit = {
    val end = Clock.now() + (seconds * 1e9).toLong
    var i = 0
    var last = 0L
    while (i == 0 || Clock.now() + last <= end) {
      val t0 = Clock.now()
      unit(i)
      last = Clock.now() - t0
      i += 1
    }
  }

  /** Alternate traced and untraced units in a traced run, so the run
    * measures its own tracing overhead. */
  private def tracedAt(i: Int): Boolean = traceOn && i % 2 == 0

  /** Untimed searches before the loop, so it measures the search path of
    * a long-running server after the JIT compiled it, not the first cold
    * calls. They do not call `warmup`, which would cache every list. */
  private def jitWarmup(db: VectorDB): Unit =
    for (i <- 0 until WarmupSearches)
      db.search(Index, queryFrame(mixture.batch(QueryBase - (i + 1) * Batch, Batch)), K, Nprobe)
        .collect()

  /** A unit is `CompactEvery` rounds of (AppendEvery - 1) searches and one
    * append, then one compaction. */
  private def serveIngest(): Unit = {
    val (db, cents) = setup()
    jitWarmup(db)
    epochWritten(db)
    writtenBytes = 0L
    loop { _ =>
      for (_ <- 0 until CompactEvery) {
        for (_ <- 1 until AppendEvery) { search(db, cents, tracedAt(searches)) }
        append(db)
      }
      compact(db)
    }
    servedRecall(db)
    reopenCheck(db)
    finish(db, cents)
  }

  private def offline(): Unit = {
    val (db, cents) = setup()
    val pq = pqIndex(db, cents)
    loop { it =>
      iteration = it
      offlineIteration(db, pq, cents, it, tracedAt(it))
    }
    finish(db, cents)
  }

  /** A PQ index over the served epoch, sharing its coarse centroids:
    * codebooks trained on the lowest corpus ids, codes encoded once and
    * cached, raw vectors (with list ids) kept for the exact rerank. */
  private def pqIndex(db: VectorDB, cents: Array[Array[Float]]): IvfPqIndex = {
    val books = spark.sparkContext.broadcast(
      IvfPqIndex.trainCodebooks(mixture.batch(0, PqTrain).map(_._2), PqM, PqNbits))
    val epoch = IvfFlatIndex.readEpoch(spark, s"${epochDir(db)}/vectors")
    val codes = epoch.select(col("id"),
      graft.functions.pq.pq_encode(col("vec"), books).as("codes"), col("list_id"))
    codes.persist()
    codes.count()
    new IvfPqIndex(spark, codes, epoch.select("id", "vec", "list_id"),
      IvfFlatIndex.broadcastCentroids(spark, cents), books)
  }

  private def offlineIteration(db: VectorDB, pq: IvfPqIndex, cents: Array[Array[Float]],
      it: Int, traced: Boolean): Unit = {
    val base = OfflineBase + it * OfflineStride
    val n = FloodQueries
    val qs = mixture.frame(spark, base, n).toDF("qid", "qvec")
    // (a) distributed flood through the facade
    val (fid, flood) = op("flood", n, traced) { id =>
      val df = span("index.flood.build", id)(db.search(Index, qs, K, FloodNprobe))
      val rows = span("index.flood.exec", id)(df.collect())
      if (traced) note(id, "candidates", sumMetric(df, "numCandidates"))
      rows
    }
    val qids = (0L until n).map(base + _)
    flood.foreach(rs => checkRanked("flood returns k ranked rows", fid, qids, byQuery(rs), K))
    // (b) PQ with exact rerank on the same queries
    val (pid, pqRows) = op("pq_flood", n, traced) { id =>
      val df = span("index.pq_flood.build", id)(
        pq.search(qs, SearchParams(K, FloodNprobe), rerankK = RerankK))
      val rows = span("index.pq_flood.exec", id)(df.collect())
      if (traced) note(id, "candidates", sumMetric(df, "numCandidates"))
      rows
    }
    pqRows.foreach { rs =>
      val got = byQuery(rs)
      checkRanked("pq search returns k ranked rows", pid, qids, got, K)
      if (it == 0) keepRecall("pq", db, mixture.batch(base, RecallQueries), ids(got))
    }
    // (c) curation over fresh documents
    val (docs, eval, planted) = docGen.corpus(spark, base, CurateDocs,
      PlantedExact, PlantedNear)
    val (cid, audit) = op("curate", CurateDocs, traced) { id =>
      val run = span("pipeline.curate.build", id)(Curation.curateManaged(docs, eval))
      try span("pipeline.curate.exec", id)(
        run.audit.select("doc_id", "exact_dup_of").collect())
      finally run.unpersist()
    }
    audit.foreach { rows =>
      check("curation audit has one row per doc", rows.length == CurateDocs &&
        rows.map(_.getLong(0)).distinct.length == CurateDocs,
        s"${rows.length} rows", cid)
      val exact = rows.count(!_.isNullAt(1))
      check("curation finds exactly the planted exact duplicates", exact == planted,
        s"$exact exact duplicates, planted $planted", cid)
    }
    // (d) embedding near-duplicates with planted pairs
    val m = NearDupVectors
    val pairs = PlantedPairs
    val nBase = base + 5000000L
    val vecs = (0 until m).map { i =>
      val id = nBase + i
      if (i >= m - pairs) (id, mixture.nearCopy(nBase + (i - (m - pairs)), it, 1e-3))
      else (id, mixture.vector(id))
    }.toDF("id", "vec").repartition(4)
    val bc = IvfFlatIndex.broadcastCentroids(spark, cents)
    val (nid, found) = op("neardup", m, traced) { id =>
      val df = span("pipeline.neardup.build", id)(Dedup.embeddingNearDup(vecs, bc))
      span("pipeline.neardup.exec", id)(df.select("a_id", "b_id").collect())
    }
    bc.unpersist()
    found.foreach { rows =>
      val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      val missing = (0 until pairs).map(j => (nBase + j, nBase + m - pairs + j))
        .filterNot(got)
      check("every planted near-duplicate pair is reported", missing.isEmpty,
        s"missing ${missing.take(3)}", nid)
    }
  }

  /** Recall of the served index on held-out queries. */
  private def servedRecall(db: VectorDB): Unit = {
    val qs = mixture.batch(QueryBase + QueryPool, RecallQueries)
    keepRecall("ivf", db, qs, qs.grouped(Batch).flatMap { b =>
      ids(byQuery(db.search(Index, queryFrame(b), K, Nprobe).collect()))
    }.toMap)
  }

  /** End-of-run gauges shared by every workload. */
  private def finish(db: VectorDB, cents: Array[Array[Float]]): Unit = {
    val bytes = storageShape(db)._2
    gauges("epoch_bytes") = bytes
    gauges("raw_bytes") = (Corpus + appended) * Dim * 4L
    gauges("user_bytes_appended") = userBytes
    gauges("epoch_bytes_written") = writtenBytes
    if (traceOn) kernels(cents)
  }

  /** Tight loops over the workload's own vectors and centroids. */
  private def kernels(cents: Array[Array[Float]]): Unit = {
    val vs = mixture.batch(QueryBase, 512).map(_._2)
    var sink = 0.0
    def timeLoop(reps: Int)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      var r = 0
      while (r < reps) { f; r += 1 }
      (System.nanoTime() - t0).toDouble
    }
    def l2(): Unit = {
      var i = 0
      while (i < vs.length) { sink += VectorKernels.l2(vs(i), cents(i % Nlist)); i += 1 }
    }
    def argmin(): Unit = {
      var i = 0
      while (i < vs.length) { sink += VectorKernels.argminCentroid(vs(i), cents); i += 1 }
    }
    timeLoop(2000)(l2()) // JIT warm-up
    layer("functions.l2_ns_per_pair") = timeLoop(4000)(l2()) / (4000.0 * vs.length)
    timeLoop(20)(argmin())
    layer("functions.argmin_ns_per_vec") = timeLoop(40)(argmin()) / (40.0 * vs.length)
    if (sink == 42.0) println(sink)
  }

  // --- record ------------------------------------------------------------------

  def record(workload: String): Map[String, Any] = {
    val ev = events.map { e =>
      Map(
        "jobs" -> e.jobs.values.map(j => Map("id" -> j.id, "group" -> j.group,
          "start" -> j.start, "end" -> j.end)),
        "stages" -> e.stages.values.map(s => Map("id" -> s.id, "attempt" -> s.attempt,
          "job" -> s.job, "group" -> s.group, "start" -> s.submitted, "end" -> s.completed,
          "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks, "busy_ms" -> s.busyMs,
          "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "shuffle_write_bytes" -> s.shuffleWriteBytes,
          "shuffle_read_bytes" -> s.shuffleReadBytes, "shuffle_blocks" -> s.shuffleBlocks)))
    }.orNull
    Map(
      "workload" -> workload,
      "seed" -> seed,
      "cores" -> 4,
      "k" -> K,
      "first_op" -> firstOpAt,
      "jvm_start" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "ops" -> ops,
      "checks" -> checks,
      "layer" -> layer,
      "gauges" -> gauges,
      "recall" -> recallSets,
      "peak_rss_mb" -> Run.peakRssMb,
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1)),
      "spark" -> ev)
  }
}

object Run {
  /** Whole-stage and expression code compilations so far (JVM-wide). */
  def codegenCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** VmHWM of this process, in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}
