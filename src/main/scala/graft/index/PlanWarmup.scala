package graft.index

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.{Metric, SearchParams}
import graft.storage.LocalWrites._

/**
 * Plan/codegen warmup for the composed PQ flood search shapes (round 19,
 * r18 verdict #2): the first execution of the salted-cogroup and
 * broadcast-probe flood plans pays ~9-10 s of driver plan build plus
 * ~59 whole-stage/projection/ordering codegen compilations — measured
 * cold-start p99 for a serving process, and the amplifier that turns
 * host contention into multi-second bench reads.
 *
 * The fix exploits a measured property: the generated source of every
 * one of those 59 classes is SCALE-INVARIANT — it embeds column
 * ordinals, types, and plan shape, never row counts or broadcast
 * contents (those ride the `references` array) — so executing the SAME
 * operator composition over a 64-row synthetic table populates the
 * Janino source cache and the Catalyst/JIT paths, and the first real
 * query compiles nothing. (OneQuery evidence: a tiny-sf pre-touch took
 * `ivfpq_flood_cogroup` iter1 from 20.0 s / codegen+59 to
 * 4.4 s / codegen+0 at sf0.1 — within 2x steady state.)
 *
 * Both flood regimes run, because they plan DIFFERENT operators:
 *
 *  - gate pinned low -> salted co-partition ADC ([[CoGroupTopK.pqSearch]])
 *    + non-broadcast rerank join (the `ivfpq_flood_cogroup` shape);
 *  - gate default  -> [[BroadcastProbeTopK.pq]] ADC + broadcast rerank
 *    (the `ivfpq_flood_rerank` shape);
 *  - plus the static-batch path ([[ListScanTopK]] + [[PqListScorer]]),
 *    the serving loop's per-request plan.
 *
 * The warmup writes its synthetic vectors as PARQUET (temp dir, deleted
 * on exit) so the scan stages compile too, and mirrors the serving
 * constants (k=5, nprobe=16, rerankK=600, m=8) because limits and
 * rank bounds DO appear as literals in generated filters. Idempotent
 * per session; total cost is a few seconds of tiny-data execution, paid
 * once at startup instead of inside the first user query.
 */
object PlanWarmup {
  private val warmed =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())
  // one warmup at a time (they contend on the Janino cache anyway); the
  // DONE marker lands only on SUCCESS, so a failed warmup stays
  // retryable and a racing caller waits instead of firing its first
  // query against a still-cold cache (own review, round 19)
  private val runLock = new Object

  /** Run `body` once per (session, marker slot): best-effort — a warmup
    * failure is LOGGED, never propagated (it guards latency, not
    * correctness, and must not abort a serving startup or bench run). */
  private def oncePerSession(
      marker: java.util.Map[SparkSession, java.lang.Boolean],
      spark: SparkSession,
      what: String)(body: => Unit): Unit = runLock.synchronized {
    if (marker.containsKey(spark)) return
    try {
      body
      marker.put(spark, java.lang.Boolean.TRUE)
      ()
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[planwarmup] $what failed (cold-start mitigation skipped, " +
            s"retryable): ${e.getMessage}")
    }
  }

  /** Run once per session; subsequent calls are no-ops.
    *
    * Side effect, deliberate and load-bearing: sets
    * `spark.sql.codegen.useIdInClassName=false` on the session. With the
    * default (true) every whole-stage class embeds its per-query codegen
    * STAGE NUMBER in the class name and source, so the identical subplan
    * at stage 3 of the warmup and stage 11 of the real query are two
    * different Janino cache entries — measured as ~half the residual
    * iter1 compilations. The flag exists precisely to make the cache
    * position-independent; the only cost is less specific class names in
    * executor stack traces. */
  def warmPqFlood(spark: SparkSession): Unit =
    oncePerSession(warmed, spark, "warmPqFlood") {
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    val tmp = java.nio.file.Files.createTempDirectory("graft-planwarmup").toString
    sys.addShutdownHook {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(tmp)
      if (java.nio.file.Files.exists(root))
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 64 rows x dim 8: enough for nlist=16 k-means and m=8 codebooks
    // (dsub=1); the plan shapes do not depend on dim or row count
    (0L until 64L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
      .toDF("id", "vec").graftWrite.mode("overwrite").parquet(s"$tmp/vectors")
    val vecs = spark.read.parquet(s"$tmp/vectors")
    val idx = IvfPqIndex.build(spark, vecs, nlist = 16, m = 8)
    // query-set shape mirrors the flood serving pattern END TO END
    // (scan -> filter -> replicate via crossJoin -> project -> search ->
    // global orderBy): a replicated set above MaxStaticBatch dispatches
    // through snapshotQueries to the join path, and the orderBy's
    // range-sample/sort stages compile too — every stage the first real
    // flood query would otherwise compile itself
    // the filter literal is 300 NOT 64: literals land verbatim in the
    // generated filter source, and the serving flood shape screens its
    // query ids with `< 300` — matching it turns that stage into a cache
    // hit (all 64 warmup ids pass either way)
    val offs = (0 until 17).map(i => i * 10000L).toDF("off")
    val queries = vecs.filter(col("id") < 300).crossJoin(offs)
      .select((col("id") + col("off")).as("qid"), col("vec").as("qvec"))
    val params = SearchParams(k = 5, nprobe = 16)
    def consume(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.toRdd.foreach(_ => ())
    // above-gate flood: salted co-partition ADC + plain rerank join
    Sizing.withGate(spark, "1") {
      consume(idx.search(queries, params, rerankK = 600).orderBy("qid", "rank"))
    }
    // below-gate flood: broadcast-probe ADC + broadcast rerank
    consume(idx.search(queries, params, rerankK = 600).orderBy("qid", "rank"))
    // static serving batch: driver probe + ListScanTopK codes scan
    val batch = (0L until 4L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toArray
    val (df, release) = idx.searchBatchManaged(batch, params, rerankK = 600)
    consume(df)
    release()
    // flat flood twin (CoGroupTopK without codes): the exact-kNN flood
    // and salted flat entries share these stages
    val flat = new IvfFlatIndex(spark,
      IvfFlatIndex.assign(vecs, idx.centroids), idx.centroids, Metric.L2)
    Sizing.withGate(spark, "1") {
      consume(flat.searchJoin(queries, params).orderBy("qid", "rank"))
    }
  }

  private val warmedSql =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** SQL-surface twin of [[warmPqFlood]]: registers a tiny PQ-coded
    * table through [[graft.plans.SqlAnn]] and executes the canonical
    * REWRITTEN shapes — literal top-k (two-scan ADC + rerank pipeline),
    * refined literal range (codes-DPP), batch window rank, range join,
    * and semi screen — so a serving process that exposes an epoch via
    * `registerSql` compiles the rewrite plan family at startup instead
    * of inside its first query. Scale-invariance caveat: a query's
    * RADIUS is a primitive literal and lands verbatim in one generated
    * filter, so that single small class still compiles per distinct
    * radius; every other stage (scans, probe explode, ADC, DPP builds,
    * joins, window) is shared. Idempotent per session; cleans up its
    * registration, views, and temp table references. */
  def warmSqlAnn(spark: SparkSession): Unit =
    oncePerSession(warmedSql, spark, "warmSqlAnn") {
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    val tmp = java.nio.file.Files.createTempDirectory("graft-planwarmup-sql").toString
    sys.addShutdownHook {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(tmp)
      if (java.nio.file.Files.exists(root))
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val idx = IvfPqIndex.build(spark,
      (0L until 64L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
        .toDF("id", "vec"), nlist = 4, m = 2)
    idx.codes.join(idx.rawVectors, "id")
      .select(org.apache.spark.sql.functions.col("id"), col("vec"),
        col("codes"), col("list_id"))
      .graftWrite.partitionBy("list_id").mode("overwrite").parquet(s"$tmp/t")
    spark.read.parquet(s"$tmp/t").createOrReplaceTempView("graft_warmup_sql")
    (0L until 4L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
      .toDF("qid", "qvec").graftWrite.mode("overwrite").parquet(s"$tmp/q")
    spark.read.parquet(s"$tmp/q").createOrReplaceTempView("graft_warmup_sql_q")
    val (radii, errs) = graft.plans.SqlAnn.computePqRangeMeta(
      spark, s"$tmp/t", idx.centroids.value, idx.codebooks.value)
    graft.plans.SqlAnn.registerIndex(
      spark, s"$tmp/t", idx.centroids.value, nprobe = 4,
      centroidsBc = Some(idx.centroids), radii = Some(radii),
      pq = Some(new graft.plans.SqlAnn.PqInfo(idx.codebooks, rerankK = 600)),
      pqRangeErrs = Some(errs))
    def consume(sql: String): Unit =
      spark.sql(sql).queryExecution.toRdd.foreach(_ => ())
    try {
      val lit = s"CAST(array(${(0 until 8).map(_ => "0.5").mkString(", ")}) AS ARRAY<FLOAT>)"
      consume(
        s"""SELECT id, l2_distance(vec, $lit) AS dist
           |FROM graft_warmup_sql ORDER BY dist, id LIMIT 5""".stripMargin)
      consume(
        s"""SELECT id, l2_distance(vec, $lit) AS dist
           |FROM graft_warmup_sql WHERE l2_distance(vec, $lit) <= 2.0
           |ORDER BY id""".stripMargin)
      consume(
        s"""SELECT qid, id, dist, rank FROM (
           |  SELECT q.qid, t.id, l2_distance(t.vec, q.qvec) AS dist,
           |    CAST(row_number() OVER (PARTITION BY q.qid
           |      ORDER BY l2_distance(t.vec, q.qvec), t.id) AS INT) AS rank
           |  FROM graft_warmup_sql_q q, graft_warmup_sql t)
           |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)
      consume(
        s"""SELECT q.qid, t.id, l2_distance(t.vec, q.qvec) AS dist
           |FROM graft_warmup_sql_q q, graft_warmup_sql t
           |WHERE l2_distance(t.vec, q.qvec) <= 2.0 ORDER BY qid, id""".stripMargin)
      consume(
        s"""SELECT t.id FROM graft_warmup_sql t WHERE EXISTS (
           |  SELECT 1 FROM graft_warmup_sql_q q
           |  WHERE l2_distance(t.vec, q.qvec) <= 2.0) ORDER BY t.id""".stripMargin)
    } finally {
      graft.plans.SqlAnn.unregisterIndex(spark, s"$tmp/t")
      spark.catalog.dropTempView("graft_warmup_sql")
      spark.catalog.dropTempView("graft_warmup_sql_q")
    }
  }
}
