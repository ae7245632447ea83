package graft.api

import java.nio.file.Files

import graft._

/**
 * API contract suite mirroring the reference's gRPC error-contract tests
 * (test/integration/grpc_integration_test.cpp:105-245): the CreateIndex ->
 * BuildEpoch -> ActivateEpoch -> Search workflow plus the full
 * INVALID_ARGUMENT / NOT_FOUND validation matrix.
 */
class VectorDBSpec extends SparkSpec {

  private lazy val db = new VectorDB(spark, Files.createTempDirectory("graft-db").toString)
  private lazy val corpus = vectorsDF(randomVectors(500, 8))
  private lazy val qs = queriesDF(randomVectors(5, 8, seed = 7))

  private lazy val ready: Unit = {
    db.createIndex(IndexConfig("test_index", dimension = 8, nlist = 4))
    val epoch = db.buildEpoch("test_index", corpus)
    db.activateEpoch("test_index", epoch)
  }

  test("CreateIndex -> BuildEpoch -> ActivateEpoch -> Search workflow") {
    ready
    val res = db.search("test_index", qs, topk = 5)
    assert(res.count() === 25)
    val cols = res.columns.toSeq
    assert(cols === Seq("qid", "id", "dist", "rank"))
  }

  test("serving search schedules NO extra Spark jobs before returning the plan") {
    ready
    db.search("test_index", qs, topk = 3).count() // settle lazy init/caches
    val counter = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      db.search("test_index", qs, topk = 3) // plan construction, no action
      org.apache.spark.sql.graftshims.drainListenerBus(spark)
      // the single validate+snapshot collect short-circuits on a local
      // batch (LocalTableScan), so the serving path costs ZERO driver
      // jobs here — the old shape ran a full-scan dimension count
      assert(counter.get() === 0,
        s"expected no pre-search jobs on a local batch, saw ${counter.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("epoch lifecycle schedules no per-list job; appends write from every task, keep the centroid broadcast") {
    val nlist = 64
    val ldb = new VectorDB(spark, Files.createTempDirectory("graft-lifecycle").toString)
    ldb.createIndex(IndexConfig("lc", dimension = 8, nlist = nlist))
    val epoch = ldb.buildEpoch("lc", vectorsDF(randomVectors(3000, 8, seed = 11)))
    val em = new graft.storage.EpochManager(ldb.dataPath + "/lc/epochs")
    // the widest stage each operation submits: a listing job over the
    // list directories would run one task per list
    val widest = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
        widest.accumulateAndGet(s.stageInfo.numTasks, math.max); ()
      }
    }
    def widestStage(op: => Any): Int = {
      org.apache.spark.sql.graftshims.drainListenerBus(spark)
      widest.set(0)
      op
      org.apache.spark.sql.graftshims.drainListenerBus(spark)
      widest.get()
    }
    def listFiles(epochId: String): Map[String, Set[String]] =
      new java.io.File(s"${em.epochPath(epochId)}/vectors")
        .listFiles().filter(_.getName.startsWith("list_id=")).map(d =>
          d.getName -> d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet)
        .toMap
    spark.sparkContext.addSparkListener(listener)
    try {
      val activate = widestStage(ldb.activateEpoch("lc", epoch))
      assert(activate < nlist, s"activateEpoch ran a $activate-task stage")
      // centroids never change within an epoch: appends keep the broadcast
      val centroidsBc = ldb.served("lc").index.centroids.id
      for (round <- 0 until 2) {
        val before = listFiles(epoch)
        val base = 100000L + round * 1000L
        val append = widestStage(ldb.addVectors("lc",
          vectorsDF(randomVectors(400, 8, seed = 20 + round).map { case (i, v) => (base + i, v) })))
        assert(append < nlist, s"addVectors ran a $append-task stage")
        val added = listFiles(epoch).map { case (l, fs) =>
          l -> (fs -- before.getOrElse(l, Set.empty)) }.filter(_._2.nonEmpty)
        // exactly one new file in every list the batch touched
        val touched = graft.index.IvfFlatIndex.readEpoch(spark, s"${em.epochPath(epoch)}/vectors")
          .filter(s"id >= $base AND id < ${base + 400}")
          .select("list_id").distinct().collect().map(r => s"list_id=${r.getInt(0)}").toSet
        assert(added.keySet === touched)
        assert(added.values.forall(_.size == 1), added)
        // part-NNNNN is the writing task's partition: more than one writer
        val writers = added.values.flatten.map(_.take("part-00000".length)).toSet
        assert(writers.size > 1, s"append written by one task: $writers")
        assert(ldb.served("lc").index.centroids.id === centroidsBc)
      }
      var compacted = ""
      val compact = widestStage { compacted = ldb.compactEpoch("lc") }
      assert(compact < nlist, s"compactEpoch ran a $compact-task stage")
      assert(listFiles(compacted).values.forall(_.size == 1))
      assert(ldb.served("lc").index.centroids.id !== centroidsBc)
      assert(ldb.stats("lc")("num_vectors") === 3800L)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      ldb.close()
    }
  }

  test("epoch-backed search prunes the parquet scan (PartitionFilters on list_id)") {
    ready
    // nprobe=1 of nlist=4: the probed lists reach the on-disk epoch scan as
    // a partition filter — the Spark analog of loading only probed lists
    val plan = db.search("test_index", qs, topk = 5, nprobe = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [list_id"), s"no partition pruning in:\n$plan")
  }

  test("buildEpoch warm-start uses the given centroids verbatim") {
    ready
    val prev = db.stats("test_index")("epoch").toString
    val cents = Array(
      Array.fill(8)(-10.0f), Array.fill(8)(0.0f), Array.fill(8)(10.0f), Array.fill(8)(20.0f))
    val epoch = db.buildEpoch("test_index", corpus, Some(cents))
    db.activateEpoch("test_index", epoch)
    val loaded = db.stats("test_index")
    assert(loaded("epoch") === epoch)
    // N(0,1) vectors all sit nearest the zero centroid -> one hot shard
    assert(loaded("num_shards") === 1)
    // restore the trained epoch for the other tests (shared fixture)
    db.activateEpoch("test_index", prev)
  }

  test("search validation: empty queries -> INVALID_ARGUMENT") {
    ready
    intercept[InvalidArgumentException](db.search("test_index", qs.limit(0), 5))
  }

  test("search validation: topk bounds 0 < k <= 1000") {
    ready
    intercept[InvalidArgumentException](db.search("test_index", qs, 0))
    intercept[InvalidArgumentException](db.search("test_index", qs, -3))
    intercept[InvalidArgumentException](db.search("test_index", qs, 1001))
  }

  test("search validation: index name required / unknown index NOT_FOUND") {
    ready
    intercept[InvalidArgumentException](db.search("", qs, 5))
    intercept[NotFoundException](db.search("missing_index", qs, 5))
  }

  test("search validation: query dimension mismatch") {
    ready
    val wrongDim = queriesDF(randomVectors(2, 9, seed = 1))
    intercept[InvalidArgumentException](db.search("test_index", wrongDim, 5))
  }

  test("unbounded path: null qvec raises in-plan with the qid, never drops silently") {
    ready
    val s = spark
    import s.implicits._
    // > MaxStaticBatch rows forces the distributed ForceJoin path through
    // guardedQueries; the null sits past the eager validation sample
    val n = graft.index.IvfFlatIndex.MaxStaticBatch + 8
    val base = randomVectors(n, 8, seed = 7)
    val rows = base.updated(n - 1, (base(n - 1)._1, null: Array[Float]))
    val qs = rows.toDF("qid", "qvec")
    val e = intercept[Exception] {
      db.search("test_index", qs, 3).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m =>
      m.contains("null query vector") && m.contains(s"qid=${n - 1}")),
      s"wrong error: ${messages(e)}")
  }

  test("CreateIndex validation: dimension bounds and duplicate names") {
    intercept[IllegalArgumentException](IndexConfig("bad", 0))
    intercept[IllegalArgumentException](IndexConfig("bad", 65537))
    intercept[IllegalArgumentException](IndexConfig("", 8))
    ready
    intercept[InvalidArgumentException](
      db.createIndex(IndexConfig("test_index", 8)))
  }

  test("nlist default mirrors the reference heuristic (query_service.cpp:443)") {
    assert(IndexConfig("x", 8).nlist === 1000)
  }

  test("stats reports the serving epoch (A7)") {
    ready
    val s = db.stats("test_index")
    assert(s("num_vectors") === 500L)
    assert(s("nlist") === 4)
    assert(s("dimension") === 8)
    assert(s("epoch").toString.startsWith("epoch_"))
  }

  test("warmup materializes the pruned lists (A2/C6)") {
    ready
    assert(db.warmup("test_index", Seq(0, 1)) > 0)
    intercept[NotFoundException](db.warmup("missing", Nil))
  }

  test("epoch swap: activating a second epoch changes serving atomically (A6)") {
    ready
    val epoch2 = db.buildEpoch("test_index", vectorsDF(randomVectors(300, 8, seed = 9)))
    db.activateEpoch("test_index", epoch2)
    assert(db.stats("test_index")("num_vectors") === 300L)
    assert(db.stats("test_index")("epoch") === epoch2)
  }

  test("state locks are JVM-global per (dataPath, index): two facades over one dataPath share one monitor") {
    // round 19 (own review): the append-time bounds MERGE is a
    // read-modify-write; a per-instance lock could not serialize two
    // facades over the same data directory — the loser's max would
    // vanish and the under-sized bound would falsely dismiss
    val dir = Files.createTempDirectory("graft-lockshare").toString
    val a = new VectorDB(spark, dir)
    val b = new VectorDB(spark, dir)
    val c = new VectorDB(spark,
      Files.createTempDirectory("graft-lockother").toString)
    assert(a.stateLock("x") eq b.stateLock("x"),
      "same dataPath + index must intern ONE monitor across facades")
    assert(!(a.stateLock("x") eq a.stateLock("y")),
      "different indexes get different monitors")
    assert(!(a.stateLock("x") eq c.stateLock("x")),
      "different dataPaths get different monitors")
  }

  test("addVectors appends to the serving epoch's lists (S9 semantics)") {
    ready
    val before = db.stats("test_index")("num_vectors").asInstanceOf[Long]
    val newRows = vectorsDF(randomVectors(20, 8, seed = 77)
      .map { case (i, v) => (i + 100000L, v) })
    assert(db.addVectors("test_index", newRows) === 20L)
    assert(db.stats("test_index")("num_vectors") === before + 20)
    // the appended vectors are searchable: query one of them exactly
    val q = newRows.limit(1).selectExpr("id as qid", "vec as qvec")
    val hit = db.search("test_index", q, topk = 1, nprobe = 4).head()
    assert(hit.getLong(1) >= 100000L)
    assert(hit.getDouble(2) === 0.0)
  }

  test("addVectors merges appended counts into the manifest shards (imbalance signal)") {
    ready
    val statsBefore = db.stats("test_index")
    val totalBefore = statsBefore("num_vectors").asInstanceOf[Long]
    val batch = vectorsDF(randomVectors(30, 8, seed = 91)
      .map { case (i, v) => (i + 500000L, v) })
    db.addVectors("test_index", batch)
    val after = db.stats("test_index")
    assert(after("num_vectors") === totalBefore + 30)
    // shard counts must absorb the append: their sum tracks num_vectors
    val epochId = after("epoch").asInstanceOf[String]
    val m = graft.storage.Manifest.load(
      s"${db.dataPath}/test_index/epochs/$epochId/manifest.json")
    assert(m.shards.map(_.numVectors).sum === totalBefore + 30,
      s"manifest shards stale after append: ${m.shards.map(_.numVectors).sum}")
  }

  test("readVectorSlice with duplicate ids uses the rank window, not the id range") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-dupids").toString
    // ids {1,1,3}: hi-lo+1 == count, so a non-distinct density check would
    // wrongly take the id-range path and return zero rows for offset 1
    Seq((1L, Array(1f)), (1L, Array(2f)), (3L, Array(3f)))
      .toDF("id", "vec").write.parquet(s"$tmp/v")
    val got = VectorDB.readVectorSlice(spark, s"$tmp/v", offset = 1, length = 1)
      .collect()
    assert(got.length === 1, "duplicate-id set mis-detected as dense")
    assert(got.head.getLong(0) === 1L)
  }

  test("addVectors rejects wrong-dimension batches (kernels would truncate silently)") {
    ready
    val wrongDim = vectorsDF(randomVectors(3, 5, seed = 88)
      .map { case (i, v) => (i + 300000L, v) })
    intercept[InvalidArgumentException](db.addVectors("test_index", wrongDim))
  }

  test("buildEpoch rejects wrong-dimension sources like addVectors (no silent corrupt index)") {
    ready
    val wrongDim = vectorsDF(randomVectors(10, 5, seed = 89)
      .map { case (i, v) => (i + 400000L, v) })
    intercept[InvalidArgumentException](db.buildEpoch("test_index", wrongDim))
  }

  test("readVectorSlice rejects negative offset/length on every id layout") {
    // the dense path's range filter would otherwise silently SHRINK the
    // window for a negative offset while the sparse path throws
    val dir = java.nio.file.Files.createTempDirectory("graft-negslice").toString
    vectorsDF(randomVectors(20, 8, seed = 90)).write.mode("overwrite")
      .parquet(s"$dir/vecs")
    intercept[InvalidArgumentException](
      VectorDB.readVectorSlice(spark, s"$dir/vecs", offset = -5, length = 10))
    intercept[InvalidArgumentException](
      VectorDB.readVectorSlice(spark, s"$dir/vecs", offset = 0, length = -1))
  }

  test("cleanup never deletes the epoch currently loaded for serving") {
    ready
    val served = db.stats("test_index")("epoch").toString
    val newer = db.buildEpoch("test_index", vectorsDF(randomVectors(50, 8, seed = 4)))
    // keep only the newest -> the older SERVED epoch would be doomed
    // unless the facade protects it
    val deleted = db.cleanupOldEpochs("test_index", keepN = 1)
    assert(!deleted.contains(served))
    assert(db.search("test_index", qs, topk = 2).count() > 0) // still serves
    assert(db.listEpochs("test_index").contains(newer))
  }

  test("build progress reporting and async build (A5)") {
    ready
    assert(db.buildProgress("test_index").isEmpty) // idle
    import scala.concurrent.ExecutionContext.Implicits.global
    val fut = db.buildEpochAsync("test_index", vectorsDF(randomVectors(100, 8, seed = 3)))
    val epoch = scala.concurrent.Await.result(fut, scala.concurrent.duration.Duration.Inf)
    assert(epoch.startsWith("epoch_"))
    assert(db.buildProgress("test_index").isEmpty) // cleared after completion
    assert(db.listEpochs("test_index").contains(epoch))
  }

  test("hot-list stats accumulate from searches and drive warmupHot (C1)") {
    ready
    db.search("test_index", qs, topk = 3, nprobe = 2).collect()
    // stats record via a QueryExecutionListener on the async listener bus
    org.apache.spark.sql.graftshims.drainListenerBus(spark)
    val hot = db.hotLists("test_index")
    assert(hot.nonEmpty)
    assert(hot.map(_._2).sum >= 5 * 2) // 5 queries x nprobe 2 probes recorded
    assert(hot.head._2 === hot.map(_._2).max) // hottest first
    assert(db.warmupHot("test_index", topN = 2) > 0)
    // re-entrant (the serving-loop auto-warmup contract): the working set
    // has not drifted, so the second call is a free no-op
    assert(db.warmupHot("test_index", topN = 2) === 0L)
    // a drifted hot set (different topN here) re-pins and releases the old
    assert(db.warmupHot("test_index", topN = 1) > 0)
  }

  test("probe stats record at execution time, not plan construction (C1)") {
    ready
    org.apache.spark.sql.graftshims.drainListenerBus(spark)
    val before = db.hotLists("test_index", topN = 1000).map(_._2).sum
    // construct but never execute: an abandoned plan must not heat stats
    val abandoned = db.search("test_index", qs, topk = 3, nprobe = 2)
    org.apache.spark.sql.graftshims.drainListenerBus(spark)
    assert(db.hotLists("test_index", topN = 1000).map(_._2).sum === before,
      "unexecuted search changed hot-list stats")
    // every EXECUTION fires once — two actions on one plan = two batches
    abandoned.collect()
    abandoned.collect()
    org.apache.spark.sql.graftshims.drainListenerBus(spark)
    assert(db.hotLists("test_index", topN = 1000).map(_._2).sum === before + 2 * 5 * 2,
      "two executions should record exactly twice")
  }

  test("health checks mirror the reference's service matrix (A10)") {
    // a fresh facade with nothing served: admin healthy, query not
    val bare = new graft.api.VectorDB(spark,
      java.nio.file.Files.createTempDirectory("graft-health").toString)
    assert(bare.healthCheck("AdminService") === graft.api.Health.Serving)
    assert(bare.healthCheck("QueryService") === graft.api.Health.NotServing)
    assert(bare.healthCheck() === graft.api.Health.NotServing)
    assert(bare.healthCheck("NoSuchService") === graft.api.Health.ServiceUnknown)
    // the shared facade serves an index -> system healthy end to end
    ready
    assert(db.healthCheck("QueryService") === graft.api.Health.Serving)
    assert(db.healthCheck() === graft.api.Health.Serving)
  }

  test("search metrics record per-execution latency histograms (A10)") {
    ready
    val before = db.metrics("test_index")("searches_total").asInstanceOf[Long]
    val df = db.search("test_index", qs, topk = 3)
    // construction alone records nothing (same contract as probe stats)
    org.apache.spark.sql.graftshims.drainListenerBus(spark)
    assert(db.metrics("test_index")("searches_total") === before)
    df.collect()
    df.collect()
    org.apache.spark.sql.graftshims.drainListenerBus(spark)
    val m = db.metrics("test_index")
    assert(m("searches_total") === before + 2)
    assert(m("p50_latency_ms").asInstanceOf[Double] > 0.0)
    assert(m("p99_latency_ms").asInstanceOf[Double] >= m("p50_latency_ms").asInstanceOf[Double])
    val text = db.metricsText()
    assert(text.contains("vdb_search_duration_milliseconds{index=\"test_index\",quantile=\"0.5\"}"))
    assert(text.contains("vdb_searches_total{index=\"test_index\"}"))
  }

  test("probe eviction counters are always present in the Prometheus text") {
    // zero included: a counter absent until its first event breaks
    // increase()/rate() over the first scrape window and makes 0
    // indistinguishable from not-exported
    val zeroText = db.metricsText()
    assert(zeroText.contains("vdb_probe_refire_evictions_total "))
    assert(zeroText.contains("vdb_probe_pending_evictions_total "))
    assert(zeroText.contains("vdb_dropped_null_queries_total "))
    // the counters are JVM-wide and monotonic; bump both directly and
    // assert the exposition lines appear with at-least-the-bumped values
    // (other suites may have evicted too — never assert exact equality)
    graft.index.ExecutionProbeHook.firedEvictions.incrementAndGet()
    graft.index.ExecutionProbeHook.pendingEvictions.incrementAndGet()
    val text = db.metricsText()
    assert(text.contains("vdb_probe_refire_evictions_total "))
    assert(text.contains("vdb_probe_pending_evictions_total "))
    def value(name: String): Long = text.linesIterator
      .find(l => l.startsWith(name + " ")).get.split(' ')(1).toLong
    assert(value("vdb_probe_refire_evictions_total") >= 1L)
    assert(value("vdb_probe_pending_evictions_total") >= 1L)
    // per-instance split: this facade's share under its own label, also
    // emitted unconditionally at 0 — and the direct bumps above were
    // UNOWNED, so this instance's share must still read 0. The label is
    // `facade` (not the Prometheus-reserved `instance`, which scrape
    // targets would shadow into exported_instance).
    val inst = db.instanceId.replace("\\", "\\\\").replace("\"", "\\\"")
    assert(text.contains(
      s"""vdb_probe_refire_evictions_instance_total{facade="$inst"} """))
    assert(text.contains(
      s"""vdb_probe_pending_evictions_instance_total{facade="$inst"} """))
    assert(!text.contains("{instance="),
      "metrics must not use the Prometheus-reserved `instance` label")
  }

  test("close() checks the facade's probe-eviction counters out of the JVM registry") {
    val db2 = new VectorDB(spark,
      java.nio.file.Files.createTempDirectory("graft-close").toString)
    val owner = db2.instanceId
    // charge one pending eviction to this facade's owner key directly
    val df = { val s = spark; import s.implicits._; Seq(1).toDF("x") }
    (0 until 4096 + 1).foreach(_ =>
      graft.index.ExecutionProbeHook.arm(df, () => (), owner))
    assert(graft.index.ExecutionProbeHook.pendingEvictionsFor(owner) >= 1L)
    db2.close()
    assert(graft.index.ExecutionProbeHook.pendingEvictionsFor(owner) === 0L,
      "a closed facade must not leave a permanent per-owner registry entry")
    // resurrection guard: close() also purged the facade's still-resident
    // Probe entries from the pending map — so flooding the map with
    // another owner's arms (which evicts the eldest entries) must NOT
    // bump the closed owner back into the registry. Before the purge,
    // the 4096 resident entries above would be evicted here and
    // getOrElseUpdate would silently recreate the per-owner counter.
    (0 until 4096).foreach(_ =>
      graft.index.ExecutionProbeHook.arm(df, () => (), "other-owner"))
    assert(graft.index.ExecutionProbeHook.pendingEvictionsFor(owner) === 0L,
      "evictions after close() must not resurrect the closed owner's counter")
    graft.index.ExecutionProbeHook.releaseOwner("other-owner")
  }

  test("stats() surfaces this instance's probe-eviction counters") {
    ready
    val st = db.stats("test_index")
    assert(st.contains("probe_refire_evictions"))
    assert(st.contains("probe_pending_evictions"))
    assert(st("probe_refire_evictions").asInstanceOf[Long] >= 0L)
    assert(st("probe_pending_evictions").asInstanceOf[Long] >= 0L)
  }

  test("measured recall@k lands in metrics and the Prometheus text (round 7)") {
    ready
    // nprobe = nlist: the pruned search IS exact, so measured recall is
    // exactly 1.0 — the differential the reference plumbs
    // (record_search_recall) but never feeds
    val full = db.measureRecall("test_index", qs, topk = 5, nprobe = 4)
    assert(full === 1.0)
    val pruned = db.measureRecall("test_index", qs, topk = 5, nprobe = 1)
    assert(pruned >= 0.0 && pruned <= 1.0)
    val m = db.metrics("test_index")
    assert(m("recall_samples") === 2L)
    val avg = m("avg_recall").asInstanceOf[Double]
    assert(avg === (full + pruned) / 2)
    assert(db.metricsText().contains("vdb_search_recall{index=\"test_index\"}"))
    intercept[IllegalArgumentException](db.recordRecall("test_index", 1.5))
  }

  test("latency histogram buckets and percentiles are monotone and exact at edges") {
    val h = new graft.api.LatencyHistogram
    assert(h.percentileMs(0.5) === 0.0) // empty
    // 9 samples at ~1ms, one at ~1000ms: p50 tiny, p99 catches the tail
    (1 to 9).foreach(_ => h.record(1000000L))
    h.record(1000L * 1000000L)
    assert(h.count === 10)
    assert(h.percentileMs(0.5) === 1.0)
    assert(h.percentileMs(0.99) === 1024.0) // bucket upper bound of 1000ms
    assert(h.meanMs > 99.0 && h.meanMs < 102.0)
  }

  test("compactEpoch rewrites accumulated append files and keeps results identical (F7)") {
    ready
    // create fragmentation: three small appends
    (1 to 3).foreach { i =>
      db.addVectors("test_index", vectorsDF(
        randomVectors(10, 8, seed = 50 + i).map { case (id, v) => (id + 200000L + i * 100, v) }))
    }
    val before = db.search("test_index", qs, topk = 5).collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2))).sortBy(x => (x._1, x._2))
    val em = new graft.storage.EpochManager(
      db.dataPath + "/test_index/epochs")
    val srcEpoch = db.stats("test_index")("epoch").toString
    def fileCount(epoch: String) = {
      val dir = new java.io.File(s"${em.epochPath(epoch)}/vectors")
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(dir)
    }
    val fragmented = fileCount(srcEpoch)
    // transactional compaction: results land in a NEW epoch; searches keep
    // running against the old files until the atomic swap, so hammer the
    // serving path concurrently and require zero failures
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val searcher = Future {
      while (!stop.get()) {
        try assert(db.search("test_index", qs, topk = 5).count() > 0)
        catch { case t: Throwable => errors.add(t); stop.set(true) }
      }
    }
    val newEpoch =
      try db.compactEpoch("test_index")
      finally stop.set(true)
    Await.result(searcher, scala.concurrent.duration.Duration.Inf)
    assert(errors.isEmpty, s"search failed during compaction: ${errors.peek()}")
    assert(newEpoch !== srcEpoch)
    assert(db.stats("test_index")("epoch").toString === newEpoch) // serving swapped
    assert(fileCount(newEpoch) < fragmented,
      s"compaction did not reduce $fragmented files")
    // the source epoch survives for rollback until cleanup reaps it
    assert(db.listEpochs("test_index").contains(srcEpoch))
    val after = db.search("test_index", qs, topk = 5).collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2))).sortBy(x => (x._1, x._2))
    assert(after === before)
  }

  test("vector slice read returns a deterministic id-ordered window (F1)") {
    val slice = VectorDB.readVectorSlice(
      spark, "/root/testdata/sf0.001/embeddings.parquet", offset = 10, length = 5)
    assert(slice.collect().map(_.getLong(0)).toSeq === Seq(10L, 11L, 12L, 13L, 14L))
    // dense ids (the epoch invariant): the window must reach the scan as a
    // pushed id-range — row-group pruning, no sort of the table
    val plan = slice.queryExecution.executedPlan.toString
    // the range resolves through the id alias to the file's vec_id column
    assert(plan.contains("GreaterThanOrEqual(vec_id,10)") && plan.contains("LessThan(vec_id,15)"),
      s"slice window not pushed to the scan:\n$plan")
    assert(!plan.contains("GlobalLimit"), s"dense path still rank-windowing:\n$plan")
  }

  test("slice read over sparse ids falls back to the rank window") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sparse").toString
    // gap at id=3: ids 0,1,2,4,5 — offset 2, length 2 must give (2, 4)
    Seq(0L, 1L, 2L, 4L, 5L).map(i => (i, Array(i.toFloat)))
      .toDF("id", "vec").write.parquet(s"$tmp/v.parquet")
    val got = VectorDB.readVectorSlice(spark, s"$tmp/v.parquet", 2, 2)
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(2L, 4L))
  }

  test("searches race epoch swaps without failures (zero-downtime A6 contract)") {
    ready
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val searchers = (1 to 3).map { _ =>
      Future {
        while (!stop.get()) {
          try { val n = db.search("test_index", qs, topk = 3).count(); assert(n > 0) }
          catch { case t: Throwable => errors.add(t); stop.set(true) }
        }
      }
    }
    try {
      (1 to 3).foreach { i =>
        val e = db.buildEpoch("test_index", vectorsDF(randomVectors(100 + i, 8, seed = i)))
        db.activateEpoch("test_index", e)
      }
    } finally stop.set(true)
    Await.result(Future.sequence(searchers), 120.seconds)
    assert(errors.isEmpty, s"search failed during epoch swap: ${errors.peek()}")
  }

  test("per-request metric override via string, unknown string -> L2 default") {
    ready
    val res = db.search("test_index", qs, 3, metric = "InnerProduct")
    assert(res.collect().map(_.getDouble(2)).exists(_ < 0))
    val fallback = db.search("test_index", qs, 3, metric = "NotAMetric")
    assert(fallback.collect().map(_.getDouble(2)).forall(_ >= 0))
  }
}
