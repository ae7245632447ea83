package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SearchParams, SparkSpec}
import graft.index.IvfFlatIndex

class StreamingSearchSpec extends SparkSpec {

  test("streaming serving loop batches queued queries through one search per micro-batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val index = IvfFlatIndex.build(spark, vectorsDF(randomVectors(300, 8)), nlist = 4)
    val mem = MemoryStream[(Long, Array[Float])]
    val results = new ConcurrentLinkedQueue[Row]()
    val batches = new ConcurrentLinkedQueue[Long]()
    val tmp = java.nio.file.Files.createTempDirectory("graft-serve").toString
    val q = StreamingSearch.serve(
      index,
      mem.toDF().toDF("qid", "qvec"),
      SearchParams(k = 3, nprobe = 4),
      checkpointPath = s"$tmp/ckpt",
      triggerMs = 50L) { (res, batchId) =>
      res.collect().foreach(results.add)
      batches.add(batchId)
    }
    try {
      val queries = randomVectors(4, 8, seed = 5)
      mem.addData(queries.take(2): _*)
      q.processAllAvailable()
      mem.addData(queries.drop(2): _*)
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val rows = results.asScala.toSeq
      // every query got k=3 ranked hits
      val perQ = rows.groupBy(_.getLong(0)).view.mapValues(_.size).toMap
      assert(perQ.keySet === queries.map(_._1).toSet)
      assert(perQ.values.forall(_ === 3))
      // coalescing: 4 queries arrived in 2 micro-batches, not 4 calls
      assert(batches.asScala.toSet.size <= 3)
    } finally q.stop()
  }

  test("guarded serving loop sheds load when the breaker opens and keeps running") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val index = IvfFlatIndex.build(spark, vectorsDF(randomVectors(200, 8)), nlist = 4)
    val mem = MemoryStream[(Long, Array[Float])]
    var clock = 0L
    val guard = new ServingGuard(now = () => clock)
    val served = new ConcurrentLinkedQueue[Long]()
    val rejected = new ConcurrentLinkedQueue[(Long, String)]()
    @volatile var sinkFails = true
    val tmp = java.nio.file.Files.createTempDirectory("graft-serve-guarded").toString
    val q = StreamingSearch.serveGuarded(
      index,
      mem.toDF().toDF("qid", "qvec"),
      SearchParams(k = 3, nprobe = 4),
      checkpointPath = s"$tmp/ckpt",
      guard = guard,
      triggerMs = 50L,
      onReject = (bid, e) => rejected.add((bid, e.getMessage))) { (res, batchId) =>
      if (sinkFails) throw new RuntimeException("downstream down")
      res.collect()
      served.add(batchId)
    }
    try {
      val qs = randomVectors(6, 8, seed = 5)
      mem.addData(qs(0))
      q.processAllAvailable() // sink fails -> 1/1 errors -> breaker opens
      assert(guard.isCircuitOpen("search"))
      sinkFails = false
      mem.addData(qs(1))
      q.processAllAvailable() // inside cool-down: shed, sink never called
      assert(served.isEmpty)
      import scala.jdk.CollectionConverters._
      assert(rejected.asScala.exists(_._2.contains("circuit open")))
      // the loop is still alive: after the cool-down it serves again
      clock += 31000L
      mem.addData(qs(2))
      q.processAllAvailable()
      assert(q.isActive)
      assert(!served.isEmpty)
      assert(!guard.isCircuitOpen("search"))
    } finally q.stop()
  }

  test("maintenanceEvery runs the guard's maintenance tick on the serving cadence") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val index = IvfFlatIndex.build(spark, vectorsDF(randomVectors(100, 8)), nlist = 4)
    val mem = MemoryStream[(Long, Array[Float])]
    val ticks = new java.util.concurrent.atomic.AtomicInteger(0)
    val guard = new ServingGuard(now = () => 0L) {
      override def maintenanceTick(): Unit = { ticks.incrementAndGet(); super.maintenanceTick() }
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-serve-maint").toString
    val q = StreamingSearch.serveGuarded(
      index, mem.toDF().toDF("qid", "qvec"), SearchParams(k = 3, nprobe = 4),
      checkpointPath = s"$tmp/ckpt", guard = guard, triggerMs = 50L,
      maintenanceEvery = 2) { (res, _) => res.collect(); () }
    try {
      val qs = randomVectors(4, 8, seed = 11)
      qs.foreach { v => mem.addData(v); q.processAllAvailable() }
      // 4+ admit checks at maintenanceEvery=2 -> at least 2 ticks
      assert(ticks.get() >= 2, s"ticks=${ticks.get()}")
    } finally q.stop()
  }

  test("multi-profile dispatcher routes one stream to per-index batches with own params") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // disjoint id ranges make routing mistakes visible in the results
    val corpusA = vectorsDF(randomVectors(200, 8))
    val corpusB = vectorsDF(randomVectors(200, 8, seed = 99).map { case (i, v) => (i + 10000L, v) })
    val idxA = IvfFlatIndex.build(spark, corpusA, nlist = 4)
    val idxB = IvfFlatIndex.build(spark, corpusB, nlist = 4)
    val mem = MemoryStream[(String, Long, Array[Float])]
    val results = new ConcurrentLinkedQueue[(String, Row)]()
    val tmp = java.nio.file.Files.createTempDirectory("graft-serve-multi").toString
    val q = StreamingSearch.serveMulti(
      Map("a" -> (idxA, SearchParams(k = 3, nprobe = 4)),
        "b" -> (idxB, SearchParams(k = 2, nprobe = 4))),
      mem.toDF().toDF("index", "qid", "qvec"),
      checkpointPath = s"$tmp/ckpt",
      triggerMs = 50L) { (name, res, _) =>
      res.collect().foreach(r => results.add((name, r)))
    }
    try {
      val qs = randomVectors(4, 8, seed = 5)
      // interleave both indices in one stream, including the same qid twice
      mem.addData(
        ("a", qs(0)._1, qs(0)._2), ("b", qs(0)._1, qs(0)._2),
        ("a", qs(1)._1, qs(1)._2), ("b", qs(2)._1, qs(2)._2))
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val rows = results.asScala.toSeq
      val byIndex = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      // per-profile k is honored and every hit comes from the right corpus
      assert(byIndex("a").groupBy(_.getLong(0)).values.forall(_.size === 3))
      assert(byIndex("b").groupBy(_.getLong(0)).values.forall(_.size === 2))
      assert(byIndex("a").forall(_.getLong(1) < 10000L))
      assert(byIndex("b").forall(_.getLong(1) >= 10000L))
      assert(byIndex("a").map(_.getLong(0)).toSet === Set(qs(0)._1, qs(1)._1))
      assert(byIndex("b").map(_.getLong(0)).toSet === Set(qs(0)._1, qs(2)._1))
    } finally q.stop()
  }

  test("managed batch search releases its broadcast blocks after consumption") {
    val index = IvfFlatIndex.build(spark, vectorsDF(randomVectors(300, 8)), nlist = 4)
    def broadcastBlocks: Int =
      org.apache.spark.graftenv.broadcastBlockCount(spark.sparkContext)
    val batch = randomVectors(8, 8, seed = 11).map { case (i, v) => (i, v) }.toArray
    val (res, release) = index.searchBatchManaged(batch, SearchParams(k = 2, nprobe = 4))
    assert(res.count() > 0)
    val during = broadcastBlocks
    release()
    // unpersist is async — poll until the query-map blocks drain
    val deadline = System.nanoTime() + 10_000_000_000L
    var now = broadcastBlocks
    while (now >= during && System.nanoTime() < deadline) {
      Thread.sleep(100); now = broadcastBlocks
    }
    assert(now < during, s"broadcast blocks did not drop after release ($during -> $now)")
  }

  test("a flood micro-batch (> MaxStaticBatch) takes the distributed path, same results") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = vectorsDF(randomVectors(300, 8))
    val index = IvfFlatIndex.build(spark, corpus, nlist = 4)
    val mem = MemoryStream[(Long, Array[Float])]
    val results = new ConcurrentLinkedQueue[Row]()
    val tmp = java.nio.file.Files.createTempDirectory("graft-serve-flood").toString
    val q = StreamingSearch.serve(
      index,
      mem.toDF().toDF("qid", "qvec"),
      SearchParams(k = 2, nprobe = 4),
      checkpointPath = s"$tmp/ckpt",
      triggerMs = 50L) { (res, _) => res.collect().foreach(results.add) }
    try {
      val flood = randomVectors(IvfFlatIndex.MaxStaticBatch + 30, 8, seed = 6)
      mem.addData(flood: _*)
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val rows = results.asScala.toSeq
      val perQ = rows.groupBy(_.getLong(0)).view.mapValues(_.size).toMap
      assert(perQ.keySet === flood.map(_._1).toSet)
      assert(perQ.values.forall(_ === 2))
      // spot-check a query against the exact oracle (nprobe=nlist)
      val sample = flood.take(3)
      val exact = index.searchExact(queriesDF(sample), 2)
        .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
      val served = rows.filter(r => sample.exists(_._1 == r.getLong(0)))
        .map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
      assert(served === exact)
    } finally q.stop()
  }
}
