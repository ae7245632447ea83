package graft.index

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.{Metric, SearchParams, SparkSpec}

/**
 * Contracts of the scan-side list top-k operator (the static serving
 * path's per-list scan + insertion buffers, ListScanTopK.scala). The
 * broader static ≡ join ≡ exact hash-equalities live in IvfFlatIndexSpec /
 * BroadcastGateSpec; this spec pins the operator-specific behavior:
 * flush fragmentation, null/unprobed skips, heap switch, and the PQ
 * scorer against its join-path twin.
 */
class ListScanTopKSpec extends SparkSpec {

  private val dim = 16
  private lazy val corpus = randomVectors(600, dim)
  private lazy val queries = randomVectors(40, dim, seed = 99)
    .map { case (i, v) => (i + 1000L, v) }
  private lazy val flat = IvfFlatIndex.build(spark, vectorsDF(corpus), nlist = 8)

  private def sortedHits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Int)] =
    df.select("qid", "id", "dist", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq

  test("operator results are identical to the distributed join path") {
    val params = SearchParams(k = 7, nprobe = 8) // all lists -> exact too
    val static = sortedHits(flat.searchBatch(queries.toArray, params))
    val join = sortedHits(flat.searchJoin(queriesDF(queries), params))
    val exact = sortedHits(flat.searchExact(queriesDF(queries), 7))
    assert(static === join)
    assert(static === exact)
  }

  test("a tiny maxKeys forces mid-partition flushes; fragments re-merge exactly") {
    val params = SearchParams(k = 5, nprobe = 8)
    val pairs = IvfFlatIndex.localProbe(queries.toArray, flat.centroids.value,
      nprobe = 8, Metric.L2)
    val bc = spark.sparkContext.broadcast(ProbeIndex(queries.toArray, pairs, flat.nlist))
    val pruned = flat.vectors
      .select(col("id").cast("long"), col("list_id").cast("int"), col("vec"))
    def run(maxKeys: Int) = sortedHits(TopKAggregator.finalizePartial(
      ListScanTopK(pruned, new FlatListScorer(bc, Metric.L2.id), 5, maxKeys), 5, parts = 1))
    // maxKeys=1: every corpus row's first insert fills the map -> flush
    // storm; results must still merge to the unfragmented answer
    assert(run(1) === run(Int.MaxValue))
    bc.destroy()
  }

  test("null payloads and rows from unprobed lists are skipped, not scored") {
    val s = spark
    import s.implicits._
    // probe index covering ONLY list 0 with one query at the origin
    val batch = Array((1L, Array.fill(dim)(0f)))
    val pairs = Array((1L, 0))
    val bc = spark.sparkContext.broadcast(ProbeIndex(batch, pairs, 4))
    val rows = Seq(
      (10L, 0, Some(Array.fill(dim)(1f))),   // scored
      (11L, 0, None),                        // null vec -> skipped
      (12L, 1, Some(Array.fill(dim)(0.1f))), // closer, but unprobed list
      (13L, 9, Some(Array.fill(dim)(0.2f)))  // list id beyond nlist bound
    ).toDF("id", "list_id", "vec")
      .select(col("id").cast("long"), col("list_id").cast("int"), col("vec"))
    val hits = sortedHits(TopKAggregator.finalizePartial(
      ListScanTopK(rows, new FlatListScorer(bc, Metric.L2.id), 3), 3, parts = 1))
    assert(hits.map(_._2) === Seq(10L))
    bc.destroy()
  }

  test("k above the heap threshold takes the heap buffer and matches the array path") {
    val params = SearchParams(k = PartialTopK.HeapThreshold + 10, nprobe = 8)
    val static = sortedHits(flat.searchBatch(queries.take(3).toArray, params))
    val exact = sortedHits(flat.searchExact(queriesDF(queries.take(3)),
      PartialTopK.HeapThreshold + 10))
    assert(static === exact)
  }

  test("pq static scorer matches the distributed pq join path (adc + rerank)") {
    val pq = IvfPqIndex.build(spark, vectorsDF(corpus), nlist = 8, m = 4)
    for (rerank <- Seq(0, 20)) {
      val params = SearchParams(k = 6, nprobe = 8)
      val static = sortedHits(pq.searchBatch(queries.toArray, params, rerank))
      val join = sortedHits(pq.searchJoin(queriesDF(queries), params, rerank))
      assert(static === join, s"rerankK=$rerank")
    }
  }

  test("randomized equivalence sweep: static = join across shapes, = exact at full probe") {
    for {
      (nlist, seed) <- Seq((4, 1), (16, 2), (32, 3))
      metric <- Seq(Metric.L2, Metric.InnerProduct, Metric.Cosine)
    } {
      val n = 200 + seed * 37
      val idx = IvfFlatIndex.build(spark, vectorsDF(randomVectors(n, dim, seed)), nlist,
        metric = metric)
      val qs = randomVectors(11 + seed, dim, seed = seed + 500)
        .map { case (i, v) => (i + 5000L, v) }
      for (nprobe <- Seq(1, nlist / 2 + 1, nlist)) {
        val params = SearchParams(k = 4 + seed, nprobe = nprobe)
        val static = sortedHits(idx.searchBatch(qs.toArray, params))
        val join = sortedHits(idx.searchJoin(queriesDF(qs), params))
        assert(static === join, s"nlist=$nlist metric=$metric nprobe=$nprobe")
        if (nprobe == nlist) {
          val exact = sortedHits(idx.searchExact(queriesDF(qs), 4 + seed))
          assert(static === exact, s"nlist=$nlist metric=$metric full-probe vs exact")
        }
      }
    }
  }

  test("self-join duplicates split across flush fragments still collapse at merge") {
    val s = spark
    import s.implicits._
    // every vector probes BOTH lists -> every pair is a double-scored
    // duplicate; maxKeys=1 forces a flush after (nearly) every row so the
    // duplicate's two inserts land in different partial fragments and the
    // final TopKBuf merge must drop the copy
    val vecs = (0 until 12).map(i => (i.toLong, Array.fill(dim)(i.toFloat)))
    val pairs = vecs.flatMap { case (id, _) => Seq((id, 0), (id, 1)) }.toArray
    val bc = spark.sparkContext.broadcast(ProbeIndex(vecs.toArray, pairs, 2))
    val exploded = vecs.flatMap { case (id, v) => Seq((id, 0, v), (id, 1, v)) }
      .toDF("id", "list_id", "vec")
      .select(col("id").cast("long"), col("list_id").cast("int"), col("vec"))
    def run(maxKeys: Int) = TopKAggregator.finalizePartial(
      ListScanTopK(exploded, new FlatListScorer(bc, Metric.L2.id, excludeSelf = true),
        5, maxKeys), 5, parts = 1)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val fragmented = run(1)
    val whole = run(Int.MaxValue)
    assert(fragmented === whole)
    // k=5 with 11 candidates per query: a surviving duplicate would show
    // as the same id twice within one query's top-5
    whole.groupBy(_._1).foreach { case (q, hits) =>
      assert(hits.map(_._3).distinct.length === hits.length, s"dup id in top-k of $q")
    }
    bc.destroy()
  }

  test("empty corpus and empty probe index both yield empty results, not errors") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Int, Array[Float])].toDF("id", "list_id", "vec")
      .select(col("id").cast("long"), col("list_id").cast("int"), col("vec"))
    val batch = Array((1L, Array.fill(dim)(0f)))
    val bc = spark.sparkContext.broadcast(ProbeIndex(batch, Array((1L, 0)), 4))
    assert(TopKAggregator.finalizePartial(
      ListScanTopK(empty, new FlatListScorer(bc, Metric.L2.id), 3), 3, parts = 1).count() === 0)
    // probe index with zero queries: every row skips (null listPos everywhere)
    val bcEmpty = spark.sparkContext.broadcast(
      ProbeIndex(Array.empty[(Long, Array[Float])], Array.empty[(Long, Int)], 4))
    val rows = Seq((10L, 0, Array.fill(dim)(1f))).toDF("id", "list_id", "vec")
      .select(col("id").cast("long"), col("list_id").cast("int"), col("vec"))
    assert(TopKAggregator.finalizePartial(
      ListScanTopK(rows, new FlatListScorer(bcEmpty, Metric.L2.id), 3), 3, parts = 1).count() === 0)
    bc.destroy(); bcEmpty.destroy()
  }

  test("operator plan is valid (no missing-input '!' nodes) and prunes partitions") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lstk").toString
    IvfFlatIndex.writeEpoch(flat.vectors, s"$tmp/vectors")
    val epochIdx = new IvfFlatIndex(
      spark, IvfFlatIndex.readEpoch(spark, s"$tmp/vectors"), flat.centroids, Metric.L2)
    // with its lists resident, only a predicate search still plans the
    // list-scan operator over the pruned parquet scan
    epochIdx.keepResident()
    val batch = queries.take(2).toArray
    val params = SearchParams(k = 3, nprobe = 2)
    assert(epochIdx.searchBatch(batch, params).queryExecution.executedPlan
      .toString.contains("ResidentTopK"))
    val df = epochIdx.searchBatch(batch, params, Some(col("id") >= 0))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.startsWith("!") && !plan.contains("\n!"),
      s"invalid node in plan:\n$plan")
    assert(plan.contains("ListScanTopK"), s"operator missing from plan:\n$plan")
    assert(plan.contains("PartitionFilters: [list_id"), s"no static pruning:\n$plan")
    df.collect() // executes cleanly
    epochIdx.releaseResident()
  }
}
