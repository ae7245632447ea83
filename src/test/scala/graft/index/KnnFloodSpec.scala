package graft.index

import graft.{Metric, SparkSpec}
import graft.functions.VectorKernels

/**
 * Pins the r21 exact-kNN flood shape: above the broadcast gate AND above
 * MaxStaticBatch the plan must route through CoGroupTopK's co-partition
 * loops (no per-pair candidate rows in generated code, no cartesian /
 * nested-loop join), with the scoring parallelism derived from plan
 * stats — and the results must stay bit-identical to plain brute force.
 */
class KnnFloodSpec extends SparkSpec {

  private val k = 5

  private def sortedKeys(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "id", "dist", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))

  test("flood above gate + MaxStaticBatch is bit-identical to brute force via the cogroup scan") {
    val corpus = randomVectors(400, 8, seed = 5)
    val queries = randomVectors(IvfFlatIndex.MaxStaticBatch + 80, 8, seed = 9)
    val expected = queries.flatMap { case (qid, qv) =>
      corpus.map { case (id, v) =>
        (qid, id, VectorKernels.distance(v, qv, Metric.L2.id))
      }.sortBy(t => (t._3, t._2)).take(k)
        .zipWithIndex.map { case ((_, id, d), i) => (qid, i + 1, id, d) }
    }.sortBy(t => (t._1, t._2)).toArray
    val conf = spark.conf
    val key = Sizing.BroadcastGateKey
    val old = conf.getOption(key)
    try {
      conf.set(key, "1") // force the above-gate branch
      val df = Knn.exact(queriesDF(queries), vectorsDF(corpus), k)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
        "flood must not materialize per-pair candidate rows through a join")
      assert(sortedKeys(df) === expected)
    } finally old.fold(conf.unset(key))(conf.set(key, _))
  }

  test("floodParts derives from the query x corpus byte product, clamped to the session cap") {
    val cap = spark.sessionState.conf.numShufflePartitions
    val q = queriesDF(randomVectors(50, 8))
    val v = vectorsDF(randomVectors(300, 8, seed = 7))
    val small = Sizing.floodParts(spark, Sizing.bytes(q), Sizing.bytes(v))
    assert(small >= 1 && small <= cap)
    // KB x KB product stays far under one TargetPairBytes bucket -> 1 task
    assert(small === 1, s"tiny flood must not fan out (got $small)")
    // derivation math at scale (pure function of the bytes product):
    // 1 GB x 1 GB of pair-bytes wants ~2.5M buckets -> clamped to cap
    val gb = BigInt(1L << 30)
    val want = (gb * gb + Sizing.TargetPairBytes - 1) / Sizing.TargetPairBytes
    assert(want > cap)
    assert(Sizing.floodParts(spark, gb, gb) === cap)
    // between the two: exactly ceil(product / TargetPairBytes)
    val mid = Sizing.TargetPairBytes * 2 + 1
    assert(Sizing.floodParts(spark, mid, 1) === math.min(cap, 3))
  }
}
