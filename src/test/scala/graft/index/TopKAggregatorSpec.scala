package graft.index

import graft.SparkSpec

class TopKAggregatorSpec extends SparkSpec {

  test("aggregator top-k equals the Window top-k exactly (order, ranks, dists)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val scored = (0 until 5000).map { _ =>
      (rnd.nextInt(7).toLong, rnd.nextInt(2000).toLong, rnd.nextInt(50).toDouble)
    }.toDF("qid", "id", "dist")
      .dropDuplicates("qid", "id") // ranks are only comparable on unique pairs
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2))
    val win = Knn.topKPerQuery(scored, 10).select("qid", "id", "dist", "rank")
      .collect().map(key).sortBy(x => (x._1, x._2))
    val agg = TopKAggregator.topKPerQuery(scored, 10)
      .collect().map(key).sortBy(x => (x._1, x._2))
    assert(agg === win)
  }

  test("finalizePartial sizes its merge fan-out from the partial plan's stats (r21)") {
    val s = spark
    import s.implicits._
    val partial = Seq((1L, 2L, 0.5), (2L, 3L, 0.25), (1L, 4L, 0.75))
      .toDF("_1", "_2", "_3")
    def mergeCount(df: org.apache.spark.sql.DataFrame): Option[Int] =
      df.queryExecution.logical.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
          r.optNumPartitions
      }.head
    // KB-scale partial -> ONE merge partition: no maps x session-cap
    // shuffle-file matrix for a handful of rows
    assert(mergeCount(TopKAggregator.finalizePartial(partial, 2)) === Some(1))
    // an explicit caller bound wins (clamped to the session cap)
    assert(mergeCount(TopKAggregator.finalizePartial(partial, 2, parts = 3)) === Some(3))
    val cap = spark.sessionState.conf.numShufflePartitions
    assert(mergeCount(
      TopKAggregator.finalizePartial(partial, 2, parts = cap + 100)) === Some(cap))
    // results are partition-count-invariant
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2))
    val a = TopKAggregator.finalizePartial(partial, 2).collect().map(key).sorted
    val b = TopKAggregator.finalizePartial(partial, 2, parts = 3)
      .collect().map(key).sorted
    assert(a === b)
    // mergePartsFor pins the query-side bound formula
    val q = Seq((1L, Array(1f, 2f))).toDF("qid", "qvec")
    val qB = q.queryExecution.optimizedPlan.stats.sizeInBytes
    val expect = ((qB * 7 * 3 / 5 + TopKAggregator.MergeTargetBytes - 1) /
      TopKAggregator.MergeTargetBytes)
      .min(BigInt(cap)).max(BigInt(1)).toInt
    assert(TopKAggregator.mergePartsFor(q, 7) === expect)
  }

  test("aggregator keeps the (dist, id) tie order and the k bound") {
    val s = spark
    import s.implicits._
    val ties = Seq(
      (1L, 30L, 1.0), (1L, 10L, 1.0), (1L, 20L, 1.0), (1L, 5L, 0.5))
      .toDF("qid", "id", "dist")
    val res = TopKAggregator.topKPerQuery(ties, 3).orderBy("rank").collect()
    assert(res.map(_.getLong(1)).toSeq === Seq(5L, 10L, 20L)) // dist, then id
    assert(res.map(_.getInt(3)).toSeq === Seq(1, 2, 3))
  }

  test("NaN distances never rank (they would win every ordLt comparison)") {
    val s = spark
    import s.implicits._
    val scored = Seq(
      (1L, 10L, 0.5), (1L, 11L, Double.NaN), (1L, 12L, 0.3))
      .toDF("qid", "id", "dist")
    val agg = TopKAggregator.topKPerQuery(scored, 2).orderBy("rank").collect()
    assert(agg.map(_.getLong(1)).toSeq === Seq(12L, 10L))
    val win = Knn.topKPerQuery(scored, 2).orderBy("rank").collect()
    assert(win.map(_.getLong(1)).toSeq === Seq(12L, 10L))
  }

  test("partial-stage key-budget flushes leave results identical to Window") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    // 400 distinct qids against a 5-key budget -> dozens of mid-partition
    // flushes; the final merge must reassemble exactly the Window answer
    val scored = (0 until 6000).map { _ =>
      (rnd.nextInt(400).toLong, rnd.nextInt(3000).toLong, rnd.nextInt(40).toDouble)
    }.toDF("qid", "id", "dist").dropDuplicates("qid", "id")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2))
    val win = Knn.topKPerQuery(scored, 7).select("qid", "id", "dist", "rank")
      .collect().map(key).sortBy(x => (x._1, x._2))
    val agg = TopKAggregator.topKPerQuery(scored, 7, maxPartialKeys = 5)
      .collect().map(key).sortBy(x => (x._1, x._2))
    assert(agg === win)
  }

  test("buffer never exceeds k during insert/merge") {
    def dists(b: TopKBuf) = { b.drain(); (0 until b.size).map(b.dist) }
    val buf = (1 to 100).foldLeft(new TopKBuf(3))((b, i) => b.insert(i.toDouble, i.toLong))
    assert(buf.size === 3)
    assert(dists(buf) === Seq(1.0, 2.0, 3.0))
    val merged = buf.merge(
      (101 to 200).foldLeft(new TopKBuf(3))((b, i) => b.insert(-i.toDouble, i.toLong)))
    assert(merged.size === 3)
    assert(dists(merged) === Seq(-200.0, -199.0, -198.0))
  }
}
