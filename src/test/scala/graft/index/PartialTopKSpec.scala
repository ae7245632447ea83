package graft.index

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class LongTopKMapSpec extends AnyFunSuite {

  private def one(k: Int, d: Double, id: Long) = new TopKBuf(k).insert(d, id)

  test("put/get round-trips keys including 0, negatives, and Long extremes") {
    val m = new LongTopKMap(4, 1 << 20)
    val keys = Seq(0L, -1L, 1L, Long.MaxValue, Long.MinValue, 42L)
    keys.foreach(k => m.put(k, one(3, k.toDouble, k)))
    assert(m.size === keys.size)
    keys.foreach(k => assert(m.get(k).id(0) === k, s"key $k"))
    assert(m.get(999L) === null)
  }

  test("grows past the initial capacity without losing entries") {
    val m = new LongTopKMap(4, 1 << 20)
    val n = 10000
    (0 until n).foreach(i => m.put(i.toLong * 7919, one(1, i, i)))
    assert(m.size === n)
    (0 until n).foreach { i =>
      val buf = m.get(i.toLong * 7919)
      assert(buf != null && buf.id(0) === i, s"entry $i")
    }
  }

  test("drain empties the map and returns every entry exactly once") {
    val m = new LongTopKMap(4, 1 << 20)
    (0 until 100).foreach(i => m.put(i, one(1, i, i)))
    val drained = m.drain()
    assert(drained.map(_._1).sorted.toSeq === (0L until 100L))
    assert(m.size === 0)
    assert(m.get(5L) === null)
    // reusable after drain
    m.put(7L, one(1, 7, 7))
    assert(m.get(7L).id(0) === 7L)
  }

  test("PartialTopKCombine flushes at maxKeys and its fragments re-merge to the per-qid top-k") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.execution.metric.SQLMetric
    val nq = 10
    val k = 3
    // qids interleave, so every qid spans several flushes of a 3-key map
    val cands = (0 until 400).map { i =>
      (i % nq).toLong -> ((i * 7919 % 97).toDouble, i.toLong)
    }
    val rows = cands.iterator.map { case (q, (d, id)) =>
      new GenericInternalRow(Array[Any](q, id, d)): org.apache.spark.sql.catalyst.InternalRow
    }
    val outRows = new SQLMetric("sum")
    val scored = new SQLMetric("sum")
    val combine = new PartialTopKCombine(rows, k, maxKeys = 3, outRows, Some(scored))(
      (r, sink) => sink.insert(r.getLong(0), r.getLong(1), r.getDouble(2)))
    val out = combine.map(r => (r.getLong(0), (r.getDouble(2), r.getLong(1)))).toVector
    assert(out.size > nq * k, "no mid-stream flush: each qid emitted one fragment")
    assert(outRows.value === out.size)
    assert(scored.value === cands.size)
    val expected = cands.groupBy(_._1).map { case (q, cs) => q -> cs.map(_._2).sorted.take(k) }
    val merged = out.groupBy(_._1).map { case (q, cs) => q -> cs.map(_._2).sorted.take(k) }
    assert(merged === expected)
  }
}

class TopKHeapSpec extends AnyFunSuite {

  private val H = PartialTopK.HeapThreshold

  private def drained(b: TopKBuf): Seq[(Double, Long)] = {
    b.drain()
    (0 until b.size).map(j => (b.dist(j), b.id(j)))
  }

  private def sortDistinctTake(k: Int, cands: Seq[(Double, Long)]) =
    cands.filterNot(_._1.isNaN).distinct.sortBy(c => (c._1, c._2)).take(k)

  test("heap keep-set and drain order equal TopKBuf for random streams with ties") {
    // random pairs INCLUDING exact duplicates (distance is a function of
    // id here, so a repeated id repeats its distance — the self-join
    // producer shape): the heap side (k > HeapThreshold) and the array
    // side must agree on the keep-set, the drain order, AND the duplicate
    // collapse
    val rnd = new scala.util.Random(7)
    for (n <- Seq(0, 1, 5, 500, 3000)) {
      val ids = (0 until n).map(_ => rnd.nextInt(4000).toLong) // repeats = dups
      val pairs = ids.map(id => ((id * 7 % 20).toDouble, id))
      for (k <- Seq(1, 2, 7, 64, H, H + 1, 2000)) {
        val buf = new TopKBuf(k)
        pairs.foreach { case (d, id) => buf.insert(d, id) }
        assert(drained(buf) === sortDistinctTake(k, pairs), s"k=$k n=$n")
      }
      // the heap's drain, cut to an array-side k, is that array buffer
      val heap = new TopKBuf(H + 1)
      val arr = new TopKBuf(64)
      pairs.foreach { case (d, id) => heap.insert(d, id); arr.insert(d, id) }
      assert(drained(heap).take(64) === drained(arr), s"n=$n")
    }
  }

  test("TopKHeap drops exact (dist, id) duplicates like TopKBuf (round 7)") {
    // heap side: k above the threshold; `fill` entries at dist 0 stand in
    // for the small k of the array-side twin so the tail runs full
    def heapBuf(kTail: Int): TopKBuf = {
      val b = new TopKBuf(H + kTail)
      (0 until H).foreach(j => b.insert(0.0, -1L - j))
      b
    }
    def tail(b: TopKBuf) = drained(b).drop(H)
    val heap = heapBuf(3)
    heap.insert(1.0, 10L); heap.insert(1.0, 10L); heap.insert(2.0, 20L)
    assert(tail(heap) === Seq((1.0, 10L), (2.0, 20L)))
    // ties on dist with DIFFERENT ids are distinct candidates, kept; a
    // duplicate arriving AFTER an eviction of its twin is a fresh insert
    val h2 = heapBuf(2)
    h2.insert(1.0, 1L); h2.insert(1.0, 2L); h2.insert(1.0, 1L)
    assert(tail(h2) === Seq((1.0, 1L), (1.0, 2L)))
    val h3 = heapBuf(1)
    h3.insert(2.0, 9L) // evicted next
    h3.insert(1.0, 1L); h3.insert(2.0, 9L) // duplicate of the EVICTED entry: rejected on order anyway
    assert(tail(h3) === Seq((1.0, 1L)))
  }

  test("TopKBuf drops exact (dist, id) duplicates — top-k is over the candidate set") {
    val buf = new TopKBuf(3)
    buf.insert(1.0, 10L).insert(1.0, 10L).insert(2.0, 20L)
    assert(drained(buf) === Seq((1.0, 10L), (2.0, 20L)))
    // a duplicate of a NON-adjacent entry also collapses (binary search
    // lands after the equal pair wherever it sits)
    buf.insert(0.5, 5L).insert(1.0, 10L)
    assert(drained(buf) === Seq((0.5, 5L), (1.0, 10L), (2.0, 20L)))
    // ties on dist with DIFFERENT ids are distinct candidates, kept
    val tied = new TopKBuf(3)
    tied.insert(1.0, 1L).insert(1.0, 2L).insert(1.0, 1L)
    assert(drained(tied) === Seq((1.0, 1L), (1.0, 2L)))
    // merge (S5) also collapses duplicates arriving from another partition
    val other = new TopKBuf(3).insert(1.0, 1L).insert(0.1, 9L)
    tied.merge(other)
    assert(drained(tied) === Seq((0.1, 9L), (1.0, 1L), (1.0, 2L)))
  }

  test("NaN never enters; k larger than the stream keeps everything sorted") {
    for (k <- Seq(1000, H + 1, 2000)) {
      val b = new TopKBuf(k)
      b.insert(Double.NaN, 1L)
      assert(b.size === 0, s"k=$k")
      Seq(3.0 -> 3L, 1.0 -> 1L, 2.0 -> 2L).foreach { case (d, i) => b.insert(d, i) }
      assert(drained(b).map(_._2) === Seq(1L, 2L, 3L), s"k=$k")
    }
    // past the heap's initial capacity: lazy growth keeps every entry
    val grown = new TopKBuf(2000)
    val stream = new scala.util.Random(11).shuffle((0 until 700).map(i => (i.toDouble, i.toLong)))
    stream.foreach { case (d, i) => grown.insert(d, i); grown.insert(Double.NaN, i) }
    assert(drained(grown) === stream.sorted)
  }
}

class PartialTopKSpec extends SparkSpec {

  private def candidates(nq: Int, perQ: Int) = {
    // deterministic scored stream with shuffled-ish dist order
    spark.range(nq.toLong * perQ).select(
      (col("id") % nq).as("qid"),
      col("id").as("id"),
      (pmod(col("id") * 2654435761L, lit(100000)) / lit(10.0)).as("dist"))
  }

  private def windowTopK(scored: org.apache.spark.sql.DataFrame, k: Int) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("qid").orderBy(col("dist").asc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("qid", "id", "dist", "rank")
  }

  test("operator top-k equals the Window reference on a multi-partition stream") {
    val scored = candidates(97, 500).repartition(7)
    val a = TopKAggregator.topKPerQuery(scored, 10, mergeParts = 1)
    val b = windowTopK(scored, 10)
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  test("large k (heap path) equals the Window reference") {
    val scored = candidates(11, 400).repartition(3)
    val a = TopKAggregator.topKPerQuery(scored, 2000, mergeParts = 1) // k > HeapThreshold, k > stream
    val b = windowTopK(scored, 2000)
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  test("a tiny flush budget (mid-partition drains) changes nothing") {
    val scored = candidates(97, 200).repartition(3)
    val tight = TopKAggregator.topKPerQuery(scored, 5, mergeParts = 1, maxPartialKeys = 2)
    val ref = windowTopK(scored, 5)
    assert(tight.exceptAll(ref).count() === 0)
    assert(ref.exceptAll(tight).count() === 0)
  }

  test("null qid/id/dist candidates are skipped, not ranked or crashed") {
    val s = spark
    import s.implicits._
    val rows = Seq[(java.lang.Long, java.lang.Long, java.lang.Double)](
      (1L, 10L, 1.0), (1L, 11L, 2.0),
      (null, 12L, 0.1), (1L, null, 0.2), (1L, 13L, null))
      .toDF("qid", "id", "dist")
    val out = TopKAggregator.topKPerQuery(rows, 10, mergeParts = 1).collect()
    assert(out.map(_.getLong(1)).sorted.toSeq === Seq(10L, 11L))
  }

  test("the plan shows PartialTopK with the child scan visible beneath it") {
    val scored = candidates(5, 10)
    val plan = TopKAggregator.topKPerQuery(scored, 3, mergeParts = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartialTopK"))
    assert(plan.contains("Range")) // the child source survives in the same tree
  }
}
