package graft.index

/**
 * Mutable bounded top-k buffer: keeps the k smallest (dist, id) pairs,
 * rejects NaN (it would win every `<` slot; Window sorts it last), and
 * collapses exact (dist, id) duplicates. Top-k is over the candidate SET:
 * a multi-probe self-join scores a pair once per shared list and the
 * copies must not crowd out real neighbors; for every other producer
 * (unique (qid, id) streams) the duplicate check never fires.
 *
 * Top-k under the total order (dist, id) is set-determined, so insertion
 * order never changes the final contents — safe for partial/merge
 * aggregation in any partitioning.
 *
 * The representation is chosen from k:
 *  - k <= [[PartialTopK.HeapThreshold]]: two k-sized primitive arrays kept
 *    sorted ascending — the JVM twin of the reference's per-thread top-32
 *    insertion-sorted register buffer (reference
 *    engine/kernels.cuh:120-170). The common reject is one comparison
 *    against the current worst; an accept is a binary search plus an
 *    arraycopy shift. The binary search lands AFTER an equal (dist, id)
 *    entry, so an exact duplicate is always at the slot before it.
 *  - above it: a binary max-heap on (dist, id) over lazily grown arrays.
 *    The sorted insert's O(size) shift would make a rerank-all search
 *    (k >= candidate count, used to make the exact-rerank oracle
 *    exhaustive) cost O(n^2/4) element moves per query; the heap keeps
 *    accepts at O(log n) and pays one in-place heapsort at [[drain]]. A
 *    heap cannot find a duplicate in place, so a companion id → dist map
 *    mirrors the kept set and is probed only on the ACCEPT path. It keys
 *    on id alone, so it detects duplicates whose distance matches the kept
 *    entry — true for every real producer, where distance is a
 *    deterministic function of (qid, id).
 *
 * Zero allocation per candidate on the array side.
 */
final class TopKBuf(val k: Int) {
  private val heap = k > PartialTopK.HeapThreshold
  private var dists = new Array[Double](if (heap) math.min(k, 32) else k)
  private var ids = new Array[Long](dists.length)
  private var n = 0
  /** Heap side: id → dist of the kept entries. Starts small and rehashes
    * as it fills, so a producer supplying far fewer than k candidates
    * (the rerank-preK flood shape) pays no k-proportional table. */
  private val kept =
    if (heap) new java.util.HashMap[java.lang.Long, java.lang.Double](32) else null

  def size: Int = n

  def insert(d: Double, id: Long): TopKBuf = {
    if (!d.isNaN) { if (heap) heapInsert(d, id) else sortedInsert(d, id) }
    this
  }

  /** Arranges the kept entries ascending by (dist, id); read them back
    * with [[dist]] and [[id]] over [0, size). On the heap side this
    * consumes the heap: no insert or second drain may follow. */
  def drain(): TopKBuf = {
    if (heap) heapSort()
    this
  }

  def dist(j: Int): Double = dists(j)
  def id(j: Int): Long = ids(j)

  /** Merge another buffer in (S5 k-way merge); drains `o`. The reference
    * semantics the partial/final operators are tested against. */
  def merge(o: TopKBuf): TopKBuf = {
    o.drain()
    var j = 0
    while (j < o.n) { insert(o.dists(j), o.ids(j)); j += 1 }
    this
  }

  /** (d1, i1) orders strictly after (d2, i2)? */
  @inline private def gt(d1: Double, i1: Long, d2: Double, i2: Long): Boolean =
    d1 > d2 || (d1 == d2 && i1 > i2)

  private def sortedInsert(d: Double, id: Long): Unit = {
    if (n == k && !gt(dists(n - 1), ids(n - 1), d, id)) return
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (gt(dists(mid), ids(mid), d, id)) hi = mid else lo = mid + 1
    }
    if (lo > 0 && dists(lo - 1) == d && ids(lo - 1) == id) return
    val tail = math.min(n, k - 1) // last slot falls off when full
    System.arraycopy(dists, lo, dists, lo + 1, tail - lo)
    System.arraycopy(ids, lo, ids, lo + 1, tail - lo)
    dists(lo) = d
    ids(lo) = id
    if (n < k) n += 1
  }

  private def heapInsert(d: Double, id: Long): Unit = {
    // full: accept only if strictly better than the worst kept (the root)
    if (n == k && !gt(dists(0), ids(0), d, id)) return
    val prev = kept.get(id)
    if (prev != null && prev.doubleValue() == d) return
    if (n == k) {
      kept.remove(ids(0))
      kept.put(id, d)
      dists(0) = d
      ids(0) = id
      siftDown(0, n)
    } else {
      kept.put(id, d)
      if (n == dists.length) {
        val cap = math.min(k, n << 1)
        dists = java.util.Arrays.copyOf(dists, cap)
        ids = java.util.Arrays.copyOf(ids, cap)
      }
      dists(n) = d
      ids(n) = id
      n += 1
      siftUp(n - 1)
    }
  }

  private def siftUp(start: Int): Unit = {
    var i = start
    while (i > 0) {
      val p = (i - 1) >>> 1
      if (gt(dists(i), ids(i), dists(p), ids(p))) { swap(i, p); i = p }
      else return
    }
  }

  private def siftDown(start: Int, end: Int): Unit = {
    var i = start
    while (true) {
      val l = 2 * i + 1
      if (l >= end) return
      val r = l + 1
      var m = l
      if (r < end && gt(dists(r), ids(r), dists(l), ids(l))) m = r
      if (gt(dists(m), ids(m), dists(i), ids(i))) { swap(i, m); i = m }
      else return
    }
  }

  @inline private def swap(a: Int, b: Int): Unit = {
    val d = dists(a); dists(a) = dists(b); dists(b) = d
    val i = ids(a); ids(a) = ids(b); ids(b) = i
  }

  /** In-place heapsort: consumes the heap property, leaves [0, size)
    * ascending. */
  private def heapSort(): Unit = {
    var m = n
    while (m > 1) {
      m -= 1
      swap(0, m)
      siftDown(0, m)
    }
  }
}
