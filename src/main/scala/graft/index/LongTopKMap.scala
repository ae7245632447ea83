package graft.index

/**
 * Open-addressing map from primitive `long` query id to [[TopKBuf]] for the
 * partial top-k combine — the hot loop touches this once per candidate row,
 * so the boxed-key `java.util.HashMap[Long, _]` it replaces was one
 * `java.lang.Long` allocation per lookup across tens of millions of rows.
 * Linear probing over parallel primitive/ref arrays; a null value slot IS
 * the empty marker, so any key value (including 0) is valid.
 *
 * Not thread-safe; one instance per partition-task.
 */
final class LongTopKMap(initialCapacity: Int, maxKeys: Int) {
  require(maxKeys > 0, s"maxKeys must be positive, got $maxKeys")

  private var cap = Integer.highestOneBit(
    math.max(8, math.min(initialCapacity, maxKeys)) * 2 - 1) * 2
  private var mask = cap - 1
  private var keys = new Array[Long](cap)
  private var vals = new Array[TopKBuf](cap)
  private var n = 0

  def size: Int = n

  /** Mix the key's entropy across bits (qids are often sequential). */
  @inline private def slot(k: Long): Int = {
    val h = k * 0x9E3779B97F4A7C15L
    ((h >>> 32) ^ h).toInt & mask
  }

  def get(k: Long): TopKBuf = {
    var i = slot(k)
    while (vals(i) != null) {
      if (keys(i) == k) return vals(i)
      i = (i + 1) & mask
    }
    null
  }

  /** Caller must ensure the key is absent. `maxKeys` is the caller's FLUSH
    * budget, not a hard capacity: a caller that inserts several keys
    * between flush checks ([[PartialTopKCombine]] under a list scan scores
    * one corpus row against a whole list's queries) may overshoot it by one batch, so capacity
    * always follows `n` — a full table would turn the linear probe into an
    * infinite loop. */
  def put(k: Long, v: TopKBuf): Unit = {
    var i = slot(k)
    while (vals(i) != null) i = (i + 1) & mask
    keys(i) = k
    vals(i) = v
    n += 1
    // keep load factor <= 0.5 so probe chains stay short
    if (n * 2 > cap) grow()
  }

  private def grow(): Unit = {
    val oldKeys = keys
    val oldVals = vals
    cap <<= 1
    mask = cap - 1
    keys = new Array[Long](cap)
    vals = new Array[TopKBuf](cap)
    var i = 0
    while (i < oldVals.length) {
      val v = oldVals(i)
      if (v != null) {
        var j = slot(oldKeys(i))
        while (vals(j) != null) j = (j + 1) & mask
        keys(j) = oldKeys(i)
        vals(j) = v
      }
      i += 1
    }
  }

  /** Snapshot entries into an array (for the flush drain) and clear. */
  def drain(): Array[(Long, TopKBuf)] = {
    val out = new Array[(Long, TopKBuf)](n)
    var i = 0
    var o = 0
    while (i < vals.length) {
      if (vals(i) != null) {
        out(o) = (keys(i), vals(i))
        vals(i) = null
        o += 1
      }
      i += 1
    }
    n = 0
    out
  }
}
