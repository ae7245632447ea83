package graft.functions

/**
 * Tight primitive-array kernels, called both from interpreted `eval` and
 * from generated code (static method call keeps whole-stage codegen spans
 * intact). Distances accumulate in Double, sequentially over the array —
 * the same left-to-right order DuckDB's list arithmetic uses, so oracle
 * results are bit-identical.
 *
 * Semantics mirror reference/engine/kernels.cuh:
 *  - l2: squared L2, no sqrt (:36-47)
 *  - ip: negated dot product (:50-60)
 *  - cosine: 1 - dot/(sqrt(na)*sqrt(nb) + 1e-8) (:63-80)
 *  - normalize: v * 1/sqrt(||v||^2 + 1e-8) (:357-385)
 */
object VectorKernels {

  final val METRIC_L2 = 0
  final val METRIC_IP = 1
  final val METRIC_COSINE = 2

  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  def ip(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      s += a(i).toDouble * b(i).toDouble
      i += 1
    }
    -s
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    1.0 - dot / (math.sqrt(na) * math.sqrt(nb) + 1e-8)
  }

  def distance(a: Array[Float], b: Array[Float], metric: Int): Double =
    metric match {
      case METRIC_IP     => ip(a, b)
      case METRIC_COSINE => cosine(a, b)
      case _             => l2(a, b)
    }

  // Per-thread scratch buffers for [[distanceCols]]: a fresh float[] pair
  // per candidate was the dominant allocation of every rerank/cross-join
  // distance stage (r21 stage profiles: GC-bound scans at 3x their CPU
  // time). Two independent buffers — the operands must never alias. The
  // decoded views are valid only within one distanceCols call.
  private final class Scratch {
    var buf: Array[Float] = null
    def decode(a: org.apache.spark.sql.catalyst.util.ArrayData): Array[Float] = {
      val n = a.numElements()
      if (buf == null || buf.length != n) buf = new Array[Float](n)
      val b = buf
      var i = 0
      while (i < n) { b(i) = a.getFloat(i); i += 1 }
      b
    }
  }
  private val scratchA = ThreadLocal.withInitial[Scratch](() => new Scratch)
  private val scratchB = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** [[distance]] straight off the columnar ArrayData operands through
    * per-thread scratch buffers — same arithmetic (the kernels consume
    * the decoded floats transiently), zero allocation per call once the
    * buffers match the dimensionality. Called from generated code. */
  def distanceCols(
      a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData,
      metric: Int): Double =
    distance(scratchA.get().decode(a), scratchB.get().decode(b), metric)

  /** Sign-bit pack, word `word`: bit b set iff v[word*32 + b] > 0 —
    * operates straight on the columnar ArrayData (no float[] copy).
    * Bits past the array length stay clear, matching the builtin
    * formulation's out-of-bounds element_at -> NULL -> no bit. */
  def signPackWord(v: org.apache.spark.sql.catalyst.util.ArrayData, word: Int): Long = {
    val base = word * 32
    val n = v.numElements()
    var acc = 0L
    var b = 0
    while (b < 32 && base + b < n) {
      if (v.getFloat(base + b) > 0f) acc |= (1L << b)
      b += 1
    }
    acc
  }

  /** Affine whitening: out = W (v - mean), double accumulation, float
    * output. `w` is the d x d matrix flattened row-major. The per-row
    * O(d^2) mat-vec lives here as a compiled loop — a transform-HOF
    * formulation would run interpreted per element. */
  def whiten(v: Array[Float], w: Array[Double], mean: Array[Double]): Array[Float] = {
    val d = mean.length
    // a clear contract failure beats an AIOOBE mid-scan: the transform was
    // fit at dimension d, so a shorter/longer row is corrupt input
    require(v.length == d,
      s"whiten: vector length ${v.length} != transform dimension $d")
    val centered = new Array[Double](d)
    var k = 0
    while (k < d) { centered(k) = v(k).toDouble - mean(k); k += 1 }
    val out = new Array[Float](d)
    var i = 0
    while (i < d) {
      var acc = 0.0
      val base = i * d
      k = 0
      while (k < d) { acc += w(base + k) * centered(k); k += 1 }
      out(i) = acc.toFloat
      i += 1
    }
    out
  }

  /** SQ8 pack: bytes[i] = floor(x_i * scale). With the symmetric scale
    * 127/max|x| ([[graft.pipeline.EmbeddingOps.quantizeInt8]]) every code
    * lands in [-128, 127], so the byte cast is exact — int8 codes at a
    * true 4x fewer scan bytes than fp32. */
  def sq8Pack(v: Array[Float], scale: Double): Array[Byte] = {
    val out = new Array[Byte](v.length)
    var i = 0
    while (i < v.length) {
      out(i) = math.floor(v(i).toDouble * scale).toByte
      i += 1
    }
    out
  }

  /** Distance between a float query and SQ8 codes, dequantizing exactly
    * as the SQL oracle replays it: (code/scale) rounded to FLOAT, then
    * the same sequential-double accumulation as the fp32 kernels. Fused
    * — no scratch float array per pair. */
  def sq8Distance(q: Array[Float], codes: Array[Byte], scale: Double, metric: Int): Double = {
    val n = math.min(q.length, codes.length)
    var i = 0
    metric match {
      case METRIC_IP =>
        var s = 0.0
        while (i < n) {
          s += q(i).toDouble * (codes(i).toDouble / scale).toFloat.toDouble
          i += 1
        }
        -s
      case METRIC_COSINE =>
        var dot = 0.0; var na = 0.0; var nb = 0.0
        while (i < n) {
          val x = q(i).toDouble
          val y = (codes(i).toDouble / scale).toFloat.toDouble
          dot += x * y; na += x * x; nb += y * y
          i += 1
        }
        1.0 - dot / (math.sqrt(na) * math.sqrt(nb) + 1e-8)
      case _ =>
        var s = 0.0
        while (i < n) {
          val d = q(i).toDouble - (codes(i).toDouble / scale).toFloat.toDouble
          s += d * d
          i += 1
        }
        s
    }
  }

  /** Distance against a query resolved by id from a broadcast map (see
    * DistanceToQuery). Codegen-callable; throws on an unknown qid — the
    * candidate stream is built from the same query batch, so a miss is a
    * plan bug, not data. */
  def distanceToQuery(
      vec: org.apache.spark.sql.catalyst.util.ArrayData,
      qid: Long,
      queries: java.util.HashMap[java.lang.Long, Array[Float]],
      metric: Int): Double = {
    val q = queries.get(qid)
    if (q == null) throw new IllegalStateException(s"unknown qid in candidate stream: $qid")
    distance(vec.toFloatArray(), q, metric)
  }

  /** L2-normalize, computing the scale in double then rounding each
    * component back to float (kernels.cuh:357-385 semantics + 1e-8 eps). */
  def normalize(a: Array[Float]): Array[Float] = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val x = a(i).toDouble; s += x * x; i += 1 }
    val inv = 1.0 / math.sqrt(s + 1e-8)
    val out = new Array[Float](a.length)
    i = 0
    while (i < a.length) { out(i) = (a(i).toDouble * inv).toFloat; i += 1 }
    out
  }

  /**
   * Index of the nearest centroid under squared L2 (assignment is always
   * L2 in the reference, kernels.cuh:314-354). Strict `<` comparison means
   * ties keep the lowest centroid index, like the reference's linear scan.
   */
  def argminCentroid(v: Array[Float], centroids: Array[Array[Float]]): Int = {
    var best = 0
    var bestDist = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val d = l2(v, centroids(c))
      if (d < bestDist) { bestDist = d; best = c }
      c += 1
    }
    best
  }

  /**
   * Top-`nprobe` centroid ids by (distance, id) — the coarse-quantizer probe
   * (ivf_flat_index.cpp:298-336). The reference computes probe distances
   * under L2 or IP only (Cosine falls through with dist from L2's default 0
   * accumulator path); we compute the requested metric honestly, documenting
   * the divergence (SURVEY §2.7.9).
   */
  def probeLists(
      v: Array[Float],
      centroids: Array[Array[Float]],
      nprobe: Int,
      metric: Int): Array[Int] = {
    val n = centroids.length
    val k = math.min(nprobe, n)
    if (k <= 0) return Array.emptyIntArray // nprobe<=0 probes nothing
    // bounded insertion buffer, ascending by (dist, id): O(nlist * nprobe)
    // worst case with zero boxing — on the distributed join path this runs
    // per query row against up to nlist=16384 centroids, where the previous
    // full sortBy over boxed (Double, Int) tuples dominated the row cost
    val bufD = new Array[Double](k)
    val bufI = new Array[Int](k)
    var size = 0
    var c = 0
    while (c < n) {
      val d = distance(v, centroids(c), metric)
      // NaN (corrupt centroid, Inf-Inf) must be rejected as TopKBuf
      // does: a NaN accepted while the buffer fills compares false
      // against every later candidate and permanently blocks the tail of
      // the scan — silent recall loss on an otherwise-healthy probe.
      // Centroid ids arrive ascending, so on a tie the incumbent wins.
      if (!java.lang.Double.isNaN(d) && (size < k || d < bufD(size - 1))) {
        var p = size
        while (p > 0 && d < bufD(p - 1)) p -= 1
        val tail = math.min(size, k - 1)
        System.arraycopy(bufD, p, bufD, p + 1, tail - p)
        System.arraycopy(bufI, p, bufI, p + 1, tail - p)
        bufD(p) = d
        bufI(p) = c
        if (size < k) size += 1
      }
      c += 1
    }
    java.util.Arrays.copyOfRange(bufI, 0, size)
  }

  /**
   * Fixed-radius coarse prune (the SQL range-JOIN rewrite's per-query
   * kernel): ids of every list whose covering ball intersects the query
   * ball — list l survives iff sqrt(l2(q, c_l)) <= sqrt(radius) +
   * radii(l). EXACT by the reverse triangle inequality
   * ([[graft.index.IvfFlatIndex.rangeProbe]]'s proof); a NaN covering
   * radius (poisoned by a NaN member) is treated as unbounded — never
   * prune that list (rangeProbe's guard). A negative radius makes
   * sqrt(radius) NaN, every comparison false, and only NaN-radius lists
   * survive — their pairs then fail the retained `dist <= r` predicate,
   * so the rewrite stays exact there too. Ascending list ids. L2 only:
   * the bound needs a true metric.
   */
  def rangeProbeLists(
      q: Array[Float],
      centroids: Array[Array[Float]],
      radii: Array[Double],
      radius: Double): Array[Int] = {
    val r = math.sqrt(radius)
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    var l = 0
    while (l < centroids.length) {
      if (radii(l).isNaN || math.sqrt(l2(q, centroids(l))) <= r + radii(l))
        out += l
      l += 1
    }
    out.result()
  }

  /** L2 norm (with sqrt, unlike [[l2]]'s squared distance). */
  def norm(a: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val x = a(i).toDouble; s += x * x; i += 1 }
    math.sqrt(s)
  }

  /**
   * Squared-L2 radius implied by `cosine_distance(a, b) <= r` when BOTH
   * vectors' norms lie within [1−tol, 1+tol] — the cosine→L2 bridge the
   * SQL range rewrites use over unit-norm-attested tables
   * ([[graft.plans.SqlAnn.Registration]].unitNorm). At exact unit norms
   * 1−cos = ‖a−b‖²/2, so the bound is 2r; the tol terms make it
   * CONSERVATIVE (never under — an under-bound would falsely dismiss):
   * with n₁,n₂ ∈ [1−tol, 1+tol] and cosine's +1e-8 denominator epsilon,
   *   ‖a−b‖² = n₁² + n₂² − 2(1−cdist)(n₁n₂ + ε)
   *          ≤ 2(1+tol)² − 2(1−r)·(1−tol)²            for r ≤ 1
   *          ≤ 2(1+tol)² − 2(1−r)·((1+tol)² + ε)      for r > 1
   * (minimize the subtracted dot bound over the norm box; the sign of
   * 1−r picks which corner). ≈ 2r + 8·tol of slack on the squared
   * distance — a sliver of extra candidate lists, zero dismissals.
   */
  def cosineL2Bound(r: Double, tol: Double): Double = {
    val hi = (1.0 + tol) * (1.0 + tol)
    val lo = (1.0 - tol) * (1.0 - tol)
    if (r <= 1.0) 2.0 * (hi - (1.0 - r) * lo)
    else 2.0 * hi - 2.0 * (1.0 - r) * (hi + 1e-8)
  }

  /** Additive keep-bound slack for the COSINE PQ range refinement
    * (round 19): the flat cosine kernel divides by `nv·nq + ε` while the
    * ADC query prep normalizes each side with ε INSIDE the sqrt, so for
    * norms in [1−tol, 1+tol] the two cosines differ by at most
    * `cosK·(1 − ρ)` with
    *
    * {{{
    *   ρ = (nv·nq + ε) / (√(nv²+ε)·√(nq²+ε)) ≥ (lo² + ε)/(hi² + ε)
    * }}}
    *
    * (numerator minimized, denominator maximized over the box; AM–GM
    * gives ρ ≤ 1 so the slack is one-sided) and `cosK ≤ 1`. The keep
    * test `adc ≤ r + slack + maxErr` then admits a superset of the true
    * matches ON near-unit-norm rows — out-of-tolerance STORED rows are
    * poisoned to +∞ err by the meta pass, and out-of-tolerance QUERY
    * rows keep unconditionally, because for tiny norms the two
    * denominators diverge arbitrarily and no decode-error term can see
    * that. ≈ 4·tol of slack: a sliver of extra kept lists, zero
    * dismissals. */
  def cosineKeepSlack(tol: Double): Double = {
    val hi = (1.0 + tol) * (1.0 + tol)
    val lo = (1.0 - tol) * (1.0 - tol)
    1.0 - lo / (hi + 1e-8)
  }

  /** [[rangeProbeLists]] for a COSINE bound over a unit-norm-attested
    * table: prune through the L2 bridge when this query vector really is
    * unit-norm (within tol); a degenerate row (near-zero input vector —
    * normalize's 1e-8 regularizer emits sub-unit norms for those) keeps
    * EVERY list, because the bridge bound doesn't hold for it — per-row
    * exactness, never a false dismissal. */
  def cosineRangeProbeLists(
      q: Array[Float],
      centroids: Array[Array[Float]],
      radii: Array[Double],
      radius: Double,
      tol: Double): Array[Int] =
    if (math.abs(norm(q) - 1.0) > tol) Array.range(0, centroids.length)
    else rangeProbeLists(q, centroids, radii, cosineL2Bound(radius, tol))

  /**
   * [[rangeProbeLists]] for an INNER-PRODUCT bound: `ip_distance(v, q)
   * = −v·q ≤ r` ⟺ `v·q ≥ −r`. IP is not a metric, so there is no
   * covering ball in IP "space" — but every member of list l lies in
   * the L2 ball (c_l, R_l) by the covering-radius contract, and
   * Cauchy–Schwarz bounds the dot over that ball:
   *
   *   v·q = c_l·q + (v − c_l)·q  ≤  c_l·q + ‖v − c_l‖·‖q‖
   *                              ≤  c_l·q + R_l·‖q‖.
   *
   * A list can therefore hold a match ONLY IF
   * `c_l·q + R_l·‖q‖ ≥ −r` — an EXACT prune (the bound is the true
   * maximum of v·q over the covering ball; no false dismissals), the
   * standard ball bound from the MIPS-pruning literature and beyond
   * anything the reference expresses (its range path is L2-only). A NaN
   * covering radius is kept (same poisoning guard as L2). A NaN query
   * component makes every comparison false and prunes every list —
   * correct: every ip_distance is then NaN and the retained predicate
   * matches nothing. A zero query prunes exactly when r < 0, matching
   * `−0·v = 0 ≤ r` exactly. Ascending list ids.
   */
  def ipRangeProbeLists(
      q: Array[Float],
      centroids: Array[Array[Float]],
      radii: Array[Double],
      radius: Double): Array[Int] = {
    val qn = norm(q)
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    var l = 0
    while (l < centroids.length) {
      // ip() is the NEGATED dot (D2), so c·q = −ip(q, c)
      if (radii(l).isNaN || -ip(q, centroids(l)) + radii(l) * qn >= -radius)
        out += l
      l += 1
    }
    out.result()
  }
}
