package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshims
import org.apache.spark.sql.types._

/**
 * Product-quantization kernels (reference engine/kernels.cuh:186-312 —
 * declared in the reference's host API but never wired there; implemented
 * for real here). Codebooks are `(m)(ks)(dsub)`; a code is `m` bytes;
 * the ADC table for a query is `m x ks` squared-L2 distances between each
 * query subvector and each codeword; a candidate's distance is the sum of
 * `m` table lookups.
 */
object PqKernels {

  /** Nearest-codeword index per subspace (encode, kernels.cuh analog). */
  def encode(v: Array[Float], codebooks: Array[Array[Array[Float]]]): Array[Byte] = {
    val m = codebooks.length
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      val cb = codebooks(s)
      val dsub = cb(0).length
      val off = s * dsub
      var best = 0
      var bestDist = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val cw = cb(c)
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val diff = v(off + i).toDouble - cw(i).toDouble
          d += diff * diff
          i += 1
        }
        if (d < bestDist) { bestDist = d; best = c }
        c += 1
      }
      out(s) = best.toByte
      s += 1
    }
    out
  }

  /**
   * ADC lookup table for one query as raw primitive arrays: [m][ks], per
   * `metric` (reference kernels.cuh:188-223 are L2-only; IP/Cosine are the
   * metric-generic variants its host API declares, ivf_flat_index.h:119-137):
   *
   *  - L2: squared L2 between each query subvector and each codeword;
   *    lookup-sum = ||q - decode(code)||².
   *  - InnerProduct: negated dot per subspace; lookup-sum =
   *    -dot(q, decode(code)) — same ascending order as the flat IP metric.
   *  - Cosine: the query is L2-normalized IN DOUBLES (1/√(‖q‖²+1e-8), the
   *    D4 epsilon), tables are negated dots against the codewords, and the
   *    constant 1 is folded into subspace 0 — lookup-sum =
   *    1 - dot(q̂, decode(code)). REQUIRES codes encoded from normalized
   *    vectors (build(metric = Cosine) does this): then decode(code) ≈ v̂
   *    and the lookup-sum approximates the flat cosine distance 1 - cos.
   */
  def adcTableRaw(
      q: Array[Float],
      codebooks: Array[Array[Array[Float]]],
      metric: Int = VectorKernels.METRIC_L2): Array[Array[Double]] =
    adcTableFromPrepped(prepQuery(q, metric), codebooks, metric)

  /**
   * Query prep shared by the table and direct ADC paths: a doubles copy,
   * L2-normalized for cosine (1/√(‖q‖²+1e-8), the D4 epsilon). Codewords
   * are already float-rounded normalized components; the query stays
   * full-precision, exactly like the flat metric's double accumulation.
   * One definition so the table path and [[adcDistanceDirect]] are
   * bit-identical by construction.
   */
  def prepQuery(q: Array[Float], metric: Int): Array[Double] = {
    val qd = new Array[Double](q.length)
    if (metric == VectorKernels.METRIC_COSINE) {
      var s = 0.0
      var i = 0
      while (i < q.length) { val x = q(i).toDouble; s += x * x; i += 1 }
      val inv = 1.0 / math.sqrt(s + 1e-8)
      i = 0
      while (i < q.length) { qd(i) = q(i).toDouble * inv; i += 1 }
    } else {
      var i = 0
      while (i < q.length) { qd(i) = q(i).toDouble; i += 1 }
    }
    qd
  }

  /** [[adcTableRaw]] over an already-prepped query (see [[prepQuery]]). */
  def adcTableFromPrepped(
      qd: Array[Double],
      codebooks: Array[Array[Array[Float]]],
      metric: Int): Array[Array[Double]] = {
    val m = codebooks.length
    val rows = new Array[Array[Double]](m)
    val cosine = metric == VectorKernels.METRIC_COSINE
    val dot = cosine || metric == VectorKernels.METRIC_IP
    var s = 0
    while (s < m) {
      val cb = codebooks(s)
      val dsub = cb(0).length
      val off = s * dsub
      val row = new Array[Double](cb.length)
      var c = 0
      while (c < cb.length) {
        val cw = cb(c)
        var d = 0.0
        var i = 0
        if (dot) {
          while (i < dsub) { d += qd(off + i) * cw(i).toDouble; i += 1 }
          row(c) = if (cosine && s == 0) 1.0 + -d else -d
        } else {
          while (i < dsub) {
            val diff = qd(off + i) - cw(i).toDouble
            d += diff * diff
            i += 1
          }
          row(c) = d
        }
        c += 1
      }
      rows(s) = row
      s += 1
    }
    rows
  }

  /** Lookup-sum over a raw table, codes as Catalyst ArrayData — the
    * scan-side scorers' table mode (kernels.cuh:280-287). */
  def adcDistanceRaw(table: Array[Array[Double]], codes: ArrayData): Double = {
    var d = 0.0
    val m = codes.numElements()
    var i = 0
    while (i < m) {
      d += table(i)(codes.getByte(i) & 0xff)
      i += 1
    }
    d
  }

  /** [[adcDistanceRaw]] hardened for UNTRUSTED code rows (the SQL
    * surface, where the registered table's codes column is caller data):
    * wrong-length codes or a code byte outside the codebooks' ks return
    * Double.MaxValue — the row ranks LAST in an ascending candidate pool
    * instead of throwing ArrayIndexOutOfBounds at the executor. Same
    * ascending-subspace accumulation as [[adcDistanceRaw]] for
    * well-formed rows, kept HERE so the checked and unchecked variants
    * cannot drift apart. */
  def adcDistanceRawChecked(table: Array[Array[Double]], codes: ArrayData): Double = {
    val m = table.length
    if (codes.numElements() != m) return Double.MaxValue
    var d = 0.0
    var i = 0
    while (i < m) {
      val c = codes.getByte(i) & 0xff
      if (c >= table(i).length) return Double.MaxValue
      d += table(i)(c)
      i += 1
    }
    d
  }

  /** Lookup-sum over a raw table and a plain byte-array code row — the
    * typed-Dataset twin of [[adcDistanceRaw]] for the cogroup flood path,
    * where codes arrive as `Array[Byte]` through the encoder rather than
    * as Catalyst ArrayData. Same accumulation order. */
  def adcDistanceBytes(table: Array[Array[Double]], codes: Array[Byte]): Double = {
    var d = 0.0
    val m = codes.length
    var i = 0
    while (i < m) {
      d += table(i)(codes(i) & 0xff)
      i += 1
    }
    d
  }

  /** [[adcDistanceDirect]] over a plain byte-array code row — the typed
    * twin for the cogroup flood path's buffered codes. Same per-subspace
    * loop and accumulation order as [[adcTableFromPrepped]] + lookup-sum,
    * so the table/direct cutover never changes results. */
  def adcDistanceDirectBytes(
      qd: Array[Double],
      codebooks: Array[Array[Array[Float]]],
      metric: Int,
      codes: Array[Byte]): Double = {
    val m = codebooks.length
    val cosine = metric == VectorKernels.METRIC_COSINE
    val dot = cosine || metric == VectorKernels.METRIC_IP
    var total = 0.0
    var s = 0
    while (s < m) {
      val cb = codebooks(s)
      val dsub = cb(0).length
      val off = s * dsub
      val cw = cb(codes(s) & 0xff)
      var d = 0.0
      var i = 0
      if (dot) {
        while (i < dsub) { d += qd(off + i) * cw(i).toDouble; i += 1 }
        total += (if (cosine && s == 0) 1.0 + -d else -d)
      } else {
        while (i < dsub) {
          val diff = qd(off + i) - cw(i).toDouble
          d += diff * diff
          i += 1
        }
        total += d
      }
      s += 1
    }
    total
  }

  /**
   * Direct per-candidate ADC distance from a prepped query, without a
   * table: per subspace, score ONLY the codeword the code byte names.
   * O(dim) per candidate instead of a 16 KB-per-query table — the join
   * path's above-gate fallback. Bit-identical to the lookup-sum over
   * [[adcTableFromPrepped]]'s rows: same per-subspace inner loop, same
   * ascending-subspace accumulation order.
   */
  def adcDistanceDirect(
      qd: Array[Double],
      codebooks: Array[Array[Array[Float]]],
      metric: Int,
      codes: ArrayData): Double = {
    val m = codebooks.length
    val cosine = metric == VectorKernels.METRIC_COSINE
    val dot = cosine || metric == VectorKernels.METRIC_IP
    var total = 0.0
    var s = 0
    while (s < m) {
      val cb = codebooks(s)
      val dsub = cb(0).length
      val off = s * dsub
      val cw = cb(codes.getByte(s) & 0xff)
      var d = 0.0
      var i = 0
      if (dot) {
        while (i < dsub) { d += qd(off + i) * cw(i).toDouble; i += 1 }
        total += (if (cosine && s == 0) 1.0 + -d else -d)
      } else {
        while (i < dsub) {
          val diff = qd(off + i) - cw(i).toDouble
          d += diff * diff
          i += 1
        }
        total += d
      }
      s += 1
    }
    total
  }

  /** [[adcDistanceDirect]] hardened for UNTRUSTED rows on BOTH sides —
    * the batch-SQL surface, where codes AND query vectors are caller
    * data: wrong-length codes, a code byte outside ks, or a query whose
    * dimension disagrees with the codebooks return Double.MaxValue (the
    * row ranks LAST in an ascending candidate pool, reachable by the
    * exact rerank — the same unified unscorable-row semantics as
    * [[adcDistanceRawChecked]]). Same per-subspace loop and
    * ascending-subspace accumulation as [[adcDistanceDirect]] for
    * well-formed rows, kept HERE so the checked and unchecked direct
    * variants cannot drift apart. */
  def adcDistanceDirectChecked(
      qd: Array[Double],
      codebooks: Array[Array[Array[Float]]],
      metric: Int,
      codes: ArrayData): Double = {
    val m = codebooks.length
    if (codes.numElements() != m) return Double.MaxValue
    // the query dimension must agree EXACTLY (r17 advice): the old
    // per-subspace `off + dsub > qd.length` only caught too-SHORT
    // queries — a LONGER one silently scored a prefix, and for cosine
    // prepQuery had normalized over the FULL length while the prefix was
    // scored, contradicting the documented "dimension disagrees ->
    // MaxValue" contract. Codebooks fix the exact dimension (m uniform
    // subspaces of dsub components — every producer trains them uniform;
    // the per-subspace bound check below stays as the hard guard should
    // that invariant ever break).
    if (m == 0 || qd.length != m * codebooks(0)(0).length)
      return Double.MaxValue
    val cosine = metric == VectorKernels.METRIC_COSINE
    val dot = cosine || metric == VectorKernels.METRIC_IP
    var total = 0.0
    var s = 0
    while (s < m) {
      val cb = codebooks(s)
      val dsub = cb(0).length
      val off = s * dsub
      if (off + dsub > qd.length) return Double.MaxValue
      val c = codes.getByte(s) & 0xff
      if (c >= cb.length) return Double.MaxValue
      val cw = cb(c)
      var d = 0.0
      var i = 0
      if (dot) {
        while (i < dsub) { d += qd(off + i) * cw(i).toDouble; i += 1 }
        total += (if (cosine && s == 0) 1.0 + -d else -d)
      } else {
        while (i < dsub) {
          val diff = qd(off + i) - cw(i).toDouble
          d += diff * diff
          i += 1
        }
        total += d
      }
      s += 1
    }
    total
  }

  /** Decode a PQ code back to its codeword concatenation (for tests). */
  def decode(code: Array[Byte], codebooks: Array[Array[Array[Float]]]): Array[Float] = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val out = new Array[Float](m * dsub)
    var s = 0
    while (s < m) {
      System.arraycopy(codebooks(s)(code(s) & 0xff), 0, out, s * dsub, dsub)
      s += 1
    }
    out
  }
}

/** Encode an ARRAY<FLOAT> vector into m PQ code bytes. */
case class PqEncode(child: Expression, codebooks: Broadcast[Array[Array[Array[Float]]]])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.graftshims.AbstractDataType] =
    Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(
      PqKernels.encode(v.asInstanceOf[ArrayData].toFloatArray(), codebooks.value))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("pqCodebooks", codebooks,
      classOf[Broadcast[Array[Array[Array[Float]]]]].getName)
    // per-task deref, not per row: TorrentBroadcast.getValue() is
    // synchronized (see ArgMinCentroid) and encode runs over every corpus
    // row of a PQ build
    val cb = ctx.addMutableState("float[][][]", "pqBooks",
      v => s"$v = (float[][][]) $bc.value();")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.PqKernels.encode($v.toFloatArray(), $cb));")
  }

  override protected def withNewChildInternal(c: Expression): PqEncode = copy(child = c)
}

/**
 * ADC lookup-sum distance of a PQ code column against ONE query vector
 * known at plan time (the SQL ANN surface's PQ path,
 * [[graft.plans.SqlAnn]]): the m x ks table is built LAZILY per
 * deserialized instance — once per task, never per row — from the
 * broadcast codebooks and the embedded query floats (dim floats ride the
 * serialized expression; the 32 KB-at-m=16/ks=256 table never ships).
 * Bit-identical to the facade's batch path for well-formed rows by
 * construction: same [[PqKernels.adcTableRaw]] rows, same
 * ascending-subspace lookup-sum via [[PqKernels.adcDistanceRawChecked]]
 * (the hardened twin of the facade's [[PqKernels.adcDistanceRaw]] —
 * malformed code rows rank last instead of throwing).
 *
 * `query` is a Seq (not Array) so case-class equality — which Catalyst's
 * semanticEquals and the fixed-point idempotence checks rely on — compares
 * by VALUE.
 */
case class PqAdcDistance(
    child: Expression,
    query: scala.collection.immutable.Seq[Float],
    codebooks: Broadcast[Array[Array[Array[Float]]]],
    metricId: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.graftshims.AbstractDataType] =
    Seq(ArrayType(ByteType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_adc_distance"

  @transient private lazy val table: Array[Array[Double]] =
    PqKernels.adcTableRaw(query.toArray, codebooks.value, metricId)

  /** Public for codegen: per-row lookup-sum over the per-task table,
    * through the CHECKED kernel ([[PqKernels.adcDistanceRawChecked]] —
    * one shared accumulation with the facade's unchecked twin):
    * MALFORMED codes rank LAST (Double.MaxValue) instead of throwing,
    * because the rewrite must never fail a query the unrewritten plan
    * would answer, and the kept exact rerank means a foreign-coded row
    * can only cost candidate recall, never the correctness of returned
    * distances (the PqInfo contract). */
  def adc(codes: ArrayData): Double =
    PqKernels.adcDistanceRawChecked(table, codes)

  override def nullSafeEval(c: Any): Any = adc(c.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdcExpr", this, classOf[PqAdcDistance].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.adc($c);")
  }

  override protected def withNewChildInternal(c: Expression): PqAdcDistance =
    copy(child = c)
}

/** ADC distance between an m-byte code row and a RUNTIME query vector —
  * the batch-SQL twin of [[PqAdcDistance]], whose query is a plan-time
  * literal with a driver-precomputed lookup table. Per (query row, code
  * row) a table would cost O(dim·ks) to build — far more than the O(dim)
  * direct scoring — so this scores the named codeword directly
  * ([[PqKernels.adcDistanceDirectChecked]]): bit-identical accumulation
  * to the table path for well-formed rows, Double.MaxValue (ranks last,
  * reachable by the exact rerank) for every malformed input on EITHER
  * side — wrong-length/out-of-range codes, wrong-dimension or
  * null-element queries. The compressed-scan win is per-row on the
  * CORPUS side and unchanged: the codes scan reads m bytes per row. */
case class PqAdcDistanceCol(
    left: Expression,
    right: Expression,
    codebooks: Broadcast[Array[Array[Array[Float]]]],
    metricId: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.graftshims.AbstractDataType] =
    Seq(ArrayType(ByteType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_adc_distance_col"

  /** Per-task codebooks deref, not per pair (TorrentBroadcast.getValue
    * synchronizes — see PqEncode's codegen note). */
  @transient private lazy val books: Array[Array[Array[Float]]] =
    codebooks.value

  /** Last prepped query per (deserialized) expression instance:
    * (float copy, prepped doubles). The batch candidate stage evaluates
    * this expression once per joined (query, code) pair; when the same
    * query repeats row after row, re-prepping per pair (a fresh double[]
    * plus, for cosine, a renormalization) roughly doubles the stage's
    * allocation rate (r17 advice). ArrayData object IDENTITY is useless
    * as the key (UnsafeRow.getArray mints a fresh wrapper per call), so
    * the key is the float CONTENT: one Arrays.equals against the
    * memoized copy — exact (floatToIntBits comparison; distinct NaN
    * payloads prep to the same NaN doubles either way) and cheap on
    * misses (bails at the first differing element). ONE field holding an
    * immutable pair: a racing reader sees a consistent (key, prepped)
    * snapshot or recomputes — never a torn pair.
    *
    * ADAPTIVE INSTALL (measured, dev/ROUND18.md): the broadcast-hash
    * candidate join streams the CODES side, so its output can interleave
    * the batch's queries per corpus row — a naive install-on-every-miss
    * memo pays a tuple allocation per pair on that pattern and measured
    * 20-35% SLOWER than no memo at all. The memo therefore installs only
    * on the SECOND consecutive sighting of the same query, detected by
    * EXACT content compare against the last-missed array (r18 advice:
    * the earlier length/first/last-bits fingerprint collided on
    * zero-padded or shared-prefix/suffix embeddings, re-installing per
    * pair and reinstating the regression). Holding the last miss is a
    * reference assignment (the qf copy already exists per call), and
    * interleaved streams degrade to a first-element compare — never a
    * slowdown; repeated-query streams hit from the third row on. */
  @transient private var prepMemo: (Array[Float], Array[Double]) = null
  @transient private var lastMiss: Array[Float] = null

  /** Public for codegen. Unscorable-row contract, enforced explicitly: a
    * NULL ELEMENT inside the query array ranks the pair LAST (MaxValue)
    * — `toFloatArray` would instead silently unbox it to 0.0f
    * (GenericArrayData) or memcpy the null slot's stale bytes
    * (UnsafeArrayData), scoring a vector the caller never wrote (the NPE
    * catch this replaces was dead code on Spark 4.1.2 — r17 advice). */
  def adc(codes: ArrayData, q: ArrayData): Double = {
    val n = q.numElements()
    var i = 0
    while (i < n) {
      if (q.isNullAt(i)) return Double.MaxValue
      i += 1
    }
    val qf = q.toFloatArray()
    val memo = prepMemo
    val qd =
      if (memo != null && java.util.Arrays.equals(memo._1, qf)) memo._2
      else {
        val prepped = PqKernels.prepQuery(qf, metricId)
        val lm = lastMiss
        if (lm != null && java.util.Arrays.equals(lm, qf)) prepMemo = (qf, prepped)
        else lastMiss = qf
        prepped
      }
    PqKernels.adcDistanceDirectChecked(qd, books, metricId, codes)
  }

  override def nullSafeEval(c: Any, q: Any): Any =
    adc(c.asInstanceOf[ArrayData], q.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdcColExpr", this, classOf[PqAdcDistanceCol].getName)
    nullSafeCodeGen(ctx, ev, (c, q) => s"${ev.value} = $ref.adc($c, $q);")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqAdcDistanceCol =
    copy(left = l, right = r)
}

/**
 * Boolean keep-filter of the PQ range refinement (round 18 — the sound
 * ADC range bound the r17 design note demanded before any range shape
 * could touch PQ): over a registered L2 range predicate
 * `l2_distance(vec, q)² ≤ r`, a row `v` in list `l` with stored codes
 * `c_v` can match only if
 *
 * {{{
 *   √adc(q, c_v) = ‖q − decode(c_v)‖ ≤ ‖q − v‖ + ‖v − decode(c_v)‖
 *                ≤ √r + e_v ≤ √r + maxErr_l
 * }}}
 *
 * (triangle inequality on the L2 METRIC, not its square), where
 * `maxErr_l` is the per-list max quantization error recorded from the
 * SAME stored codes ([[graft.plans.SqlAnn.computePqRangeMeta]]). The
 * filter `adc ≤ (√r + maxErr_l)²` therefore admits a SUPERSET of the
 * true matches — foreign or corrupted codes only inflate `e_v` (and the
 * recorded max) toward "keep everything", never toward a dismissal —
 * and the rewrite KEEPS the original predicate, so the refinement is
 * semantics-preserving.
 *
 * The INNER-PRODUCT twin (metricId = METRIC_IP) uses Cauchy–Schwarz
 * instead of the triangle inequality: a true match `−q·v ≤ r` forces
 *
 * {{{
 *   adc = −q·decode(c_v) = −q·v + q·(v − decode(c_v))
 *       ≤ r + ‖q‖·‖v − decode(c_v)‖ ≤ r + ‖q‖·maxErr_l
 * }}}
 *
 * — the SAME recorded L2 decode errors serve both metrics (IP epochs
 * encode from the raw stored vectors, so `e_v` is well-defined). The
 * COSINE arm (round 19): codes encode the eps-NORMALIZED vectors and
 * the meta pass records errors against them (poisoning out-of-tolerance
 * stored norms to +∞), so on near-unit rows
 * `adc = 1 − q̂·decode ≤ r + slack(tol) + e_v` with `‖q̂‖ ≤ 1` — the
 * caller passes `radius` pre-slacked
 * ([[graft.functions.VectorKernels.cosineKeepSlack]] derives the
 * kernel-eps slack) and gates the query literal's norm on the driver.
 *
 * NEVER-DISMISS hardening on every unscorable
 * row: NULL codes/list keep (un-coded appends mark their own list as a
 * candidate), a non-finite recorded bound keeps (NaN-poisoned or
 * malformed-code lists), an unscorable ADC (MaxValue: wrong-length or
 * foreign bytes) keeps. Used ONLY as the build side of a list-level
 * DynamicPruningSubquery — the m-byte codes scan marks which lists hold
 * at least one plausible candidate, and the vector scan skips the rest.
 */
case class PqRangeKeep(
    codesExpr: Expression,
    listExpr: Expression,
    query: scala.collection.immutable.Seq[Float],
    radius: Double,
    codebooks: Broadcast[Array[Array[Array[Float]]]],
    listErrs: Broadcast[Array[Double]],
    metricId: Int = VectorKernels.METRIC_L2)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ExpectsInputTypes {

  require(metricId == VectorKernels.METRIC_L2 ||
    metricId == VectorKernels.METRIC_IP ||
    metricId == VectorKernels.METRIC_COSINE,
    s"PqRangeKeep: unknown metric $metricId")

  override def left: Expression = codesExpr
  override def right: Expression = listExpr
  override def inputTypes: Seq[org.apache.spark.sql.graftshims.AbstractDataType] =
    Seq(ArrayType(ByteType), org.apache.spark.sql.types.IntegerType)
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  // NOT null-intolerant: a NULL input means "cannot rule the row out",
  // and the sound answer to that is KEEP — never a NULL that a
  // conjunction would drop
  override def nullable: Boolean = false
  override def prettyName: String = "pq_range_keep"

  @transient private lazy val qd: Array[Double] =
    PqKernels.prepQuery(query.toArray, metricId)
  @transient private lazy val books: Array[Array[Array[Float]]] =
    codebooks.value
  @transient private lazy val errs: Array[Double] = listErrs.value
  private val sqrtR = math.sqrt(math.max(radius, 0.0))
  @transient private lazy val qNorm: Double = {
    var s = 0.0
    var i = 0
    val qa = query
    while (i < qa.length) { val x = qa(i).toDouble; s += x * x; i += 1 }
    math.sqrt(s)
  }

  /** Public for codegen (null-free operands). */
  def keepRow(codes: ArrayData, list: Int): Boolean = {
    if (list < 0 || list >= errs.length) return true
    val e = errs(list)
    // non-finite bound: NaN-poisoned vectors or malformed codes in this
    // list — no usable bound, keep
    if (java.lang.Double.isNaN(e) || java.lang.Double.isInfinite(e))
      return true
    val adc = PqKernels.adcDistanceDirectChecked(qd, books, metricId, codes)
    // unscorable THIS row (wrong-length/foreign codes): keep — a range
    // refinement has no rerank pool to make dismissals recoverable
    if (adc == Double.MaxValue) return true
    if (metricId == VectorKernels.METRIC_IP) adc <= radius + qNorm * e
    // cosine (round 19): codes encode eps-normalized vectors and errs
    // were recorded against them with out-of-tolerance norms poisoned to
    // +inf (computePqRangeMeta), so on the surviving rows
    // `adc = 1 − q̂·decode ≤ (1 − q̂·ṽ) + ‖q̂‖·e ≤ r + slack + e` with
    // ‖q̂‖ ≤ 1 by the eps-inside-sqrt prep — the caller passes `radius`
    // PRE-SLACKED (r + cosineKeepSlack(tol)) to absorb the kernel's
    // norm-product eps vs the prep's per-vector eps on near-unit norms
    else if (metricId == VectorKernels.METRIC_COSINE) adc <= radius + e
    else { val b = sqrtR + e; adc <= b * b }
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val c = codesExpr.eval(input)
    if (c == null) return true
    val l = listExpr.eval(input)
    if (l == null) return true
    keepRow(c.asInstanceOf[ArrayData], l.asInstanceOf[Int])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("pqRangeKeep", this, classOf[PqRangeKeep].getName)
    val cGen = codesExpr.genCode(ctx)
    val lGen = listExpr.genCode(ctx)
    ev.copy(
      code = code"""
        ${cGen.code}
        ${lGen.code}
        boolean ${ev.value} = true;
        if (!${cGen.isNull} && !${lGen.isNull}) {
          ${ev.value} = $ref.keepRow(${cGen.value}, ${lGen.value});
        }""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqRangeKeep =
    copy(codesExpr = l, listExpr = r)
}

/**
 * Per-row-query twin of [[PqRangeKeep]] (round 19, r18 verdict #3): the
 * SAME sound keep-bound — triangle inequality for L2
 * (`adc ≤ (√r + maxErr_l)²`), Cauchy–Schwarz for IP
 * (`adc ≤ r + ‖q‖·maxErr_l`) — with the query vector coming from a
 * COLUMN instead of a driver literal, so the covering-ball range-JOIN
 * and semi-screen shapes (per-row query vectors, where the literal
 * precondition of [[PqRangeKeep]] can never hold) gain the codes-only
 * candidate-list refinement too. Evaluated per (corpus row, query row)
 * pair inside the refinement DPP's build join; the bound admits a
 * SUPERSET of the true matching pairs per the same derivation, so the
 * lists it emits cover every true match and the kept original predicate
 * makes the rewrite semantics-preserving.
 *
 * NEVER-DISMISS hardening identical to the literal twin, plus the
 * per-row query cases: a NULL query vector or a NULL query ELEMENT
 * keeps (cannot rule the pair out), a non-finite or out-of-range
 * recorded bound keeps, an unscorable ADC keeps. Query prep is memoized
 * with the SAME adaptive second-consecutive-sighting install as
 * [[PqAdcDistanceCol]] (the build join streams corpus rows, so queries
 * interleave; for IP the prepped triple carries ‖q‖ too).
 */
case class PqRangeKeepCol(
    codesExpr: Expression,
    listExpr: Expression,
    queryExpr: Expression,
    radius: Double,
    codebooks: Broadcast[Array[Array[Array[Float]]]],
    listErrs: Broadcast[Array[Double]],
    metricId: Int = VectorKernels.METRIC_L2,
    // cosine arm only: a query ROW whose norm deviates from 1 beyond
    // this keeps unconditionally — the slack folded into `radius` is
    // only valid on near-unit query norms (same per-row fallback as
    // CosineRangeProbeLists)
    unitTol: Double = 0.0)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with ExpectsInputTypes {

  require(metricId == VectorKernels.METRIC_L2 ||
    metricId == VectorKernels.METRIC_IP ||
    metricId == VectorKernels.METRIC_COSINE,
    s"PqRangeKeepCol: unknown metric $metricId")

  override def first: Expression = codesExpr
  override def second: Expression = listExpr
  override def third: Expression = queryExpr
  override def inputTypes: Seq[org.apache.spark.sql.graftshims.AbstractDataType] =
    Seq(ArrayType(ByteType), org.apache.spark.sql.types.IntegerType,
      ArrayType(FloatType))
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  // keep-on-null: a NULL input means "cannot rule the pair out"
  override def nullable: Boolean = false
  override def prettyName: String = "pq_range_keep_col"

  @transient private lazy val books: Array[Array[Array[Float]]] =
    codebooks.value
  @transient private lazy val errs: Array[Double] = listErrs.value
  private val sqrtR = math.sqrt(math.max(radius, 0.0))

  /** (query floats, prepped doubles, ‖q‖) — adaptive install, see
    * [[PqAdcDistanceCol]]'s memo scaladoc for the measured rationale. */
  @transient private var prepMemo: (Array[Float], Array[Double], Double) = null
  @transient private var lastMiss: Array[Float] = null

  /** Public for codegen (null-free operands). */
  def keepRow(codes: ArrayData, list: Int, q: ArrayData): Boolean = {
    if (list < 0 || list >= errs.length) return true
    val e = errs(list)
    if (java.lang.Double.isNaN(e) || java.lang.Double.isInfinite(e))
      return true
    // NULL ELEMENT inside the query array: unscorable pair — keep (the
    // kept original predicate will drop it; dismissing here on a vector
    // the caller never wrote would be the unsound direction)
    val n = q.numElements()
    var i = 0
    while (i < n) {
      if (q.isNullAt(i)) return true
      i += 1
    }
    val qf = q.toFloatArray()
    val memo = prepMemo
    val (qd, qNorm) =
      if (memo != null && java.util.Arrays.equals(memo._1, qf))
        (memo._2, memo._3)
      else {
        val prepped = PqKernels.prepQuery(qf, metricId)
        var s = 0.0
        var j = 0
        while (j < qf.length) { val x = qf(j).toDouble; s += x * x; j += 1 }
        val norm = math.sqrt(s)
        val lm = lastMiss
        if (lm != null && java.util.Arrays.equals(lm, qf))
          prepMemo = (qf, prepped, norm)
        else lastMiss = qf
        (prepped, norm)
      }
    val adc = PqKernels.adcDistanceDirectChecked(qd, books, metricId, codes)
    if (adc == Double.MaxValue) return true
    if (metricId == VectorKernels.METRIC_IP) adc <= radius + qNorm * e
    else if (metricId == VectorKernels.METRIC_COSINE) {
      // degenerate query ROW: the pre-slacked bound assumes a near-unit
      // query norm — keep (per-row fallback, never a false dismissal)
      if (!(math.abs(qNorm - 1.0) <= unitTol)) true
      else adc <= radius + e
    }
    else { val b = sqrtR + e; adc <= b * b }
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val c = codesExpr.eval(input)
    if (c == null) return true
    val l = listExpr.eval(input)
    if (l == null) return true
    val q = queryExpr.eval(input)
    if (q == null) return true
    keepRow(c.asInstanceOf[ArrayData], l.asInstanceOf[Int],
      q.asInstanceOf[ArrayData])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("pqRangeKeepCol", this, classOf[PqRangeKeepCol].getName)
    val cGen = codesExpr.genCode(ctx)
    val lGen = listExpr.genCode(ctx)
    val qGen = queryExpr.genCode(ctx)
    ev.copy(
      code = code"""
        ${cGen.code}
        ${lGen.code}
        ${qGen.code}
        boolean ${ev.value} = true;
        if (!${cGen.isNull} && !${lGen.isNull} && !${qGen.isNull}) {
          ${ev.value} = $ref.keepRow(${cGen.value}, ${lGen.value}, ${qGen.value});
        }""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PqRangeKeepCol =
    copy(codesExpr = f, listExpr = s, queryExpr = t)
}

object pq {
  private def col(e: Expression): Column = graftshims.column(e)
  private def ex(c: Column): Expression = graftshims.expression(c)

  def pq_encode(v: Column, codebooks: Broadcast[Array[Array[Array[Float]]]]): Column =
    col(PqEncode(ex(v), codebooks))
}
