package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType, FloatType, IntegerType}

import graft.Metric
import graft.functions.{CosineRangeProbeLists, IpRangeProbeLists, ProbeLists, RangeProbeLists, VectorDistance, VectorKernels}

/**
 * The SQL ANN surface (SURVEY §4, custom component 3): a
 * `Rule[LogicalPlan]` that rewrites the canonical vector-search SQL shape
 *
 * {{{
 *   SELECT id, l2_distance(vec, CAST(array(...) AS ARRAY<FLOAT>)) AS dist
 *   FROM ivf_table          -- parquet, Hive-partitioned by list_id
 *   ORDER BY dist[, id] LIMIT k
 * }}}
 *
 * over a REGISTERED IVF table into the probe+prune+topk plan the
 * programmatic facade composes ([[graft.index.IvfFlatIndex.search]]): the
 * query literal is probed against the registered centroids ON THE DRIVER
 * (nlist dot products — the same coarse quantization the reference runs
 * before touching lists, ivf_flat_index.cpp:298-336), and a
 * `list_id IN (<nprobe nearest>)` filter is injected above the relation.
 * `list_id` is the table's Hive partition column, so the filter reaches
 * `FileSourceScanExec` as a PartitionFilter — at 100 TB the scan reads
 * nprobe/nlist of the corpus, exactly like the facade's static-pruned
 * path. The ORDER BY .. LIMIT stays and plans as TakeOrderedAndProject
 * (partial per-partition top-k, merge on the driver), the same
 * partial/merge shape as every other search path here.
 *
 * Semantics contract (the same one every ANN system documents): a
 * registered table OPTS IN to approximate top-k at its registered
 * `nprobe`. Unregistered tables, non-literal query vectors, descending
 * sorts, or a distance over anything but the registered vector column are
 * left untouched — the rule rewrites nothing it cannot prove is the ANN
 * shape. At `nprobe = nlist` the rewrite is EXACT (the In-filter covers
 * every list), which is what the driver's `sql_ann_rewrite` oracle entry
 * pins against brute-force SQL.
 *
 * Registration is keyed by qualified table path (JVM-global — the rule
 * may run on an optimizer thread with no active-session thread-local, so
 * the plan's relation path is the only reliable key); the rule itself is
 * installed per session by [[enable]], which is what scopes the rewrite.
 */
object SqlAnn {

  /** A registered IVF table: centroid matrix (row index == list_id),
    * probe width, the column names the rule must see, and (optionally)
    * the per-list covering radii that unlock the EXACT range-predicate
    * rewrite (absent -> range queries plan as full scans). A plain class,
    * NOT a case class: instances are ownership TOKENS (identity
    * equality), so the conditional [[unregisterIndex]] can distinguish
    * two facades' structurally-identical registrations of one path.
    * `centroidsBc` rides along for the BATCH rewrite: the per-query
    * [[graft.functions.ProbeLists]] expression it injects ships centroids
    * to executors via broadcast, created once at registration (or reused
    * from the caller's index — [[graft.api.VectorDB.registerSql]] passes
    * its facade's), never per query. Never destroy()ed: rewritten plans
    * may outlive the registration; a superseding same-path registration
    * only unpersist()s the radii copy ([[registerIndex]]), which evicts
    * executor blocks but stays re-fetchable.
    * `unitNorm` is the caller's ATTESTATION that every stored vector's
    * L2 norm lies within [1−[[UnitNormTol]], 1+[[UnitNormTol]]] — it
    * unlocks the cosine→L2 bridge rewrites (1−cos = ‖a−b‖²/2 exactly at
    * unit norms; [[graft.functions.VectorKernels.cosineL2Bound]] absorbs
    * the tolerance). A false attestation can FALSELY DISMISS matches;
    * never set it for tables that may hold unnormalized or near-zero
    * vectors. */
  /** Opt-in PQ acceleration for the SQL top-k shape (round 16; reference
    * declares IVF-PQ and never implements it, engine/ivf_flat_index.h:
    * 107-189): the registered table additionally carries an m-byte PQ
    * code column, and the top-k rewrite plans a TWO-SCAN pipeline — an
    * ADC candidate scan reading ONLY (id, codes) of the probed lists
    * (the 100 TB win: dim/4m of the flat bytes), then an exact rerank
    * joining the top `rerankK` candidate ids back against the (id, vec)
    * scan. Codes must be [[graft.functions.PqKernels.encode]]-d under
    * THESE codebooks; foreign codes silently degrade recall (the kept
    * exact rerank bounds the damage to the candidate pool) — pass
    * `verifyCodes = true` to [[registerIndex]] to have that attestation
    * CHECKED (a sampled argmin-replay pass, the PQ twin of
    * `verifyUnitNorm`) instead of trusted. With `rerankK >= |table|`
    * and nprobe = nlist the pipeline is EXACT — the geometry the
    * driver's `sql_pq_topk` oracle entry pins.
    *
    * `idCol` contract (round 17, r16 advice #1): a NON-NULL UNIQUE key
    * of the table. The pipeline equi-joins the candidate ids back
    * against the relation, so a NULL id could never rejoin (the row
    * would silently vanish from every result, even at full coverage)
    * and a duplicate id fans out into duplicated output rows — both
    * would break the documented exact-at-full-coverage reduction, the
    * same way foreign codes break the (checkable) codes contract. Not
    * statically checkable — file-source schemas read back asNullable
    * regardless of the data, and uniqueness is not in any schema — so
    * the check rides `verifyCodes` (null-id and duplicate-id counts in
    * the same registration-time pass); epoch ids and
    * `IvfPqIndex.codes` ids satisfy the contract by construction.
    *
    * Under a DECORATING JOIN the candidate pool is PRE-JOIN (r16 advice
    * #2): the ADC stage replicates the pushed filter but not the join
    * predicate, so candK = max(rerankK, k) candidates are drawn from
    * ALL probed rows and a selective metadata join then discards most
    * of them — at partial coverage this can starve recall well below
    * the flat probe path, which ranks true distances over every joined
    * row. Size `rerankK` for the POST-JOIN survivor count
    * (≈ rerankK / join selectivity), or register without PqInfo when
    * serving highly selective joined shapes at small nprobe. At full
    * coverage the exact reduction still holds: candK >= corpus keeps
    * every row reachable regardless of what the join later drops. */
  final class PqInfo(
      val codebooksBc: Broadcast[Array[Array[Array[Float]]]],
      val idCol: String = "id",
      val codeCol: String = "codes",
      val rerankK: Int = 100,
      val cosineCodes: Boolean = false) {
    require(rerankK > 0, s"rerankK must be positive: $rerankK")
  }

  final class Registration(
      val centroids: Array[Array[Float]],
      val nprobe: Int,
      val vecCol: String,
      val listCol: String,
      radii0: Option[Array[Double]],
      private[plans] val centroidsBc: Broadcast[Array[Array[Float]]],
      radiiBc0: Option[Broadcast[Array[Double]]] = None,
      val unitNorm: Boolean = false,
      val pq: Option[PqInfo] = None,
      pqErr0: Option[Array[Double]] = None,
      pqErrBc0: Option[Broadcast[Array[Double]]] = None,
      boundsSig0: Long = -1L) {
    require(centroids.nonEmpty, "centroids must be non-empty")
    require(nprobe > 0, s"nprobe must be positive: $nprobe")
    require(centroidsBc != null,
      "centroidsBc is required — the batch rewrite's ProbeLists expression" +
        " ships centroids through it (registerIndex always supplies one)")
    require(radii0.forall(_.length == centroids.length),
      "radii length must equal nlist — stale radii on a grown table would" +
        " FALSELY DISMISS matches (IvfFlatIndex.presetListRadii's contract)")
    require(radii0.isDefined == radiiBc0.isDefined,
      "radii and their broadcast twin travel together (registerIndex" +
        " always creates both or neither)")
    require(pqErr0.forall(_.length == centroids.length),
      "pqErr length must equal nlist — per-LIST max quantization errors" +
        " (the PQ range refinement's bound, see PqRangeKeep); stale errs" +
        " on a grown table would FALSELY DISMISS appended rows")
    require(pqErr0.isDefined == pqErrBc0.isDefined,
      "pq errs and their broadcast twin travel together")
    require(pqErr0.isEmpty || pq.isDefined,
      "pq range errs without a PqInfo registration: the refinement reads" +
        " the codes column that PqInfo names")

    // ONE volatile pair, not two fields: the static range rewrite reads
    // the array, the range-JOIN rewrite ships the broadcast — a single
    // field makes "fresh array + stale broadcast" UNREPRESENTABLE (any
    // update, invalidation or a future in-place refresh, swaps both
    // atomically; [[invalidateRadii]] strips a grown table's stale radii
    // IN PLACE because replacing the Registration would mint a new token
    // and orphan every owner's conditional-unregister handle on the old
    // one).
    @volatile private[this] var radiiState
        : Option[(Array[Double], Broadcast[Array[Double]])] =
      radii0.zip(radiiBc0)

    def radii: Option[Array[Double]] = radiiState.map(_._1)
    private[plans] def radiiBc: Option[Broadcast[Array[Double]]] =
      radiiState.map(_._2)
    /** ONE volatile read of the (array, broadcast) pair — the range-JOIN
      * rewrite consumes both and must see a consistent snapshot. */
    private[plans] def radiiPair
        : Option[(Array[Double], Broadcast[Array[Double]])] = radiiState
    /** Swap both halves atomically (fresh pair) or clear both (None). The
      * OUTGOING broadcast is unpersist()ed as part of the swap — without
      * this, invalidateRadii followed by unregister/churn would drop the
      * only driver-side reference before releaseRadiiBroadcast could
      * evict, leaving executor blocks to linger until GC (r15 advice).
      * unpersist is idempotent and re-fetchable, so a reader that
      * snapshotted the old pair just before the swap stays correct. */
    private[plans] def updateRadii(
        state: Option[(Array[Double], Broadcast[Array[Double]])]): Unit = {
      require(state.forall(_._1.length == centroids.length),
        "radii length must equal nlist")
      val outgoing = radiiState
      radiiState = state
      outgoing.foreach { case (_, bc) =>
        if (!state.exists(_._2 eq bc)) bc.unpersist(blocking = false)
      }
    }
    // the PQ range refinement's per-list max quantization errors
    // (round 18): SAME single-volatile-pair discipline as the radii —
    // both are membership-derived bounds that a grown table invalidates,
    // and "fresh array + stale broadcast" must stay unrepresentable
    @volatile private[this] var pqErrState
        : Option[(Array[Double], Broadcast[Array[Double]])] =
      pqErr0.zip(pqErrBc0)

    private[plans] def pqErrPair
        : Option[(Array[Double], Broadcast[Array[Double]])] = pqErrState
    private[plans] def updatePqErr(
        state: Option[(Array[Double], Broadcast[Array[Double]])]): Unit = {
      require(state.forall(_._1.length == centroids.length),
        "pqErr length must equal nlist")
      val outgoing = pqErrState
      pqErrState = state
      outgoing.foreach { case (_, bc) =>
        if (!state.exists(_._2 eq bc)) bc.unpersist(blocking = false)
      }
    }

    // round 20 (cross-process safety): the FILE-LISTING BYTE SIZE the
    // bounds are known to cover — every bounds consumer in the rewrite
    // checks the matched relation's own listing size against it and
    // falls back to the unpruned (still exact) plan when the relation
    // lists MORE bytes than the signature. A table grown by a writer
    // this registration never heard about (another process appending to
    // the same epoch) therefore degrades to less pruning, never a
    // stale-bounds false dismissal; [[invalidateRadii]] shifts from
    // correctness requirement to performance hint. -1 = no signature
    // (legacy/direct registrations): consumers treat the bounds as
    // always-fresh, the pre-r20 contract.
    @volatile private[this] var boundsSigState: Long = boundsSig0

    /** True when a relation listing `relBytes` of files is covered by
      * the bounds this registration holds. SMALLER listings pass too: an
      * older (pre-append) snapshot's rows are a subset of the membership
      * the bounds cover — max bounds over a superset over-cover, never
      * dismiss. */
    private[plans] def boundsFreshFor(relBytes: Long): Boolean = {
      val s = boundsSigState
      s < 0L || relBytes <= s
    }
    private[graft] def boundsSig: Long = boundsSigState
    private[graft] def updateBoundsSig(s: Long): Unit = boundsSigState = s

    /** Evict executor-resident blocks of the radii (and PQ err)
      * broadcasts — called on same-path registration churn, where the
      * superseded registration's copies would otherwise accumulate until
      * the token is GC-reclaimed. unpersist, NOT destroy: a rewritten
      * plan that still references the broadcast re-fetches it from the
      * driver on next use. */
    private[plans] def releaseRadiiBroadcast(): Unit = {
      radiiState.foreach(_._2.unpersist(blocking = false))
      pqErrState.foreach(_._2.unpersist(blocking = false))
    }
  }

  /** Norm tolerance the `unitNorm` attestation promises and the cosine→L2
    * bridge absorbs ([[graft.functions.VectorKernels.cosineL2Bound]]):
    * wide enough for float32 normalize error by orders of magnitude,
    * tight enough that the bound's slack (≈8·tol on the squared distance)
    * admits only a sliver of extra lists. */
  val UnitNormTol: Double = 1e-3

  /** ONE corpus pass checking the `unitNorm` attestation: true iff every
    * non-null vector under `path` has L2 norm within [1−tol, 1+tol] (a
    * NaN component fails — NaN norms poison the bridge bound the same
    * way they poison covering radii). Callers who did not produce the
    * table themselves should run this before registering with
    * `unitNorm = true`: a FALSE attestation silently turns the exact
    * cosine rewrites into ones that can falsely dismiss. Costs a full
    * scan of the vector column — the same order as computing range
    * radii, and worth it for the same reason. */
  def verifyUnitNorm(
      spark: SparkSession,
      path: String,
      vecCol: String = "vec",
      tol: Double = UnitNormTol): Boolean = {
    import org.apache.spark.sql.functions._
    val dev = spark.read.parquet(path)
      .select(col(vecCol)).filter(col(vecCol).isNotNull)
      // coalesce: a NULL ELEMENT nulls the whole aggregate, and max()
      // would silently SKIP that row — force it to NaN so a malformed
      // vector fails the attestation instead of evading it
      .select(coalesce(
        abs(sqrt(aggregate(col(vecCol), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double"))) - 1.0d),
        lit(Double.NaN)).as("dev"))
      .agg(max(col("dev"))).head()
    // an empty table attests trivially. Spark's max() orders NaN above
    // every double, so one NaN norm makes the max NaN — but `NaN <= tol`
    // compares false only under IEEE, and Spark already returned the
    // value to the driver here: test NaN explicitly rather than lean on
    // either semantics
    if (dev.isNullAt(0)) true
    else { val d = dev.getDouble(0); !d.isNaN && d <= tol }
  }

  /** Relative slack for [[verifyPqCodes]]'s argmin replay: wide enough
    * for double-accumulation order differences, tight enough that a
    * codeword other than the (possibly tied) nearest always fails. */
  val PqVerifyTol: Double = 1e-6

  /** The PQ twin of [[verifyUnitNorm]] (round 17, r16 verdict): check
    * the [[PqInfo]] attestation that the table's codes were encoded
    * UNDER THESE CODEBOOKS, instead of trusting it. Two parts:
    *
    *  1. `idCol` contract — non-null and unique — via column-pruned
    *     aggregates over the FULL table (a sampled duplicate check
    *     proves nothing). A violation means candidate ids cannot rejoin
    *     1:1 and the pipeline would drop or duplicate rows.
    *  2. Codes contract via ARGMIN REPLAY over a `sampleFraction`
    *     sample: [[graft.functions.PqKernels.encode]] picks, per
    *     subspace, the codeword nearest the subvector — so for honestly
    *     encoded rows every stored code byte must index a codeword
    *     whose distance to the subvector is within [[PqVerifyTol]]
    *     (relative) of the minimum. Threshold-free in spirit: no
    *     corpus-dependent quantization-error bound needed, ties pass
    *     either index. Foreign codebooks, shuffled codes, wrong-length
    *     or out-of-range codes all fail; NULL codes pass (the
    *     documented un-coded-append case — they rank last at query
    *     time and stay reachable by the exact rerank).
    *
    * Cost: one cheap id pass plus O(sample · dim · ks) replay work —
    * sample at large scale (the check is probabilistic there by
    * design: a corrupted codes column fails almost every row, so even
    * small fractions catch it). False attestations this check cannot
    * see: codes that were honestly encoded from DIFFERENT vectors than
    * the stored ones in a way that happens to reproduce every argmin —
    * vanishingly unlikely and still bounded by the exact rerank.
    *
    * @param normalized replay the argmin against NORMALIZE(vec) instead
    *        of vec — the `cosineCodes` layout, where codes were encoded
    *        from the D4-normalized vectors while the stored flat column
    *        stays raw ([[graft.index.IvfPqIndex.build]](Cosine) and the
    *        facade's cosine epochs). Registration passes
    *        `pqInfo.cosineCodes` here; verifying a cosine table with
    *        `normalized = false` would reject its HONEST codes. */
  def verifyPqCodes(
      spark: SparkSession,
      path: String,
      codebooks: Array[Array[Array[Float]]],
      vecCol: String = "vec",
      codeCol: String = "codes",
      idCol: String = "id",
      sampleFraction: Double = 1.0,
      tol: Double = PqVerifyTol,
      normalized: Boolean = false): Boolean = {
    import org.apache.spark.sql.functions._
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1]: $sampleFraction")
    val df = spark.read.parquet(path)
    val idStats = df.agg(
      count(lit(1)).as("n"),
      count(col(idCol)).as("non_null"),
      count_distinct(col(idCol)).as("distinct")).head()
    val n = idStats.getLong(0)
    if (idStats.getLong(1) != n || idStats.getLong(2) != n) return false
    val coded = df.select(col(vecCol), col(codeCol))
      .filter(col(codeCol).isNotNull)
    val sampled =
      if (sampleFraction >= 1.0) coded
      else coded.sample(withReplacement = false, sampleFraction, seed = 42L)
    val cbBc = spark.sparkContext.broadcast(codebooks)
    val violations = sampled.rdd.mapPartitions { rows =>
      val cb = cbBc.value
      val m = cb.length
      val ks = cb(0).length
      val dsub = cb(0)(0).length
      var bad = 0L
      rows.foreach { r =>
        // any malformed row (null vector under non-null codes, wrong
        // dim/length, null elements, out-of-range code byte) is a
        // violation of the attestation — count it, never crash
        val ok = try {
          if (r.isNullAt(0)) false
          else {
            val raw = r.getSeq[Float](0)
            val vec =
              if (normalized) VectorKernels.normalize(raw.toArray).toSeq
              else raw
            val codes = r.getSeq[Byte](1)
            vec.length == m * dsub && codes.length == m && {
              var s = 0
              var good = true
              while (good && s < m) {
                val c = codes(s) & 0xff
                if (c >= ks) good = false
                else {
                  val off = s * dsub
                  var minD = Double.MaxValue
                  var chosenD = 0.0
                  var cw = 0
                  while (cw < ks) {
                    var d = 0.0
                    var i = 0
                    while (i < dsub) {
                      val diff = vec(off + i).toDouble - cb(s)(cw)(i).toDouble
                      d += diff * diff
                      i += 1
                    }
                    if (d < minD) minD = d
                    if (cw == c) chosenD = d
                    cw += 1
                  }
                  if (!(chosenD <= minD * (1.0 + tol) + 1e-12)) good = false
                }
                s += 1
              }
              good
            }
          }
        } catch { case _: NullPointerException => false }
        if (!ok) bad += 1
      }
      Iterator.single(bad)
    }.fold(0L)(_ + _)
    cbBc.unpersist(blocking = false)
    violations == 0L
  }

  /** ONE corpus pass computing the PQ range-refinement metadata of a
    * coded table (round 18, the design-note derivation made real — see
    * [[graft.functions.PqRangeKeep]] for the bound's proof): per list,
    *
    *  - the covering RADIUS `max ‖v − c_l‖` (same semantics as
    *    [[graft.index.IvfFlatIndex]]'s radii — unlocks the exact
    *    covering-ball range prune; a NaN component poisons the list's
    *    radius to NaN = never pruned), and
    *  - the max QUANTIZATION ERROR `max ‖v − decode(codes_v)‖` over the
    *    rows with NON-NULL codes (null-codes rows need no error bound —
    *    [[graft.functions.PqRangeKeep]] keeps them unconditionally, and
    *    each such row marks its own list as a candidate). A malformed
    *    code row (wrong length, byte ≥ ks, dim mismatch) records
    *    +∞ — its list is then never ADC-pruned, the sound direction.
    *
    * `cosineCodes = true` (round 19, the cosine arm): codes that encode
    * NORMALIZE(vec) are scored against the eps-normalized vector, so the
    * error is measured where the codes live —
    * `max ‖v·rsqrt(‖v‖²+1e-8) − decode(codes_v)‖` — and, load-bearing
    * for soundness, a row whose RAW norm deviates from 1 by more than
    * [[UnitNormTol]] poisons its list's err to +∞: the cosine keep
    * bound's slack term is only valid on near-unit norms (the flat
    * kernel adds its 1e-8 to the norm PRODUCT while the ADC query prep
    * normalizes with the eps INSIDE the sqrt, and for tiny norms those
    * denominators diverge arbitrarily — a decode error cannot see that
    * divergence), so a lying unit-norm attestation degrades to
    * no-refinement instead of a false dismissal.
    *
    * Pass the results to [[registerIndex]] as `radii` and `pqRangeErrs`.
    * Cost: one scan of (vec, codes, list) with O(dim) work per row —
    * the same order as computing radii alone. */
  def computePqRangeMeta(
      spark: SparkSession,
      path: String,
      centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]],
      vecCol: String = "vec",
      codeCol: String = "codes",
      listCol: String = "list_id",
      cosineCodes: Boolean = false): (Array[Double], Array[Double]) = {
    import org.apache.spark.sql.functions.col
    pqRangeMetaScans.incrementAndGet()
    // loud validation, matching the facade's lone-flag discipline (r18
    // advice: an empty codebooks array threw a bare AIOOBE here)
    require(centroids.nonEmpty, "computePqRangeMeta: empty centroids")
    require(codebooks.nonEmpty && codebooks(0).nonEmpty,
      "computePqRangeMeta: empty codebooks — the range refinement needs " +
        "a trained PQ codebook per subspace (IndexConfig m > 0)")
    metaMaxesOf(
      spark.read.parquet(path).select(col(vecCol), col(codeCol), col(listCol)),
      centroids, Some(codebooks), cosineCodes)
  }

  /** The SAME one-pass maxes over an already-materialized BATCH frame —
    * the append path's merge source (round 19: per-list radii and decode
    * errors are MAXES, so `max(old, batchMax)` is EXACT for the union
    * and appends can MAINTAIN the persisted bounds instead of dropping
    * them). Columns are the append layout (`vec`, `list_id`, optional
    * `codes`); `codebooks = None` (a flat epoch) yields all-zero errs
    * the caller must ignore. Not counted by [[pqRangeMetaScans]] — the
    * scan is over the batch, not the corpus. */
  private[graft] def computeBatchRangeMeta(
      batch: org.apache.spark.sql.DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Option[Array[Array[Array[Float]]]],
      cosineCodes: Boolean): (Array[Double], Array[Double]) = {
    import org.apache.spark.sql.functions.{col, lit}
    val withCodes =
      if (batch.columns.contains("codes"))
        batch.select(col("vec"), col("codes"), col("list_id"))
      else batch.select(col("vec"),
        lit(null).cast("array<tinyint>").as("codes"), col("list_id"))
    metaMaxesOf(withCodes, centroids, codebooks, cosineCodes)
  }

  /** Shared core of the two meta passes: per-list max ‖v − c_l‖ and max
    * decode error over a (vec, codes, list_id) frame. One definition so
    * the corpus pass and the append-merge pass can never diverge on the
    * hardening semantics (NaN poisoning, malformed-code +∞, cosine
    * normalization + out-of-tolerance poisoning). */
  private def metaMaxesOf(
      df: org.apache.spark.sql.DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Option[Array[Array[Array[Float]]]],
      cosineCodes: Boolean): (Array[Double], Array[Double]) = {
    val spark = df.sparkSession
    val nlist = centroids.length
    val m = codebooks.map(_.length).getOrElse(0)
    val dsub = codebooks.map(_(0)(0).length).getOrElse(0)
    val ks = codebooks.map(_(0).length).getOrElse(0)
    val centBc = spark.sparkContext.broadcast(centroids)
    val cbBc = spark.sparkContext.broadcast(codebooks)
    val partials = df
      .rdd.mapPartitions { rows =>
        val cents = centBc.value
        val cbOpt = cbBc.value
        val radii = Array.fill(nlist)(0.0)
        val errs = Array.fill(nlist)(0.0)
        rows.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(2)) {
            val l = r.getInt(2)
            if (l >= 0 && l < nlist) {
              val v = r.getSeq[Float](0).toArray
              // radius: NaN components poison via Math.max's NaN rule
              radii(l) = math.max(radii(l),
                math.sqrt(VectorKernels.l2(v, cents(l))))
              if (!r.isNullAt(1) && cbOpt.isDefined) {
                val cb = cbOpt.get
                val codes = r.getSeq[Byte](1)
                val e =
                  if (codes.length != m || v.length != m * dsub ||
                      codes.exists(b => (b & 0xff) >= ks))
                    Double.PositiveInfinity
                  else {
                    // cosine codes: error against the eps-normalized
                    // vector (what the codes encode) — and a row whose
                    // raw norm breaks the near-unit precondition poisons
                    // the list (see the scaladoc's soundness argument).
                    // A NaN norm makes the tol test false -> poison too.
                    var inv = 1.0
                    var poison = false
                    if (cosineCodes) {
                      var n2 = 0.0
                      var i = 0
                      while (i < v.length) {
                        val x = v(i).toDouble; n2 += x * x; i += 1
                      }
                      val nrm = math.sqrt(n2)
                      if (!(math.abs(nrm - 1.0) <= UnitNormTol)) poison = true
                      else inv = 1.0 / math.sqrt(n2 + 1e-8)
                    }
                    if (poison) Double.PositiveInfinity
                    else {
                      var d = 0.0
                      var s = 0
                      while (s < m) {
                        val cw = cb(s)(codes(s) & 0xff)
                        val off = s * dsub
                        var i = 0
                        while (i < dsub) {
                          val diff = v(off + i).toDouble * inv - cw(i).toDouble
                          d += diff * diff
                          i += 1
                        }
                        s += 1
                      }
                      math.sqrt(d)
                    }
                  }
                errs(l) = math.max(errs(l), e)
              }
            }
          }
        }
        Iterator.single((radii, errs))
      }
      .fold((Array.fill(nlist)(0.0), Array.fill(nlist)(0.0))) {
        case ((r1, e1), (r2, e2)) =>
          (r1.zip(r2).map(p => math.max(p._1, p._2)),
            e1.zip(e2).map(p => math.max(p._1, p._2)))
      }
    centBc.unpersist(blocking = false)
    cbBc.unpersist(blocking = false)
    partials
  }

  // Keyed by qualified table path, JVM-global — NOT per session. The
  // rule must resolve the registration during OPTIMIZATION, which can
  // run on a thread where SparkSession.getActiveSession is unset (a
  // driver's query thread pool), so the plan's relation path is the only
  // reliable key. Scoping comes from the rule itself: only sessions
  // where enable() installed it ever rewrite. Entries are centroids-
  // sized (nlist x dim floats) and bounded by live registrations;
  // unregisterIndex releases.
  private val registry = TrieMap.empty[String, Registration]

  /** Count of [[computePqRangeMeta]] corpus passes this JVM has run —
    * diagnostic for the r19 "registration is a metadata read" contract:
    * a `registerSql(pqRangeAccel = true)` over a freshly built PQ epoch
    * must consume the persisted `radii`/`pqerrs` tables and leave this
    * counter unchanged (the spec pins it). */
  val pqRangeMetaScans = new java.util.concurrent.atomic.AtomicLong

  /** Install the rewrite rule (idempotent) and the SQL function surface
    * ([[graft.GraftExtensions]]) on the session. */
  def enable(spark: SparkSession): Unit = {
    graft.GraftExtensions.register(spark)
    GraftSqlBridge.ensureOptimizerRule(spark, AnnTopKPruneRule)
  }

  /**
   * Register the IVF table at `path` (the Hive-partitioned parquet
   * directory `list_id=<n>/...`, e.g. an epoch's lists) for ANN rewrite
   * at `nprobe`. Also [[enable]]s the session.
   *
   * `verifySampleFraction` (r17 verdict: previously hardwired to 1.0)
   * sizes [[verifyPqCodes]]'s argmin-replay sample when
   * `verifyCodes = true`: the default 1.0 replays EVERY coded row —
   * right for driver-scale tables, a full-corpus decode job at 100 TB.
   * The check is probabilistic by design at scale (a corrupted codes
   * column fails almost every row, so even small fractions catch it);
   * the id-contract aggregates always run over the FULL table regardless
   * (a sampled uniqueness check proves nothing).
   */
  def registerIndex(
      spark: SparkSession,
      path: String,
      centroids: Array[Array[Float]],
      nprobe: Int,
      vecCol: String = "vec",
      listCol: String = "list_id",
      radii: Option[Array[Double]] = None,
      centroidsBc: Option[Broadcast[Array[Array[Float]]]] = None,
      unitNorm: Boolean = false,
      pq: Option[PqInfo] = None,
      verifyCodes: Boolean = false,
      verifySampleFraction: Double = 1.0,
      pqRangeErrs: Option[Array[Double]] = None,
      boundsValidAsOf: Long = -1L): Registration = {
    enable(spark)
    // round 20: the bounds freshness signature (see
    // Registration.boundsFreshFor). `boundsValidAsOf` is the listing
    // byte size the caller's radii/errs are known to cover — pass the
    // size of a listing taken BEFORE the bounds were read/computed
    // (bounds deltas land before their rows, so bounds read at T cover
    // every row visible at any listing <= T). Defaults to a listing
    // taken HERE, which assumes no writer races the registration call
    // itself — the contract this function always had; the facade's
    // registerSql passes the correctly-ordered size.
    val boundsSig: Long =
      if (radii.isEmpty && pqRangeErrs.isEmpty) -1L
      else if (boundsValidAsOf >= 0L) boundsValidAsOf
      else listingSize(spark, path)
    // the PQ range refinement's bound rides the PqInfo's codes column —
    // errs without a PqInfo would have nothing to score (lone-flag rule)
    if (pqRangeErrs.isDefined && pq.isEmpty)
      throw new IllegalArgumentException(
        "pqRangeErrs without a PqInfo registration: the range refinement " +
          "scores the codes column PqInfo names — pass pq = Some(...) " +
          "(see SqlAnn.computePqRangeMeta)")
    // same rule as the facade's lone-verifyUnitNorm throw (r15 verdict):
    // a verification flag with nothing to verify must fail loudly, not
    // read as "my codes were validated" while nothing ran
    if (verifyCodes && pq.isEmpty)
      throw new IllegalArgumentException(
        "verifyCodes = true without a PqInfo registration: the check " +
          "guards the codes attestation — pass pq = Some(...), or call " +
          "SqlAnn.verifyPqCodes directly for a standalone check")
    // the lone-flag rule again: a sample fraction with no verification to
    // sample would silently do nothing while reading as "sampled check"
    if (verifySampleFraction != 1.0 && !verifyCodes)
      throw new IllegalArgumentException(
        s"verifySampleFraction = $verifySampleFraction without " +
          "verifyCodes = true: the fraction sizes the codes verification " +
          "— pass verifyCodes = true or drop the fraction")
    pq.foreach { info =>
      if (verifyCodes &&
          !verifyPqCodes(spark, path, info.codebooksBc.value,
            vecCol = vecCol, codeCol = info.codeCol, idCol = info.idCol,
            sampleFraction = verifySampleFraction,
            // cosineCodes attests codes encoded from NORMALIZED vectors
            // — the replay must normalize too or honest codes fail
            normalized = info.cosineCodes))
        throw new IllegalArgumentException(
          s"PQ codes attestation failed for '$path': the id column is " +
            "not a non-null unique key, or a stored code does not " +
            "argmin-replay under the registered codebooks (foreign or " +
            "corrupted codes silently degrade recall — see " +
            "PqInfo's scaladoc)")
    }
    val reg = new Registration(centroids, nprobe, vecCol, listCol, radii,
      centroidsBc.getOrElse(spark.sparkContext.broadcast(centroids)),
      radii.map(spark.sparkContext.broadcast(_)), unitNorm, pq,
      pqRangeErrs, pqRangeErrs.map(spark.sparkContext.broadcast(_)),
      boundsSig)
    // same-path churn (epoch swaps, nprobe changes, registerSql re-calls)
    // would otherwise accumulate one executor-resident radii broadcast per
    // call until the superseded tokens are GC-reclaimed — evict eagerly;
    // the radii broadcast is created fresh per registration just above, so
    // it is ours to release (centroidsBc may be a caller's shared handle
    // and is left alone)
    registry.put(qualified(spark, path), reg)
      .foreach(old => if (!(old eq reg)) old.releaseRadiiBroadcast())
    reg
  }

  /** Remove a registration; subsequent queries plan as plain full scans.
    * The removed registration's radii broadcast is evicted from executors
    * (unpersist — still re-fetchable by any rewritten plan that outlives
    * the registration, same contract as the churn path). */
  def unregisterIndex(spark: SparkSession, path: String): Unit =
    registry.remove(qualified(spark, path))
      .foreach(_.releaseRadiiBroadcast())

  /** Strip the radii AND the PQ range errs from whatever registration
    * currently covers `path` — WHOEVER owns it (in-place, token identity
    * preserved). The blunt instrument for a table that grew by unknown
    * rows: both bounds were computed for the old membership, and a stale
    * bound FALSELY DISMISSES new rows from the range rewrite, which is
    * documented as exact. Range predicates then fall back to full scans
    * until fresh bounds are re-attached.
    *
    * The bounds-maintenance protocol (round 20) makes the call a
    * PERFORMANCE hint rather than a correctness requirement in every
    * in-contract regime:
    *  - this facade's own appends maintain the bounds exactly
    *    ([[mergeAppendBounds]] before the rows land,
    *    [[refreshRegisteredBounds]] after);
    *  - OTHER processes appending through [[graft.api.VectorDB
    *    .addVectors]] land commutative per-list-max DELTA files
    *    ([[graft.index.IvfFlatIndex.appendBoundsDelta]]) before their
    *    rows, so persisted bounds folded at any later read still cover
    *    — no writer ever loses another's contribution, with NO
    *    cross-process lock;
    *  - a LIVE registration that never hears about a foreign append is
    *    protected by its freshness signature
    *    ([[Registration.boundsFreshFor]]): any scan listing more bytes
    *    than the bounds are known to cover plans UNPRUNED (exact, just
    *    slower) until a re-registration or this facade's next
    *    append/refresh re-syncs.
    * Raw writers that bypass addVectors (plain parquet appends into the
    * lists dir) grow the listing too and are therefore caught by the
    * same signature; calling this (or re-registering) after bulk
    * out-of-band growth merely restores PRUNING sooner. */
  def invalidateRadii(spark: SparkSession, path: String): Unit =
    registry.get(qualified(spark, path)).foreach { r =>
      r.updateRadii(None)
      r.updatePqErr(None)
    }

  /** True when the registration covering `path` currently holds range
    * bounds (radii or errs) — the append path's "is there anything to
    * maintain" probe. */
  private[graft] def holdsBounds(spark: SparkSession, path: String): Boolean =
    registry.get(qualified(spark, path)).exists(r =>
      r.radii.isDefined || r.pqErrPair.isDefined)

  /** Merge a batch's per-list maxes into whatever registration currently
    * covers `path` — IN PLACE, token identity preserved (the same
    * contract as [[invalidateRadii]], round 19's maintenance twin):
    * per-list radii and decode errors are MAXES, so `max(old, batchMax)`
    * is EXACT for the post-append membership whenever `old` was valid
    * for the pre-append one. NaN/+∞ poisoning propagates through
    * Math.max. `bErrs = None` (a flat epoch, or an append that could not
    * encode) STRIPS any held errs instead — they cannot be maintained.
    * A length mismatch on either half clears that half (defensive — a
    * registration over different geometry must never be "merged").
    * Called by [[graft.api.VectorDB.addVectors]] BEFORE the rows land,
    * so a query racing the append sees bounds that are at worst
    * OVER-sized (less pruning, never a dismissal). */
  private[graft] def mergeAppendBounds(
      spark: SparkSession,
      path: String,
      bRadii: Array[Double],
      bErrs: Option[Array[Double]]): Unit =
    registry.get(qualified(spark, path)).foreach { r =>
      r.radiiPair match {
        case Some((old, _)) if old.length == bRadii.length =>
          val m = old.zip(bRadii).map(p => math.max(p._1, p._2))
          r.updateRadii(Some((m, spark.sparkContext.broadcast(m))))
        case Some(_) => r.updateRadii(None)
        case None => ()
      }
      (r.pqErrPair, bErrs) match {
        case (Some((old, _)), Some(be)) if old.length == be.length =>
          val m = old.zip(be).map(p => math.max(p._1, p._2))
          r.updatePqErr(Some((m, spark.sparkContext.broadcast(m))))
        case (Some(_), _) => r.updatePqErr(None)
        case _ => ()
      }
    }

  /** The file-listing byte size of `path` by the SAME accounting the
    * rewrite sees at plan time (an InMemoryFileIndex over the dir —
    * hidden files excluded, leaf files summed): creating a throwaway
    * relation makes the registration-side signature and the
    * plan-side `location.sizeInBytes` consistent by construction. The
    * relation is opened the way the facade opens its epochs
    * ([[graft.index.IvfFlatIndex.readEpoch]]: one listing rule, and no
    * listing job after every append). */
  private[graft] def listingSize(spark: SparkSession, path: String): Long =
    relationListingBytes(graft.index.IvfFlatIndex.readEpoch(spark, path))

  /** The listing byte size behind an already-created file-backed
    * DataFrame — i.e. the size of the SNAPSHOT the DataFrame will scan
    * (its InMemoryFileIndex was listed eagerly at creation), which is
    * exactly what a bounds signature must describe. */
  private[graft] def relationListingBytes(
      df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.analyzed.collectFirst {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location.sizeInBytes
        case _ => -1L
      }
    }.getOrElse(-1L)

  /** The freshness gate every BOUNDS consumer in the rewrite passes
    * through (round 20): true when `rel`'s own listing is covered by the
    * registration's bounds signature. Only LISTING-backed file indexes
    * (PartitioningAwareFileIndex: InMemoryFileIndex et al., whose
    * sizeInBytes is the sum of listed leaf files) are comparable to the
    * signature; a CatalogFileIndex's size is stats-derived (defaulting
    * to Long.MaxValue) and would spuriously read as "grown" — catalog
    * relations keep the pre-r20 contract (trusted fresh; the catalog is
    * its own growth authority). */
  private def boundsFresh(reg: Registration, rel: LogicalRelation): Boolean =
    rel.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case pai: org.apache.spark.sql.execution.datasources
            .PartitioningAwareFileIndex =>
          reg.boundsFreshFor(pai.sizeInBytes)
        case _ => true
      }
      case _ => true
    }

  /** Re-sync a live registration's bounds with the PERSISTED tables
    * after an append's rows landed (round 20, the cross-process half of
    * the maintenance [[mergeAppendBounds]] does in-memory): fold-read
    * the radii/errs dirs — which include every writer's deltas, OURS
    * and any other process's — and swap them in together with a fresh
    * listing signature. ORDER is the soundness argument: the listing is
    * taken BEFORE the fold-reads, and every writer lands its delta
    * before its rows, so bounds read at T cover every row visible at
    * any listing <= T — sound under arbitrary cross-process
    * interleaving. Only halves the registration currently HOLDS are
    * touched (a registration without radii stays without); a held half
    * whose persisted table is gone or unreadable is STRIPPED (the safe
    * direction — full scans, never dismissals). When NO table backs a
    * held half (registration-only bounds, e.g. computeRangeRadii over a
    * pre-r19 epoch), the in-memory merged value is kept and only the
    * signature advances — sound for this facade's own appends (the
    * merge covered the batch), and the one regime where a CONCURRENT
    * foreign append inside this call's window could be over-claimed
    * until the next registration; epochs built by this engine always
    * persist their bounds, so the exposure needs a boundless epoch AND
    * a cross-process writer AND a racing append. */
  private[graft] def refreshRegisteredBounds(
      spark: SparkSession,
      path: String,
      radiiPath: String,
      errsPath: String): Unit =
    registry.get(qualified(spark, path)).foreach { r =>
      val sig = listingSize(spark, path)
      val nlist = r.centroids.length
      if (r.radiiPair.isDefined && new java.io.File(radiiPath).exists)
        try {
          val m = graft.index.IvfFlatIndex
            .readListRadiiTable(spark, radiiPath, nlist)
          r.updateRadii(Some((m, spark.sparkContext.broadcast(m))))
        } catch {
          case scala.util.control.NonFatal(_) => r.updateRadii(None)
        }
      if (r.pqErrPair.isDefined) {
        if (new java.io.File(errsPath).exists)
          try {
            val m = graft.index.IvfFlatIndex
              .readListErrsTable(spark, errsPath, nlist)
            r.updatePqErr(Some((m, spark.sparkContext.broadcast(m))))
          } catch {
            case scala.util.control.NonFatal(_) => r.updatePqErr(None)
          }
        // errs table deleted (append without codebooks drops it) while
        // the radii table survives: the persisted regime is
        // authoritative — strip the held errs too
        else if (new java.io.File(radiiPath).exists) r.updatePqErr(None)
      }
      r.updateBoundsSig(sig)
    }

  /** Remove the registration for `path` ONLY if it is still the exact
    * token `registerIndex` returned to this caller — the multi-facade
    * guard: two facades registering the same path share one registry
    * slot (last wins), and an owner whose registration was superseded
    * must not tear down the winner's on its own close. */
  def unregisterIndex(
      spark: SparkSession, path: String, token: Registration): Unit = {
    val key = qualified(spark, path)
    registry.get(key) match {
      case Some(cur) if cur eq token =>
        if (registry.remove(key, cur)) cur.releaseRadiiBroadcast()
        ()
      case _ => ()
    }
  }

  /** True while `token` is still the registration the registry serves for
    * `path` — the guard [[graft.api.VectorDB.close]] uses to decide
    * whether tearing down the path's temp view is its right: two facades
    * over one path share a registry slot AND (with the default viewName)
    * a view name, so a facade whose registration was superseded must
    * leave the surviving facade's view alone. */
  private[graft] def ownsRegistration(
      spark: SparkSession, path: String, token: Registration): Boolean =
    registry.get(qualified(spark, path)).exists(_ eq token)

  /** True when `view` currently resolves to a file relation rooted at
    * `path` — the other half of the teardown/refresh guard: the registry
    * token proves who owns the PATH's registration, but the temp VIEW is
    * a session-global name another facade may have re-bound to a
    * DIFFERENT epoch path (same default view name, different epoch). A
    * facade must neither drop ([[graft.api.VectorDB.close]]) nor re-bind
    * (addVectors' refresh) a view that no longer points at its own path.
    * A missing/unresolvable view is "not bound" (nothing to guard). */
  private[graft] def viewBoundTo(
      spark: SparkSession, view: String, path: String): Boolean =
    try {
      val q = qualified(spark, path)
      spark.table(view).queryExecution.analyzed.collectFirst {
        case r: LogicalRelation => r
      }.exists(_.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.exists(_.toString == q)
        case _ => false
      })
    } catch { case _: org.apache.spark.sql.AnalysisException => false }

  /** Qualify a path exactly the way HadoopFsRelation qualifies its
    * rootPaths, so registration and lookup cannot diverge on scheme or
    * authority (file:/ vs bare /). */
  private def qualified(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }

  private[plans] def lookup(rel: LogicalRelation): Option[Registration] =
    rel.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.iterator
          .map(_.toString).flatMap(registry.get).nextOption()
      case _ => None
    }

  /** Every v1 file scan in a query's EXECUTED plan, unwrapping the AQE
    * wrapper nodes a plain collect cannot see through: a global sort
    * plans under AdaptiveSparkPlanExec, and AFTER execution the adaptive
    * plan's subtrees live inside QueryStageExec wrappers (children = Nil,
    * subtree at `.plan`). Shared by the driver entries' fired-rewrite
    * probes and the specs; callers with a two-table plan (batch / range
    * join over a parquet queries table) pick the CORPUS scan by its
    * list_id output — traversal order may surface the queries scan
    * first. */
  def fileSourceScans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    def find(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      val inTree = p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          find(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          find(q.plan)
      }.flatten
      // ALSO descend into plan-level subquery expressions (DPP partition
      // filters, scalar subqueries): after execution, AQE may satisfy a
      // main-tree stage as a ReusedExchange of a SUBQUERY's stage — the
      // batch PQ pipeline's candidate scan does exactly this (the DPP
      // build and the join share one exchange), leaving the only live
      // scan instance inside the expression tree. Main-tree scans come
      // FIRST so pre-execution callers keep their original pick.
      val inSubqueries = p.collect { case node => node }
        .flatMap(_.expressions)
        .flatMap(_.collect {
          case s: org.apache.spark.sql.execution.ExecSubqueryExpression =>
            find(s.plan)
        })
        .flatten
      inTree ++ inSubqueries
    }
    find(df.queryExecution.executedPlan)
  }

  /** The first file scan (see [[fileSourceScans]]) — the single-table
    * shapes' "did the rewrite reach the scan" probe. */
  def fileSourceScan(df: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.sql.execution.FileSourceScanExec] =
    fileSourceScans(df).headOption

  /**
   * The rewrite itself. Runs in the "User Provided Optimizers" batch
   * (fixed point), so it must be IDEMPOTENT: the injected In-filter is
   * detected by semantic equality and the plan is returned untouched on
   * the second pass.
   */
  private object AnnTopKPruneRule extends Rule[LogicalPlan] with PredicateHelper {

    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.transformDown {
        case gl @ GlobalLimit(_, ll @ LocalLimit(_,
            s @ Sort(order, true, p: Project, _))) if order.nonEmpty =>
          // the literal k feeds the PQ path's candidate-pool size
          // (candK = max(rerankK, k)); the flat path never needs it
          val kOpt = gl.limitExpr match {
            case Literal(i: Int, IntegerType) => Some(i)
            case _ => None
          }
          tryRewrite(order.head, p, kOpt) match {
            case Some(np) =>
              gl.copy(child = ll.copy(child = s.copy(child = np)))
            case None => gl
          }
        // fixed-radius shape: WHERE l2_distance(vec, lit) <= r — unlike
        // top-k, this rewrite is SEMANTICS-PRESERVING (the covering-ball
        // prune is a metric-space bound, reverse triangle inequality — no
        // false dismissals), so it needs no opt-in beyond registering the
        // radii. L2 natively; cosine through the unit-norm bridge when
        // the registration attests normalized vectors.
        case f: Filter =>
          tryRangeRewrite(f).getOrElse(f)
        // BATCH top-k shape: per-query rank over a join of a queries table
        // with a registered table — the SQL twin of the facade's
        // searchBatch (the reference DECLARES search_batch and never
        // implements it, engine/ivf_flat_index.h:55-67). Keyed off the
        // WindowGroupLimit node Spark's own InferWindowGroupLimit inserts
        // for `row_number()/rank() OVER (PARTITION BY qid ORDER BY dist)
        // <= k` filters — its presence IS the proof of top-k intent.
        case wgl: WindowGroupLimit =>
          tryBatchRewrite(wgl).getOrElse(wgl)
        // fixed-radius JOIN shape: `FROM q, t WHERE l2_distance(t.vec,
        // q.qvec) <= r` — the SQL similarity join. EXACT like the
        // single-table range rewrite (the covering-ball prune keeps the
        // original predicate), so no opt-in shape needed beyond
        // registered radii: the cartesian becomes an equi-join on the
        // intersecting lists.
        case j: Join =>
          tryRangeJoinRewrite(j).getOrElse(j)
      }

    /** The single-table fixed-radius shapes: the filter directly over the
      * relation (the canonical layout after predicate pushdown), or above
      * the Project a VIEW leaves when its project list is not
      * push-through-able (a non-deterministic computed column — e.g. a
      * generated-id — blocks the main optimizer from pushing ANY
      * predicate below it). The list_id prune is OURS to place: it only
      * removes rows the KEPT distance bound drops anyway, so injecting it
      * under the Project is semantics-preserving for every deterministic
      * output column (non-deterministic columns have no cross-plan value
      * contract to preserve — AQE renumbering already changes them). */
    private def tryRangeRewrite(f: Filter): Option[Filter] = {
      val (projs, filtOpt, rel) = relParts(f.child).getOrElse(return None)
      // under-Project injection shifts non-deterministic computed values
      // of surviving rows — out of contract when another conjunct of THIS
      // filter predicates on such a column (see nonDeterministicOutputs)
      if (projs.nonEmpty) {
        val tainted = nonDeterministicOutputs(projs)
        if (tainted.nonEmpty &&
            f.condition.references.exists(r => tainted(r.exprId)))
          return None
      }
      val (extra, newCond) = rangeConjunct(f.condition, rel, projs, filtOpt)
        .getOrElse(return None)
      Some((projs, filtOpt) match {
        case (Nil, None) => f.copy(condition = And(newCond, extra))
        case (ps, None) =>
          f.copy(condition = newCond, child = rebuild(ps, Filter(extra, rel)))
        case (ps, Some(inner)) =>
          f.copy(condition = newCond, child =
            rebuild(ps, inner.copy(condition = And(inner.condition, extra))))
      })
    }

    /** The `list_id` conjunct a range predicate implies — paired with
      * the ORIGINAL condition rewritten so its radius literal rides the
      * references array ([[graft.functions.DoubleRef]], round 20) — or
      * None when the shape doesn't match / radii are unregistered /
      * already injected (in `cond` itself or in the inner filter under
      * the view's Project). */
    private def rangeConjunct(
        cond: Expression, rel: LogicalRelation,
        proj: List[Project], inner: Option[Filter])
        : Option[(Expression, Expression)] = {
      val reg = lookup(rel).getOrElse(return None)
      // round 20: a relation listing more bytes than the bounds
      // signature was grown by a writer this registration never heard
      // about (a foreign process) — its radii under-cover, so skip the
      // prune (full scan of the kept original predicate: exact)
      if (!boundsFresh(reg, rel)) return None
      val radii = reg.radii.getOrElse(return None)
      val listAttr = rel.output.find(o =>
        o.name == reg.listCol && o.dataType == IntegerType).getOrElse(return None)
      val conjuncts = splitConjunctivePredicates(cond)
      def qvecOf(d: Expression): Option[(Array[Float], Metric.Value)] = d match {
        case VectorDistance(v: AttributeReference,
            Literal(q: ArrayData, ArrayType(FloatType, _)), m)
            if q != null && vecOfRelation(rel, reg, resolveThrough(proj, v)) =>
          floats(q, reg).map((_, m))
        case VectorDistance(Literal(q: ArrayData, ArrayType(FloatType, _)),
            v: AttributeReference, m)
            if q != null && vecOfRelation(rel, reg, resolveThrough(proj, v)) =>
          floats(q, reg).map((_, m))
        case _ => None
      }
      // the list set a dist-under-bound conjunct implies: the squared-L2
      // covering ball for L2 (a true metric); for cosine over a
      // unit-norm-attested table, the bridge bound (1−cos = ‖a−b‖²/2
      // exactly at unit norms; cosineL2Bound absorbs the ±UnitNormTol
      // attestation slack) — the LITERAL's norm is checked here on the
      // driver, a degenerate query vector simply doesn't prune; for IP,
      // the Cauchy–Schwarz ball bound (round 16 —
      // VectorKernels.ipRangeProbeLists: IP is not a metric, but the
      // covering ball is an L2 fact that bounds the dot exactly).
      def l2RadiusOf(q: Array[Float], r: Double, m: Metric.Value): Option[Double] =
        m match {
          case Metric.L2 => Some(r)
          case Metric.Cosine
              if reg.unitNorm &&
                math.abs(VectorKernels.norm(q) - 1.0) <= UnitNormTol =>
            Some(VectorKernels.cosineL2Bound(r, UnitNormTol))
          case _ => None
        }
      def ball(d: Expression, r: Double): Option[Set[Int]] =
        qvecOf(d).flatMap { case (q, m) =>
          m match {
            case Metric.InnerProduct =>
              Some(VectorKernels.ipRangeProbeLists(
                q, reg.centroids, radii, r).toSet)
            case _ =>
              l2RadiusOf(q, r, m).map(intersecting(q, _, reg.centroids, radii))
          }
        }
      // every dist-under-bound conjunct contributes a covering-ball list
      // set; multiple bounds intersect (all must hold). A NaN radius is
      // NOT prune-able: Spark's comparison semantics treat NaN as larger
      // than every double, so `dist <= NaN` keeps EVERY row — the
      // IEEE-driver-side bound (where sqrt(NaN) comparisons are all
      // false) would turn that into zero rows. Leave NaN untouched.
      val bounds = conjuncts.flatMap {
        case LessThanOrEqual(d, Literal(r: Double, DoubleType)) if !r.isNaN =>
          Some((d, r))
        case LessThan(d, Literal(r: Double, DoubleType)) if !r.isNaN =>
          Some((d, r))
        case GreaterThanOrEqual(Literal(r: Double, DoubleType), d) if !r.isNaN =>
          Some((d, r))
        case GreaterThan(Literal(r: Double, DoubleType), d) if !r.isNaN =>
          Some((d, r))
        case _ => None
      }
      val listSets = bounds.flatMap { case (d, r) => ball(d, r) }
      if (listSets.isEmpty) return None
      val lists = listSets.reduce(_ intersect _)
      // an empty intersection means NO list can hold a match (the exact
      // bound again — e.g. a negative radius, which matches nothing on
      // either side: squared distance is non-negative and non-NaN rows
      // compare false): plan a constant-false conjunct instead of an In
      // Catalyst would reject as empty
      val inExpr: Expression =
        if (lists.isEmpty) Literal(false)
        else In(listAttr, lists.toSeq.sorted.map(i => Literal(i)))
      val innerConjuncts =
        inner.toSeq.flatMap(i => splitConjunctivePredicates(i.condition))
      if ((conjuncts ++ innerConjuncts).exists(_.semanticEquals(inExpr)))
        return None
      // PQ candidate-list refinement (round 18, the r17 design note's
      // derivation made real — see PqRangeKeep's proof): when the
      // registration carries per-list max quantization errors, a
      // codes-only DPP build marks the ball lists that actually hold an
      // ADC-plausible candidate, and the vector scan skips the rest.
      // L2 bounds via the triangle inequality, IP bounds via
      // Cauchy–Schwarz (the tightest per metric is used, L2 preferred);
      // SOUND because the keep bound admits a superset of the true
      // matches and the ORIGINAL predicate stays — the refinement can
      // only remove lists no match lives in. Growth safety: the facade's
      // append MERGES max(old, batchMax) into the errs in place (round
      // 19, mergeAppendBounds); out-of-band growth falls back via
      // invalidateRadii before a stale bound could dismiss.
      val refine: Option[Expression] =
        if (lists.isEmpty) None
        else {
          val pqBounds = bounds.flatMap { case (d, r) =>
            qvecOf(d).collect {
              case (q, m @ (Metric.L2 | Metric.InnerProduct)) => (q, r, m)
              // cosine (round 19): codes must encode normalized vectors
              // (cosineCodes), the stored norms must be attested (the
              // meta pass ALSO poisons out-of-tolerance rows, so a lying
              // attestation degrades to no-refinement), and the literal
              // must be near-unit — then the keep bound holds with the
              // kernel-eps slack folded into the radius
              case (q, Metric.Cosine)
                  if reg.unitNorm && reg.pq.exists(_.cosineCodes) &&
                    math.abs(VectorKernels.norm(q) - 1.0) <= UnitNormTol =>
                (q, r + VectorKernels.cosineKeepSlack(UnitNormTol),
                  Metric.Cosine)
            }
          }
          pqRangeDpp(reg, rel, listAttr, lists, pqBounds)
        }
      // round 20 (r19 verdict #4 / watch #1): the radius is the ONE
      // value-bearing token left in this family's generated filter
      // source (the query vector, codebooks, errs and PqRangeKeep all
      // ride the references array already) — substitute the
      // reference-backed twin so per-request radii stop compiling one
      // filter-stage class per distinct value. Value-preserving by
      // construction; non-foldable so ConstantFolding cannot undo it;
      // and idempotence is unaffected (the injected In conjunct is
      // detected by semantic equality, and a later pass that no longer
      // sees a Literal radius simply leaves the already-rewritten plan
      // alone).
      val newCond = cond.transformUp {
        case LessThanOrEqual(d, Literal(r: Double, DoubleType))
            if !r.isNaN && qvecOf(d).isDefined =>
          LessThanOrEqual(d, graft.functions.DoubleRef(r))
        case LessThan(d, Literal(r: Double, DoubleType))
            if !r.isNaN && qvecOf(d).isDefined =>
          LessThan(d, graft.functions.DoubleRef(r))
        case GreaterThanOrEqual(Literal(r: Double, DoubleType), d)
            if !r.isNaN && qvecOf(d).isDefined =>
          GreaterThanOrEqual(graft.functions.DoubleRef(r), d)
        case GreaterThan(Literal(r: Double, DoubleType), d)
            if !r.isNaN && qvecOf(d).isDefined =>
          GreaterThan(graft.functions.DoubleRef(r), d)
      }
      Some((refine.fold(inExpr)(d => And(inExpr, d)), newCond))
    }

    /** The refinement's DynamicPruningSubquery, or None when the
      * registration lacks PQ metadata / the shape lacks an L2 bound /
      * the relation lacks the codes column. The build side is a fresh
      * relation instance projected to (codes, list_id) — m+4 bytes per
      * probed row — filtered by the same static ball-list In plus
      * [[graft.functions.PqRangeKeep]]'s never-dismiss bound, emitting
      * the list ids that still hold a plausible candidate. Deterministic
      * by construction (scan + static filter + driver-known query), so
      * the standalone subquery execution is safe
      * (onlyInBroadcast = false — there is no join whose broadcast could
      * be reused; the build IS the point). */
    private def pqRangeDpp(
        reg: Registration,
        rel: LogicalRelation,
        listAttr: AttributeReference,
        lists: Set[Int],
        pqBounds: Seq[(Array[Float], Double, Metric.Value)]): Option[Expression] = {
      val pqInfo = reg.pq.getOrElse(return None)
      // round 20 freshness gate — same argument as rangeConjunct's
      if (!boundsFresh(reg, rel)) return None
      val (_, errsBc) = reg.pqErrPair.getOrElse(return None)
      // the tightest bound per metric refines hardest; any single bound
      // is sound. L2 preferred (the triangle bound is tighter than the
      // ‖q‖-scaled Cauchy–Schwarz one on typical geometry); cosine last
      // (its radius already carries the kernel-eps slack)
      val (q, r, metric) = pqBounds.filter(_._3 == Metric.L2)
        .minByOption(_._2)
        .orElse(pqBounds.filter(_._3 == Metric.InnerProduct).minByOption(_._2))
        .orElse(pqBounds.filter(_._3 == Metric.Cosine).minByOption(_._2))
        .getOrElse(return None)
      val hasCodes = rel.output.exists(o => o.name == pqInfo.codeCol &&
        (o.dataType match {
          case ArrayType(ByteType, _) => true
          case _ => false
        }))
      if (!hasCodes) return None
      val relCand = rel.newInstance()
      val cCodes = relCand.output.find(_.name == pqInfo.codeCol).get
      val cList = relCand.output.find(_.name == reg.listCol).get
      val keep = graft.functions.PqRangeKeep(
        cCodes, cList, q.toIndexedSeq, r, pqInfo.codebooksBc, errsBc,
        metric.id)
      val candIn = In(cList, lists.toSeq.sorted.map(i => Literal(i)))
      val cand = Project(Seq(cList), Filter(And(candIn, keep), relCand))
      Some(DynamicPruningSubquery(
        pruningKey = listAttr,
        buildQuery = cand,
        buildKeys = Seq(cList),
        broadcastKeyIndices = Seq(0),
        onlyInBroadcast = false))
    }

    /** Lists whose covering ball intersects the query ball:
      * ||q − c_l|| <= sqrt(radius) + maxR(l) — the same exact prune as
      * [[graft.index.IvfFlatIndex.rangeProbe]] (see its proof). A NaN
      * covering radius (a NaN vector component poisons the max()
      * aggregation that computed it) makes the IEEE test false, which
      * would FALSELY DISMISS the list's healthy members — treat it as
      * unbounded instead (never prune that list). */
    private def intersecting(
        q: Array[Float], radius: Double,
        centroids: Array[Array[Float]], radii: Array[Double]): Set[Int] = {
      val r = math.sqrt(radius)
      (0 until centroids.length).iterator.filter(l =>
        radii(l).isNaN ||
          math.sqrt(VectorKernels.l2(q, centroids(l))) <= r + radii(l)).toSet
    }

    private def vecOfRelation(
        rel: LogicalRelation, reg: Registration,
        v: AttributeReference): Boolean =
      rel.output.exists(o => o.exprId == v.exprId && o.name == reg.vecCol)

    /** Resolve an attribute through a chain of view Projects' aliases
      * (outermost-first) down to the relation's own attribute: a
      * pass-through keeps its exprId and resolves as itself; a simple
      * re-alias follows the chain level by level; a COMPUTED alias stays
      * unresolved and fails vecOfRelation (a derived vector has no
      * registered geometry). */
    @annotation.tailrec
    private def resolveThrough(
        projs: List[Project], v: AttributeReference): AttributeReference =
      projs match {
        case Nil => v
        case p :: rest =>
          p.projectList.collectFirst {
            case al: Alias if al.exprId == v.exprId => al.child
          } match {
            case Some(ar: AttributeReference) => resolveThrough(rest, ar)
            case Some(_) => v // computed: fails vecOfRelation upstream
            case None => resolveThrough(rest, v)
          }
      }

    /** Output exprIds of a Project chain whose values derive (directly or
      * transitively) from a NON-DETERMINISTIC computed column. The range
      * rewrite must not inject below the chain when another conjunct of
      * the outer filter references one of these: removing rows below a
      * non-deterministic Project shifts the surviving rows' computed
      * values (e.g. monotonically_increasing_id counters), so a predicate
      * over them could select a DIFFERENT row set than the unrewritten
      * plan — Spark's own pushdown refuses that case for the same reason
      * (r15 advice; output-only references remain in contract, matching
      * the AQE-renumbering argument). */
    private def nonDeterministicOutputs(projs: List[Project]): Set[ExprId] = {
      var tainted = Set.empty[ExprId]
      projs.reverse.foreach { p => // innermost first
        tainted = p.projectList.collect {
          case al: Alias if !al.child.deterministic ||
              al.child.references.exists(r => tainted(r.exprId)) => al.exprId
          case ar: AttributeReference if tainted(ar.exprId) => ar.exprId
        }.toSet
      }
      tainted
    }

    private def floats(q: ArrayData, reg: Registration): Option[Array[Float]] = {
      val arr = try q.toFloatArray() catch { case _: NullPointerException => return None }
      if (arr.length == reg.centroids.head.length) Some(arr) else None
    }

    /** Match `ORDER BY <registered distance> ASC` and inject the probe
      * filter under the projection. */
    private def tryRewrite(
        head: SortOrder, p: Project, kOpt: Option[Int]): Option[Project] = {
      if (head.direction != Ascending) return None
      // the sort key is usually an attribute referencing the projection's
      // distance alias — resolve it; a bare inline expression also works
      val distE = head.child match {
        case a: AttributeReference =>
          p.projectList.collectFirst {
            case al: Alias if al.exprId == a.exprId => al.child
          }.getOrElse(return None)
        case e => e
      }
      val (vecAttr, qLit, metric) = distE match {
        case VectorDistance(v: AttributeReference,
            Literal(q: ArrayData, ArrayType(FloatType, _)), m) => (v, q, m)
        case VectorDistance(Literal(q: ArrayData, ArrayType(FloatType, _)),
            v: AttributeReference, m) => (v, q, m) // all three metrics are symmetric
        case _ => return None
      }
      if (qLit == null) return None
      pruned(p.child, vecAttr, qLit, metric, kOpt, p.references)
        .map(c => p.copy(child = c))
    }

    private def pruned(
        child: LogicalPlan,
        vecAttr: AttributeReference,
        qLit: ArrayData,
        metric: Metric.Value,
        kOpt: Option[Int],
        required: AttributeSet): Option[LogicalPlan] = child match {
      // top-k with a metadata join: `FROM t JOIN dims ON ... ORDER BY
      // l2_distance(t.vec, lit) LIMIT k` — prune the REGISTERED side
      // before the join. Commutes with the nprobe contract for
      // Inner/Cross (candidates = t-rows in probed lists, joined or
      // not) and for the PRESERVED side of an outer/semi/anti join
      // (round 16): in `t LEFT JOIN dims` every output row derives from
      // exactly one t row, so the probe filter under t only removes
      // candidate rows the approximation already lets it drop — the
      // common "metadata may be missing" serving idiom. The
      // NULL-PRODUCING side is never pruned: dropping its rows would
      // flip matched rows to null-extended ones, a semantics change the
      // nprobe contract does not cover (and prunedParts can only fire on
      // the side that owns the registered vector column, so a LeftOuter
      // whose distance is over the RIGHT side stays untouched).
      case j: Join =>
        // each permitted side tries the PQ two-scan pipeline first (the
        // required-attribute set gains the join condition's references so
        // the rerank-side column prune keeps every column the join needs),
        // then the flat probe prune. Same non-det guard as the batch and
        // range-join rewrites: a join keyed on a (transitively) non-det
        // view column must not have rows removed below that Project —
        // the surviving rows' computed values would shift and match
        // DIFFERENT rows, changing joined output values, not just
        // dropping candidates.
        val req = required ++ j.references
        def prune(side: LogicalPlan): Option[LogicalPlan] = {
          val guarded = relParts(side).exists { case (projs, _, _) =>
            joinPredicatesOverNonDet(j, projs)
          }
          if (guarded) None
          else prunedPqParts(side, vecAttr, qLit, metric, kOpt, req)
            .orElse(prunedParts(side, vecAttr, qLit, metric))
        }
        def left = prune(j.left).map(nl => j.copy(left = nl))
        def right = prune(j.right).map(nr => j.copy(right = nr))
        j.joinType match {
          case Inner | Cross => left.orElse(right)
          case LeftOuter | LeftSemi | LeftAnti => left
          case RightOuter => right
          case _ => None
        }
      // single-relation: the PQ-accelerated two-scan pipeline when the
      // registration opted in (and the shape is the canonical direct
      // one), else the flat probe prune
      case _ => prunedPqParts(child, vecAttr, qLit, metric, kOpt, required)
        .orElse(prunedParts(child, vecAttr, qLit, metric))
    }

    /**
     * The PQ top-k rewrite (round 16): for a [[PqInfo]]-registered
     * relation, replace the relation under the user's Project with
     *
     * {{{
     *   Join(Inner, candIds == rel.id,
     *     candIds = Project(id,
     *       Limit(candK, Sort(adc(codes) ASC, id ASC,
     *         Project(id, adc), Filter(list_id IN probes, relCopy)))),
     *     rerank  = Filter(list_id IN probes, rel))
     * }}}
     *
     * so the outer `Sort(l2_distance(vec, lit)) LIMIT k` reranks EXACTLY
     * over the ADC top-candK candidates. Two scans by design: the
     * candidate scan reads ONLY (id, codes) — m bytes per row instead of
     * 4·dim — and the rerank scan reads (id, vec) of the probed lists
     * joined against candK ids (a broadcast: Limit stats bound the build
     * side). The rerank side keeps the ORIGINAL relation instance, so
     * the user Project's attribute references stay valid; the candidate
     * side is a fresh [[LogicalRelation.newInstance]] (self-join
     * discipline: no duplicate exprIds in one plan).
     *
     * Semantics: approximate at (nprobe, rerankK) — strictly MORE
     * faithful than ADC alone (the reference's only implemented PQ idea)
     * because the surviving k are true distances. L2 and IP always;
     * cosine behind the `cosineCodes` attestation (see the metric gate
     * below). Shapes with a view Project or pushed Filter above the
     * relation fall back to the flat prune (correct, just uncompressed).
     */
    private def prunedPqParts(
        child: LogicalPlan,
        vecAttr: AttributeReference,
        qLit: ArrayData,
        metric: Metric.Value,
        kOpt: Option[Int],
        required: AttributeSet): Option[LogicalPlan] = {
      // bare relation OR a Project chain over it (the column-pruning
      // Project a join side always carries, or computed-column views),
      // optionally over a pushed Filter (a user WHERE, or the
      // isnotnull(...) constraints a join's keys push down). A
      // DETERMINISTIC filter is REPLICATED into the ADC candidate stage
      // (rebased onto the fresh relation instance), so the candidate
      // pool is the ADC top-candK of the rows that actually qualify —
      // at full coverage the pipeline stays exact under the filter. A
      // non-deterministic filter falls back to the flat prune: a
      // replicated re-draw would make the two stages disagree on
      // membership.
      val (projs, filtOpt, rel) = relParts(child).getOrElse(return None)
      filtOpt.foreach { f =>
        if (f.condition.exists(!_.deterministic)) return None
      }
      val reg = lookup(rel).getOrElse(return None)
      val pqInfo = reg.pq.getOrElse(return None)
      // L2 and IP ride the metric-generic ADC tables directly; COSINE
      // additionally requires the `cosineCodes` attestation (codes
      // encoded from NORMALIZED vectors — IvfPqIndex.build(Cosine)'s
      // layout) because the cosine ADC table assumes decode(code) ≈ v̂.
      // Either way the kept exact rerank bounds a false attestation's
      // damage to candidate recall, never to the scored distances.
      metric match {
        case Metric.L2 | Metric.InnerProduct =>
        case Metric.Cosine if pqInfo.cosineCodes =>
        case _ => return None
      }
      val k = kOpt.getOrElse(return None)
      if (!vecOfRelation(rel, reg, resolveThrough(projs, vecAttr))) return None
      val listAttr = rel.output.find(o =>
        o.name == reg.listCol && o.dataType == IntegerType).getOrElse(return None)
      // idCol contract (PqInfo scaladoc): non-null and unique, or the
      // candidate ids don't rejoin 1:1. NOT a static nullability check —
      // file-source schemas are always asNullable on read, so that test
      // would disable the path on every parquet table; the checkable
      // version lives in verifyPqCodes (id null/dup counts in the same
      // sampled pass), opted into at registration
      val idAttr = rel.output.find(_.name == pqInfo.idCol).getOrElse(return None)
      val hasCodes = rel.output.exists(o => o.name == pqInfo.codeCol &&
        (o.dataType match {
          case ArrayType(ByteType, _) => true
          case _ => false
        }))
      if (!hasCodes) return None
      val q = try qLit.toFloatArray() catch { case _: NullPointerException => return None }
      if (q.length != reg.centroids.head.length) return None
      val probes = VectorKernels.probeLists(
        q, reg.centroids, reg.nprobe, metric.id)
      if (probes.isEmpty) return None
      val probeLits = probes.sorted.toSeq.map(i => Literal(i))
      val inExpr = In(listAttr, probeLits)
      // idempotence under the fixed-point batch: our own rerank side IS a
      // (chain over) Filter carrying this exact In conjunct
      filtOpt.foreach { f =>
        if (splitConjunctivePredicates(f.condition).exists(_.semanticEquals(inExpr)))
          return None
      }

      // candidate side: fresh relation instance, (id, codes) only; list_id
      // rides along because it doubles as the rerank scan's DPP build key
      val relCand = rel.newInstance()
      def cand(name: String): AttributeReference =
        relCand.output.find(_.name == name).get
      val cId = cand(pqInfo.idCol)
      val cList = cand(reg.listCol)
      // the pushed filter, rebased onto the fresh instance's exprIds
      val attrMap = AttributeMap(rel.output.zip(relCand.output))
      val candCond = filtOpt.map(_.condition.transform {
        case a: AttributeReference => attrMap.getOrElse(a, a)
      }) match {
        case Some(c) => And(c, In(cList, probeLits))
        case None => In(cList, probeLits)
      }
      val adcAlias = Alias(
        graft.functions.PqAdcDistance(cand(pqInfo.codeCol),
          q.toIndexedSeq, pqInfo.codebooksBc, metric.id),
        "__graft_adc")()
      val candProj = Project(Seq(cId, cList, adcAlias),
        Filter(candCond, relCand))
      val candK = math.max(pqInfo.rerankK, k)
      // NULLS LAST, not the Ascending default (nulls first): PqAdcDistance
      // is null-intolerant, so un-coded rows (e.g. appended after
      // encoding) carry a NULL adc — nulls-first would FLOOD the pool
      // with them ahead of every real candidate. Nulls-last gives every
      // flavor of unscorable codes (NULL, wrong length, foreign bytes →
      // MaxValue) the SAME semantics: ranked after all scorable rows,
      // still reachable by the exact rerank when candK is large enough —
      // at full coverage the pipeline stays exact over ALL rows.
      val candTop = GlobalLimit(Literal(candK), LocalLimit(Literal(candK),
        Sort(Seq(SortOrder(adcAlias.toAttribute, Ascending, NullsLast, Seq.empty),
          SortOrder(cId, Ascending)), global = true, candProj)))
      val candIds = Project(Seq(cId), candTop)
      // rerank side: ORIGINAL instance (the user Project references it),
      // pruned TWICE — statically to the probed lists, and DYNAMICALLY to
      // the lists the top-candK candidates actually live in (typically a
      // small subset of nprobe on clustered data): without the DPP the
      // rerank scan would read (id, vec) of EVERY probed list, i.e. the
      // same bytes as the flat path, and the codes scan would save
      // nothing net. The DPP build re-executes the candidate stage
      // (onlyInBroadcast = false; the join's broadcast is keyed by id,
      // not list) — safe because that stage is deterministic by
      // construction (parquet scan + static filter + ADC expression +
      // (adc, id)-ordered limit), and cheap because it reads only the
      // m-byte codes column. An explicit column-pruning Project keeps
      // codes out of the rerank scan (ColumnPruning already ran).
      val dpp = DynamicPruningSubquery(
        pruningKey = listAttr,
        buildQuery = candTop,
        buildKeys = Seq(cList),
        broadcastKeyIndices = Seq(0),
        onlyInBroadcast = false)
      // rerank inner filter: the ORIGINAL pushed predicate (kept — it is
      // the semantics), plus the static probe In, plus the candidate-list
      // DPP
      val inner = filtOpt match {
        case Some(f) => f.copy(condition = And(f.condition, And(inExpr, dpp)))
        case None => Filter(And(inExpr, dpp), rel)
      }
      val rerank: LogicalPlan =
        if (projs.isEmpty) {
          // bare relation: insert our own column-pruning Project
          val keep = rel.output.filter(a =>
            a.exprId == idAttr.exprId || required.contains(a))
          Project(keep, inner)
        } else {
          // Project chain: it IS the column pruning — rebuild it over the
          // pruned filter, exposing the id column for the candidate join
          exposeThrough(projs, idAttr, inner)
        }
      Some(Join(candIds, rerank, Inner,
        Some(EqualTo(cId, idAttr)), JoinHint.NONE))
    }

    /** The single-side prune: relParts (the relation directly, under a
      * pushed Filter, or under a view's Project whose computed columns
      * blocked predicate pushdown — the probe filter is injected UNDER
      * the Project, directly over the relation; it only removes rows the
      * nprobe contract already lets the approximation drop). */
    private def prunedParts(
        child: LogicalPlan,
        vecAttr: AttributeReference,
        qLit: ArrayData,
        metric: Metric.Value): Option[LogicalPlan] = {
      val (projs, filtOpt, rel) = relParts(child).getOrElse(return None)
      val reg = lookup(rel).getOrElse(return None)
      // the distance must be over THIS relation's registered vector
      // column (resolved through view aliases when projected)
      if (!vecOfRelation(rel, reg, resolveThrough(projs, vecAttr)))
        return None
      val listAttr = rel.output.find(o =>
        o.name == reg.listCol && o.dataType == IntegerType).getOrElse(return None)
      // a malformed literal (nulls inside, wrong dim) falls back to the
      // exact scan — the rule must never fail a query it could leave alone
      val q = try qLit.toFloatArray() catch { case _: NullPointerException => return None }
      if (q.length != reg.centroids.head.length) return None
      val probes = VectorKernels.probeLists(
        q, reg.centroids, reg.nprobe, metric.id)
      if (probes.isEmpty) return None
      val inExpr = In(listAttr, probes.sorted.toSeq.map(i => Literal(i)))
      // idempotence under the fixed-point batch
      if (filtOpt.exists(f =>
          splitConjunctivePredicates(f.condition).exists(_.semanticEquals(inExpr))))
        return None
      val newInner: LogicalPlan = filtOpt match {
        case Some(f) => f.copy(condition = And(f.condition, inExpr))
        case None => Filter(inExpr, rel)
      }
      Some(rebuild(projs, newInner))
    }

    // ---- the BATCH rewrite ------------------------------------------------

    /** Query batches larger than this skip the driver-side STATIC union
      * filter (each row costs nlist dot products on the driver at
      * optimization time); the per-query join prune still applies — only
      * the scan-level partition filter is lost. Mirrors the facade's
      * static-vs-join crossover idea (IvfFlatIndex.MaxStaticBatch). */
    private val MaxStaticProbeRows = 4096

    /**
     * Rewrite
     *
     * {{{
     *   SELECT ... FROM (
     *     SELECT q.qid, t.id, l2_distance(t.vec, q.qvec) AS dist,
     *       row_number() OVER (PARTITION BY q.qid
     *                          ORDER BY l2_distance(t.vec, q.qvec), ...) rn
     *     FROM queries q, registered t)
     *   WHERE rn <= k
     * }}}
     *
     * — which Spark has already turned into `WindowGroupLimit` over
     * `Project` over an unconditioned inner `Join` — into the probe-pruned
     * equi-join plan the facade's `searchBatch`/`searchJoinPruned`
     * composes: the queries side gains `explode(probe_lists(qvec))` (a
     * [[Generate]] emitting one row per probed list), the join becomes an
     * EQUI-join on `probe = t.list_id` (broadcast-hash for small batches,
     * co-partitioned shuffle for floods — never a cartesian), and when the
     * query batch is a [[LocalRelation]] the UNION of all per-query probes
     * is injected as a static `list_id IN (...)` filter that reaches the
     * scan as a PartitionFilter. Per-pair semantics: a (query row, corpus
     * row) pair survives iff the corpus row's list is among that query's
     * `nprobe` nearest — at nprobe = nlist every pair survives and the
     * rewrite is EXACT. Query rows with NULL vectors produce no pairs
     * (facade semantics: null queries yield no rows; the unrewritten plan
     * would rank every corpus row under a NULL distance instead — part of
     * the registered table's ANN opt-in).
     */
    private def tryBatchRewrite(wgl: WindowGroupLimit): Option[WindowGroupLimit] = {
      if (wgl.orderSpec.isEmpty || wgl.orderSpec.head.direction != Ascending)
        return None
      val (projOpt, join) = wgl.child match {
        case p @ Project(_, j: Join) => (Some(p), j)
        case j: Join => (None, j)
        case _ => return None
      }
      join.joinType match {
        case Inner | Cross =>
        case _ => return None
      }
      // primary sort key -> distance expression (through the Project's
      // aliases when the inner SELECT named it)
      val distE = wgl.orderSpec.head.child match {
        case a: AttributeReference =>
          projOpt.flatMap(_.projectList.collectFirst {
            case al: Alias if al.exprId == a.exprId => al.child
          }).getOrElse(return None)
        case e => e
      }
      val (a1, a2, metric) = distE match {
        case VectorDistance(x: AttributeReference, y: AttributeReference, m) =>
          (x, y, m)
        case _ => return None
      }
      attemptBatch(wgl, projOpt, join, a1, a2, metric,
        relSide = join.right, qSide = join.left, relIsLeft = false)
        .orElse(attemptBatch(wgl, projOpt, join, a1, a2, metric,
          relSide = join.left, qSide = join.right, relIsLeft = true))
    }

    /** The registered relation under a join side, with whatever
      * column-pruning / view Projects and pushed Filter sit above it.
      * Projects are returned OUTERMOST-FIRST and may be STACKED (round
      * 16): two non-collapsible view Projects — each holding a
      * non-deterministic computed column, which CollapseProject will not
      * merge — used to silently lose the prune; a recursive peel keeps
      * it. The Filter, when present, sits directly above the relation
      * (the canonical post-pushdown layout; a filter WEDGED between two
      * non-collapsible Projects is out of scope and safely unmatched). */
    private def relParts(side: LogicalPlan)
        : Option[(List[Project], Option[Filter], LogicalRelation)] = {
      def peel(p: LogicalPlan, acc: List[Project])
          : Option[(List[Project], Option[Filter], LogicalRelation)] =
        p match {
          case r: LogicalRelation => Some((acc.reverse, None, r))
          case f @ Filter(_, r: LogicalRelation) => Some((acc.reverse, Some(f), r))
          case pr: Project => peel(pr.child, pr :: acc)
          case _ => None
        }
      peel(side, Nil)
    }

    /** Rebuild an outermost-first Project chain over a new innermost
      * child — the inverse of [[relParts]]'s peel. */
    private def rebuild(projs: List[Project], inner: LogicalPlan): LogicalPlan =
      projs.foldRight(inner)((p, c) => p.copy(child = c))

    /** [[rebuild]], additionally exposing `attr` through EVERY level of
      * the chain (appended when a level's projectList lacks it) — the
      * join-condition discipline shared by the batch rewrite's list_id
      * and the PQ rerank side's id column. */
    private def exposeThrough(
        projs: List[Project],
        attr: AttributeReference,
        inner: LogicalPlan): LogicalPlan =
      projs.foldRight(inner) { (p, c) =>
        val pl =
          if (p.projectList.exists(_.exprId == attr.exprId)) p.projectList
          else p.projectList :+ attr
        p.copy(projectList = pl, child = c)
      }

    /** True when any of the join's condition conjuncts references a
      * (transitively) non-deterministic output of the relation side's
      * view chain — the join twin of [[tryRangeRewrite]]'s guard: the
      * injected probe filter below such a Project shifts the surviving
      * rows' computed values, and a predicate over them could then
      * select a different match set than the unrewritten plan. */
    private def joinPredicatesOverNonDet(
        join: Join, projs: List[Project]): Boolean = {
      if (projs.isEmpty) return false
      val tainted = nonDeterministicOutputs(projs)
      tainted.nonEmpty &&
        join.condition.exists(_.references.exists(r => tainted(r.exprId)))
    }

    private def attemptBatch(
        wgl: WindowGroupLimit,
        projOpt: Option[Project],
        join: Join,
        a1: AttributeReference,
        a2: AttributeReference,
        metric: Metric.Value,
        relSide: LogicalPlan,
        qSide: LogicalPlan,
        relIsLeft: Boolean): Option[WindowGroupLimit] = {
      val (projR, filtR, rel) = relParts(relSide).getOrElse(return None)
      // same hazard as the single-table range guard: injecting the probe
      // filter below a non-deterministic view Project shifts the
      // surviving rows' computed values, so a join conjunct over such a
      // column could select a different match set
      if (joinPredicatesOverNonDet(join, projR)) return None
      val reg = lookup(rel).getOrElse(return None)
      // which distance operand is the registered corpus column, which the
      // query vector? (VectorDistance is symmetric for all three metrics;
      // the corpus side resolves through view aliases)
      val (corpusV, queryV) =
        if (vecOfRelation(rel, reg, resolveThrough(projR, a1)) &&
            qSide.outputSet.contains(a2)) (a1, a2)
        else if (vecOfRelation(rel, reg, resolveThrough(projR, a2)) &&
            qSide.outputSet.contains(a1)) (a2, a1)
        else return None
      if (!relSide.outputSet.contains(corpusV)) return None
      queryV.dataType match {
        case ArrayType(FloatType, _) =>
        case _ => return None
      }
      // the rank must be PER QUERY: every partition key comes from the
      // queries side (partitioning by a corpus column is not an ANN shape)
      if (wgl.partitionSpec.isEmpty ||
          !wgl.partitionSpec.forall(_.references.subsetOf(qSide.outputSet)))
        return None
      // idempotence under the fixed-point batch: the rewritten plan's
      // queries side IS the Generate we injected
      val alreadyRewritten = qSide.exists {
        case Generate(e: Explode, _, _, _, _, _) => e.child.isInstanceOf[ProbeLists]
        case _ => false
      }
      if (alreadyRewritten) return None
      val listAttr = rel.output.find(o =>
        o.name == reg.listCol && o.dataType == IntegerType).getOrElse(return None)

      val staticLists = staticUnion(qSide, queryV, reg.centroids.head.length,
        arr => VectorKernels.probeLists(arr, reg.centroids, reg.nprobe, metric.id))
      // the PQ-compressed batch pipeline when the registration opted in
      // (round 17; literal + re-executable non-literal batches — see
      // attemptBatchPq); the flat probe equi-join otherwise
      val restored = attemptBatchPq(wgl, join, projR, filtR, rel, reg, qSide,
        relIsLeft, queryV, metric, listAttr, staticLists)
        .getOrElse(prunedJoin(join, projR, filtR, rel, qSide, relIsLeft,
          listAttr, "__graft_probe_list",
          Explode(ProbeLists(queryV, reg.centroidsBc, reg.nprobe, metric)),
          staticLists))
      Some(projOpt match {
        case Some(p) => wgl.copy(child = p.copy(child = restored))
        case None => wgl.copy(child = restored)
      })
    }

    /**
     * The BATCH flavor of the PQ two-scan pipeline (round 17; single-query
     * flavor: [[prunedPqParts]]): for a [[PqInfo]]-registered relation
     * under the per-query-rank join shape, feed the join from a
     * codes-only candidate stage instead of the flat vector scan —
     *
     * {{{
     *   Join(Inner, cand.id == rel.id [&& original cond],
     *     cand = Project(qSide.out :+ id,
     *       Filter(row_number() OVER (PARTITION BY qid
     *                ORDER BY adc(codes, qvec) NULLS LAST, id) <= candK,
     *         Project(qSide.out, id, list, adc,
     *           Join(Generate(explode(probe_lists(qvec)), qSide),
     *                Project(id, list, codes,
     *                  Filter(lists ∪ [+ pushed filter], relCopy)))))),
     *     rerank = Filter(lists ∪ AND dpp(candidates' lists)
     *                     [+ pushed filter], rel))
     * }}}
     *
     * so the outer WindowGroupLimit reranks EXACTLY (true distances) over
     * each query's ADC top-candK. The candidate stage reads (id, codes,
     * list_id) — m bytes of payload per row instead of 4·dim — and the
     * per-(query, code) ADC scores the named codeword directly
     * ([[graft.functions.PqAdcDistanceCol]]: O(dim) per pair, same as the
     * flat kernel's compute, the bytes read are the win). Unscorable rows
     * keep the unified semantics: NULL codes/queries → NULL adc (NULLS
     * LAST), wrong-length/foreign codes and wrong-dim queries → MaxValue
     * — ranked after every scorable row, reachable by the rerank.
     *
     * LITERAL batches: both scans additionally carry the static
     * probe-union partition filter. NON-literal (e.g. parquet-backed)
     * batches ride too (round 17) when the queries side provably
     * re-executes to the same rows (the rerank DPP's standalone-build
     * safety — same gate as the flat path's onlyInBroadcast decision);
     * their codes scan is deliberately UNPRUNED — a probe-union dynamic
     * filter there would nest inside the rerank DPP's build plan, and
     * for the flood-batch shape the union approaches every list anyway,
     * where the full m-byte codes column is still 4·dim/m cheaper than
     * the flat path's probed vectors. A non-re-executable batch falls
     * back to the flat DPP path (correct, uncompressed). Same gates as
     * the single-query flavor: metric (cosine behind `cosineCodes`),
     * deterministic pushed filters only (replicated into the candidate
     * stage), codes column present. Exact at nprobe = nlist with
     * rerankK >= corpus — the driver's `sql_pq_batch` geometry.
     *
     * The pre-join candidate-pool caveat (PqInfo scaladoc) applies to the
     * ORIGINAL join's own condition too: candidates are drawn before it
     * filters. For the canonical unconditioned cross join there is no
     * such condition and the contract is exactly (nprobe, rerankK).
     */
    private def attemptBatchPq(
        wgl: WindowGroupLimit,
        join: Join,
        projR: List[Project],
        filtR: Option[Filter],
        rel: LogicalRelation,
        reg: Registration,
        qSide: LogicalPlan,
        relIsLeft: Boolean,
        queryV: AttributeReference,
        metric: Metric.Value,
        listAttr: AttributeReference,
        staticLists: Option[Seq[Int]]): Option[LogicalPlan] = {
      val pqInfo = reg.pq.getOrElse(return None)
      metric match {
        case Metric.L2 | Metric.InnerProduct =>
        case Metric.Cosine if pqInfo.cosineCodes =>
        case _ => return None
      }
      filtR.foreach { f =>
        if (f.condition.exists(!_.deterministic)) return None
      }
      val idAttr = rel.output.find(_.name == pqInfo.idCol).getOrElse(return None)
      val hasCodes = rel.output.exists(o => o.name == pqInfo.codeCol &&
        (o.dataType match {
          case ArrayType(ByteType, _) => true
          case _ => false
        }))
      if (!hasCodes) return None
      // NON-literal batches (no derivable static union): still eligible
      // (round 17) when the queries side provably re-executes to the
      // same rows — the rerank's candidate-list DPP build runs the
      // candidate stage standalone, so a re-drawing side could prune
      // lists the join's actual candidates need (false dismissal).
      // Their codes scan stays UNPRUNED by design: the probe-union DPP
      // the flat path uses would nest a dynamic filter inside the
      // rerank DPP's build plan, and for the flood-batch shape (the one
      // a parquet batch usually is) the union approaches every list
      // anyway — a full scan of the m-byte codes column is the honest
      // plan and still dim·4/m cheaper than the flat path's vectors.
      if (staticLists.isEmpty && !reExecutesToSameRows(qSide)) return None
      val candK = math.max(pqInfo.rerankK, wgl.limit)

      def pruneOver(attr: AttributeReference): Option[Expression] =
        staticLists.map { lists =>
          if (lists.isEmpty) Literal(false)
          else In(attr, lists.map(i => Literal(i)))
        }

      // candidate stage: fresh relation instance projected to
      // (id, list_id, codes), statically pruned when the union is
      // derivable, pushed filter replicated (rebased onto fresh exprIds)
      val relCand = rel.newInstance()
      def cand(name: String): AttributeReference =
        relCand.output.find(_.name == name).get
      val cId = cand(pqInfo.idCol)
      val cList = cand(reg.listCol)
      val cCodes = cand(pqInfo.codeCol)
      val attrMap = AttributeMap(rel.output.zip(relCand.output))
      val rebasedFilt = filtR.map(_.condition.transform {
        case a: AttributeReference => attrMap.getOrElse(a, a)
      })
      val candBase: LogicalPlan =
        (rebasedFilt.toSeq ++ pruneOver(cList).toSeq).reduceOption(And) match {
          case Some(c) => Filter(c, relCand)
          case None => relCand
        }
      val codesProj = Project(Seq(cId, cList, cCodes), candBase)
      val listOut = AttributeReference(
        "__graft_pq_probe", IntegerType, nullable = false)()
      val qGen = Generate(
        Explode(ProbeLists(queryV, reg.centroidsBc, reg.nprobe, metric)),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(listOut), child = qSide)
      val candJoin = Join(qGen, codesProj, Inner,
        Some(EqualTo(listOut, cList)), JoinHint.NONE)
      val adcAlias = Alias(
        graft.functions.PqAdcDistanceCol(
          cCodes, queryV, pqInfo.codebooksBc, metric.id), "__graft_adc")()
      // cList rides along: it doubles as the rerank scan's DPP build key
      val withAdc = Project((qSide.output :+ cId) :+ cList :+ adcAlias, candJoin)
      // per-query ADC top-candK: row_number + rank filter, with the
      // group-limit node Spark's InferWindowGroupLimit would derive
      // inserted DIRECTLY below the Window — this rule runs after that
      // optimizer batch, so the shape must arrive pre-optimized or the
      // pool would fully materialize before filtering. NULLS LAST
      // mirrors the single-query pipeline's unscorable-row semantics.
      val candOrder = Seq(
        SortOrder(adcAlias.toAttribute, Ascending, NullsLast, Seq.empty),
        SortOrder(cId, Ascending))
      val rnAlias = Alias(
        WindowExpression(RowNumber(),
          WindowSpecDefinition(wgl.partitionSpec, candOrder,
            SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))),
        "__graft_cand_rn")()
      val window = Window(Seq(rnAlias), wgl.partitionSpec, candOrder,
        WindowGroupLimit(wgl.partitionSpec, candOrder, RowNumber(), candK,
          withAdc))
      val candFiltered =
        Filter(LessThanOrEqual(rnAlias.toAttribute, Literal(candK)), window)
      val candSide = Project(qSide.output :+ cId, candFiltered)
      // rerank side: ORIGINAL relation instance (upstream references stay
      // valid), original pushed filter KEPT, pruned TWICE like the
      // single-query pipeline — statically to the probe union, and
      // DYNAMICALLY to the lists the pooled candidates actually live in.
      // Without the DPP the rerank scan reads (id, vec) of EVERY probed
      // list — the union over the whole batch, measured at ~77% of the
      // corpus for 16 clustered queries at nprobe 16/256 — and the codes
      // scan saves nothing net (tools/SqlPqScale's batch flavor is the
      // measurement). The DPP build re-executes the candidate stage;
      // safe because every ingredient is deterministic by construction —
      // the queries side is a LocalRelation (the literal-batch gate),
      // the filter static, the ADC an expression, the pool a row_number
      // over the total (adc NULLS LAST, id) order — and cheap because it
      // reads only the m-byte codes column.
      val dpp = DynamicPruningSubquery(
        pruningKey = listAttr,
        buildQuery = candFiltered,
        buildKeys = Seq(cList),
        broadcastKeyIndices = Seq(0),
        onlyInBroadcast = false)
      val rerankPrune = pruneOver(listAttr) match {
        case Some(in) => And(in, dpp)
        case None => dpp
      }
      val rerankInner: LogicalPlan = filtR match {
        case Some(f) => f.copy(condition = And(f.condition, rerankPrune))
        case None => Filter(rerankPrune, rel)
      }
      val rerankSide: LogicalPlan =
        if (projR.isEmpty) rerankInner
        else exposeThrough(projR, idAttr, rerankInner)
      val candEq = EqualTo(cId, idAttr)
      val newCond = join.condition.map(And(_, candEq)).getOrElse(candEq)
      val (nl, nr) =
        if (relIsLeft) (rerankSide, candSide) else (candSide, rerankSide)
      Some(Project(join.output,
        Join(nl, nr, Inner, Some(newCond), JoinHint.NONE)))
    }

    /** True when re-executing the plan provably yields the same rows —
      * the double-execution-safety gate shared by every DPP injection
      * whose build side may run standalone (no non-deterministic
      * expression anywhere, no Sample, no limit without a total order).
      * DEEP checks: a rand() under an Aggregate or a Project above a
      * Filter would pass a top-operator-only expression scan, and a
      * Sample anywhere below re-draws rows on re-execution. */
    private def reExecutesToSameRows(p: LogicalPlan): Boolean =
      !p.exists(n => n.expressions.exists(!_.deterministic)) &&
        limitShapesSafe(p)

    /** Samples and limits re-draw rows on re-execution — EXCEPT a limit
      * directly over a GLOBAL Sort whose keys include every output
      * column (r17 verdict: the blanket limit rejection forfeited the
      * batch-PQ path on legitimately ordered batches). With all output
      * columns among the sort keys the sorted sequence is unique up to
      * FULLY-IDENTICAL rows, so any k-prefix is the same MULTISET on
      * every execution — ties can only swap indistinguishable rows.
      * (A sort over a mere subset of the columns is NOT enough: two rows
      * equal on the keys but different elsewhere can cross the limit
      * boundary in either order, and shuffle-read order is not stable.)
      * Orderability of every column is already guaranteed: the keys
      * passed analysis as SortOrder children. */
    private def limitShapesSafe(p: LogicalPlan): Boolean = p match {
      case _: Sample => false
      case GlobalLimit(_, LocalLimit(_, s @ Sort(order, true, _, _)))
          if s.output.forall(a => order.exists(_.child.semanticEquals(a))) =>
        limitShapesSafe(s.child)
      case _: GlobalLimit | _: LocalLimit => false
      // OFFSET and Dataset.tail select by position like a limit does —
      // over anything but a total order the selected rows are not stable
      // across executions (r18: these slipped through the pre-r18 gate,
      // which only listed Sample and the two Limit nodes)
      case _: Offset | _: Tail => false
      case _ => p.children.forall(limitShapesSafe)
    }

    /** Union of per-query candidate lists, derivable only when the batch
      * is LITERAL (a LocalRelation: the rows live in the plan, no job)
      * and small ([[MaxStaticProbeRows]]). Any malformed vector (null
      * element, wrong dim) bails out of the static union entirely — a
      * partial union could FALSELY prune another query's lists; the
      * per-query join prune stays correct alone. */
    private def staticUnion(
        qSide: LogicalPlan,
        queryV: AttributeReference,
        dim: Int,
        probe: Array[Float] => Array[Int]): Option[Seq[Int]] = qSide match {
      case lr: LocalRelation if lr.data.length <= MaxStaticProbeRows =>
        val ord = lr.output.indexWhere(_.exprId == queryV.exprId)
        if (ord < 0) None
        else {
          val acc = scala.collection.mutable.SortedSet.empty[Int]
          var ok = true
          val it = lr.data.iterator
          while (ok && it.hasNext) {
            val row = it.next()
            if (!row.isNullAt(ord)) {
              val arr =
                try row.getArray(ord).toFloatArray()
                catch { case _: NullPointerException => ok = false; null }
              if (ok) {
                if (arr.length != dim) ok = false
                else probe(arr).foreach(acc += _)
              }
            }
          }
          if (ok) Some(acc.toSeq) else None
        }
      case _ => None
    }

    /** Shared tail of the batch-top-k and range-join rewrites: explode
      * the per-query candidate-list expression on the queries side,
      * equi-join on `listAttr`, prune the scan (static `In` for literal
      * batches; Spark's dynamic-partition-pruning subquery otherwise),
      * and restore the join's ORIGINAL output so nothing upstream sees a
      * changed schema. */
    private def prunedJoin(
        join: Join,
        projR: List[Project],
        filtR: Option[Filter],
        rel: LogicalRelation,
        qSide: LogicalPlan,
        relIsLeft: Boolean,
        listAttr: AttributeReference,
        listOutName: String,
        explodeExpr: Explode,
        staticLists: Option[Seq[Int]],
        // false for ANTI joins: their output IS the non-matching
        // registered rows, so the scan must stay full — the rewrite's
        // win there is the equi-key (hash anti join, no cartesian)
        pruneRel: Boolean = true,
        // extra codes-built refinement conjunct (round 19) — ANDed onto
        // the ball prune so the vector scan reads only the lists holding
        // a pair-plausible candidate; None when the registration lacks
        // PQ meta or the shape excludes it
        pqRefine: Option[Expression] = None): LogicalPlan = {
      val listOut = AttributeReference(
        listOutName, IntegerType, nullable = false)()
      // queries side: one row per (query, candidate list)
      val newQSide = Generate(explodeExpr,
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(listOut), child = qSide)
      // the refinement conjunct composes with EITHER ball prune flavor:
      // its build output is a subset of the ball lists by construction,
      // so ANDing it only removes lists no true match lives in
      def withRefine(e: Expression): Expression =
        pqRefine.fold(e)(And(e, _))
      val relWithPrune: LogicalPlan = if (!pruneRel) {
        filtR.getOrElse(rel): LogicalPlan
      } else staticLists match {
        case Some(lists) =>
          // an empty union (every query row null) joins nothing anyway;
          // a constant-false filter keeps the scan from reading at all
          val in: Expression =
            if (lists.isEmpty) Literal(false)
            else withRefine(In(listAttr, lists.map(i => Literal(i))))
          filtR match {
            case Some(f) => f.copy(condition = And(f.condition, in))
            case None => Filter(in, rel)
          }
        case None =>
          // NON-literal batch: the candidate union is only known at
          // runtime, so inject Spark's own dynamic-partition-pruning
          // subquery on the partition column — the scan then reads only
          // the candidate partitions, learned from the (bounded: queries
          // x lists-per-query rows) build side. Physical planning REUSES
          // the equi-join's broadcast when it can (zero extra jobs);
          // otherwise onlyInBroadcast = false runs a distinct-aggregate
          // subquery on the queries side, still corpus-free. Safe to
          // inject here: this rule runs AFTER
          // CleanupDynamicPruningFilters, and list_id is a genuine
          // partition column (the same property the static In relies
          // on). At 100 TB this is the difference between scanning
          // union(candidates)/nlist of the corpus and scanning all of it.
          //
          // Double-execution safety: WITHOUT a reusable broadcast the
          // planner runs buildQuery AGAIN as a standalone subquery — a
          // queries side that does not re-execute to the same rows
          // (sample, rand(), a limit with no total order) could then
          // prune partitions the join's ACTUAL rows need: a false
          // dismissal, the one thing these rewrites must never do. For
          // such sides demand broadcast reuse (onlyInBroadcast = true:
          // one read feeds both join and prune, or the prune is planned
          // away as trivially true) — the same snapshot-once discipline
          // the facade's searchWhere applies to non-deterministic query
          // sets.
          // DEEP checks, both of them: a rand() under an Aggregate or a
          // Project above a Filter would pass a top-operator-only
          // expression scan, and a Sample anywhere below re-draws rows
          // on re-execution just the same
          val reExecutable = reExecutesToSameRows(qSide)
          val dpp: Expression = withRefine(DynamicPruningSubquery(
            pruningKey = listAttr,
            buildQuery = newQSide,
            buildKeys = Seq(listOut),
            broadcastKeyIndices = Seq(0),
            onlyInBroadcast = !reExecutable))
          filtR match {
            case Some(f) => f.copy(condition = And(f.condition, dpp))
            case None => Filter(dpp, rel)
          }
      }
      // the relation side must expose list_id to the join condition even
      // when column pruning already projected it away — through EVERY
      // Project of a stacked view chain
      val newRelSide: LogicalPlan = exposeThrough(projR, listAttr, relWithPrune)
      val probeEq = EqualTo(listOut, listAttr)
      val newCond = join.condition.map(And(_, probeEq)).getOrElse(probeEq)
      val (nl, nr) =
        if (relIsLeft) (newRelSide, newQSide) else (newQSide, newRelSide)
      Project(join.output,
        join.copy(left = nl, right = nr, condition = Some(newCond)))
    }

    // ---- the RANGE-JOIN rewrite -------------------------------------------

    /**
     * The SQL similarity join: `FROM queries q, registered t WHERE
     * l2_distance(t.vec, q.qvec) <= r` — a cartesian in the naive plan —
     * becomes an equi-join on the lists whose covering ball intersects
     * each query's radius-r ball ([[graft.functions.RangeProbeLists]]).
     * EXACT like the single-table range rewrite (the covering-ball bound
     * is a metric-space fact, and the original `dist <= r` conjunct is
     * KEPT), so it needs no opt-in shape beyond registered radii; fires
     * for any Inner/Cross join carrying the bound in its condition.
     * Metrics: L2 natively; cosine through the unit-norm bridge
     * (attestation-gated); IP through the Cauchy–Schwarz ball bound
     * (round 16 — no attestation, the ball is an L2 fact). Finite radius
     * only (the injected expression embeds it as a Java literal).
     *
     * SEMI and ANTI flavors too (round 17, r16 verdict #7): `WHERE
     * [NOT] EXISTS (SELECT 1 FROM q WHERE dist(t.vec, q.qvec) <= r)`
     * over the registered table — the contamination screen and its
     * DEcontamination twin, which Spark has already turned into a
     * LeftSemi/LeftAnti join with the bound in the condition
     * (RewritePredicateSubquery runs before the user batch). Both are
     * EXACT because semi/anti semantics are pure MATCH-EXISTENCE, which
     * the rewrite preserves in both directions: any (t, q) pair
     * satisfying `dist <= r` has t's list in q's candidate set (the
     * covering bound never falsely dismisses), so it survives the added
     * probe equi-conjunct; and every surviving pair still carries the
     * ORIGINAL predicate. Exploding the queries side cannot change
     * multiplicity — semi/anti output only left rows, each at most
     * once. The registered side must be the LEFT (preserved) side: with
     * the registration on the inner/right side the explode would land
     * on the PRESERVED side and duplicate its rows. The anti flavor
     * never prunes the registered scan (non-matching rows ARE its
     * output); the semi flavor prunes it like Inner (semi drops
     * non-matching left rows anyway). The cartesian still disappears in
     * both: the join gains the probe equi-key.
     *
     * Preserved-row OUTER range joins stay untouched BY ARGUMENT, not
     * omission: every rewrite of this family explodes one side and (for
     * Inner/semi) prunes the other, and in a Left/Right/Full outer join
     * at least one modified side is preserved — exploding a preserved
     * side turns one null-extended row into one per candidate list, and
     * pruning a preserved side deletes rows the outer join must emit
     * null-extended. Pinned by spec.
     */
    private def tryRangeJoinRewrite(join: Join): Option[LogicalPlan] = {
      join.joinType match {
        case Inner | Cross | LeftSemi | LeftAnti =>
        case _ => return None
      }
      val cond = join.condition.getOrElse(return None)
      def boundOf(e: Expression): Option[(VectorDistance, Double)] = e match {
        case LessThanOrEqual(d: VectorDistance, Literal(r: Double, DoubleType)) => Some((d, r))
        case LessThan(d: VectorDistance, Literal(r: Double, DoubleType)) => Some((d, r))
        case GreaterThanOrEqual(Literal(r: Double, DoubleType), d: VectorDistance) => Some((d, r))
        case GreaterThan(Literal(r: Double, DoubleType), d: VectorDistance) => Some((d, r))
        case _ => None
      }
      splitConjunctivePredicates(cond).iterator
        .flatMap(boundOf(_))
        .flatMap {
          case (VectorDistance(x: AttributeReference, y: AttributeReference, m), r)
              if java.lang.Double.isFinite(r) =>
            attemptRangeJoin(join, x, y, r, m)
              .orElse(attemptRangeJoin(join, y, x, r, m))
          case _ => None
        }
        .nextOption()
    }

    private def attemptRangeJoin(
        join: Join,
        vecAttr: AttributeReference,
        qAttr: AttributeReference,
        radius: Double,
        metric: Metric.Value): Option[LogicalPlan] = {
      val (relSide, qSide, relIsLeft) =
        if (join.left.outputSet.contains(vecAttr) &&
            join.right.outputSet.contains(qAttr)) (join.left, join.right, true)
        else if (join.right.outputSet.contains(vecAttr) &&
            join.left.outputSet.contains(qAttr)) (join.right, join.left, false)
        else return None
      // semi/anti: only the registered-LEFT orientation is rewritable —
      // with the registration on the inner side the explode would land on
      // the PRESERVED side and duplicate its output rows (see the
      // tryRangeJoinRewrite scaladoc)
      join.joinType match {
        case LeftSemi | LeftAnti if !relIsLeft => return None
        case _ =>
      }
      val (projR, filtR, rel) = relParts(relSide).getOrElse(return None)
      // see attemptBatch: no injection below a non-det Project when the
      // join predicates on one of its (transitively) non-det columns
      if (joinPredicatesOverNonDet(join, projR)) return None
      val reg = lookup(rel).getOrElse(return None)
      if (!vecOfRelation(rel, reg, resolveThrough(projR, vecAttr))) return None
      // cosine rides the unit-norm bridge: corpus-side norms are the
      // registration's ATTESTATION; each query row's norm is checked AT
      // RUNTIME inside CosineRangeProbeLists (a degenerate row keeps
      // every list — per-row fallback, never a false dismissal)
      if (metric == Metric.Cosine && !reg.unitNorm) return None
      // round 20 freshness gate — same argument as rangeConjunct's
      if (!boundsFresh(reg, rel)) return None
      // ONE volatile read of the (array, broadcast) pair — the prune and
      // the shipped expression must use the same radii snapshot; a
      // concurrent invalidateRadii can only make this prune use the OLDER
      // (still-valid-for-its-snapshot) radii, same staleness contract as
      // the static range rewrite
      val (radiiArr, radiiB) = reg.radiiPair.getOrElse(return None)
      qAttr.dataType match {
        case ArrayType(FloatType, _) =>
        case _ => return None
      }
      // idempotence: OUR Generate (any flavor) already on the query side
      val already = qSide.exists {
        case Generate(e: Explode, _, _, _, _, _) =>
          e.child.isInstanceOf[ProbeLists] ||
            e.child.isInstanceOf[RangeProbeLists] ||
            e.child.isInstanceOf[CosineRangeProbeLists] ||
            e.child.isInstanceOf[IpRangeProbeLists]
        case _ => false
      }
      if (already) return None
      val listAttr = rel.output.find(o =>
        o.name == reg.listCol && o.dataType == IntegerType).getOrElse(return None)
      val (explodeExpr, probeFn) = metric match {
        case Metric.Cosine =>
          (Explode(CosineRangeProbeLists(
            qAttr, reg.centroidsBc, radiiB, radius, UnitNormTol)),
            (arr: Array[Float]) => VectorKernels.cosineRangeProbeLists(
              arr, reg.centroids, radiiArr, radius, UnitNormTol))
        // IP rides the Cauchy–Schwarz ball bound (round 16): exact per
        // row, no attestation — the covering ball is an L2 fact that
        // bounds the dot regardless of norms
        case Metric.InnerProduct =>
          (Explode(IpRangeProbeLists(qAttr, reg.centroidsBc, radiiB, radius)),
            (arr: Array[Float]) => VectorKernels.ipRangeProbeLists(
              arr, reg.centroids, radiiArr, radius))
        case _ =>
          (Explode(RangeProbeLists(qAttr, reg.centroidsBc, radiiB, radius)),
            (arr: Array[Float]) => VectorKernels.rangeProbeLists(
              arr, reg.centroids, radiiArr, radius))
      }
      val staticLists =
        staticUnion(qSide, qAttr, reg.centroids.head.length, probeFn)
      // PQ candidate-list refinement for the JOIN/screen shapes (round
      // 19, r18 verdict #3): the single-table refinement's driver-known-
      // literal precondition can never hold here (per-row query
      // vectors), so the refinement builds from a codes-scan JOINED to
      // the probe explode and scores each (corpus row, query row) pair
      // with the per-row keep bound — same superset argument, applied
      // pairwise. Anti joins never prune the registered scan (their
      // output IS the non-matching rows), so they take no refinement.
      val pqRefine: Option[Expression] =
        if (join.joinType == LeftAnti) None
        else joinPqRefine(reg, rel, listAttr, qSide, qAttr, radius, metric,
          explodeExpr, staticLists)
      // round 20 (r19 verdict #4): the kept per-pair predicate's radius
      // literal rides the references array too (DoubleRef — the
      // single-table arm's argument verbatim; the probe expressions
      // already reference theirs), so the whole join family's generated
      // source is radius-invariant
      val joinRef = join.copy(condition = join.condition.map(_.transformUp {
        case LessThanOrEqual(d: VectorDistance, Literal(r: Double, DoubleType))
            if java.lang.Double.isFinite(r) =>
          LessThanOrEqual(d, graft.functions.DoubleRef(r))
        case LessThan(d: VectorDistance, Literal(r: Double, DoubleType))
            if java.lang.Double.isFinite(r) =>
          LessThan(d, graft.functions.DoubleRef(r))
        case GreaterThanOrEqual(Literal(r: Double, DoubleType), d: VectorDistance)
            if java.lang.Double.isFinite(r) =>
          GreaterThanOrEqual(graft.functions.DoubleRef(r), d)
        case GreaterThan(Literal(r: Double, DoubleType), d: VectorDistance)
            if java.lang.Double.isFinite(r) =>
          GreaterThan(graft.functions.DoubleRef(r), d)
      }))
      Some(prunedJoin(joinRef, projR, filtR, rel, qSide, relIsLeft,
        listAttr, "__graft_range_list", explodeExpr, staticLists,
        pruneRel = join.joinType != LeftAnti,
        pqRefine = pqRefine))
    }

    /** The JOIN-shape refinement's DynamicPruningSubquery, or None when
      * the registration lacks PQ metadata / a cosine join lacks the
      * attestation + normalized-codes gates its keep bound needs / the
      * relation lacks the codes column / the queries side cannot safely
      * re-execute. The build side joins a
      * FRESH codes-scan instance (m+4 bytes per row, statically bounded
      * to the ball union when the query set is driver-known) to the
      * probe explode on the candidate-list equi-key and keeps the lists
      * where [[graft.functions.PqRangeKeepCol]] admits at least one
      * pair. Executes STANDALONE (onlyInBroadcast = false — its join
      * differs from the main one, so no broadcast can be reused), which
      * is exactly why the re-execution gate is REQUIRED and not merely
      * conservative: the build replays the queries side, and a side
      * that re-draws rows (sample, rand, unordered limit) could prune
      * lists the main join's actual rows need — a false dismissal. */
    private def joinPqRefine(
        reg: Registration,
        rel: LogicalRelation,
        listAttr: AttributeReference,
        qSide: LogicalPlan,
        qAttr: AttributeReference,
        radius: Double,
        metric: Metric.Value,
        explodeExpr: Explode,
        staticLists: Option[Seq[Int]]): Option[Expression] = {
      val pqInfo = reg.pq.getOrElse(return None)
      // cosine (round 19): needs normalized-encoded codes + the unitNorm
      // attestation (attemptRangeJoin already required the latter for
      // the ball); per-row degenerate QUERY norms fall back inside
      // PqRangeKeepCol, and out-of-tolerance STORED norms were poisoned
      // by the meta pass
      if (metric == Metric.Cosine && !(reg.unitNorm && pqInfo.cosineCodes))
        return None
      // round 20 freshness gate — same argument as rangeConjunct's
      if (!boundsFresh(reg, rel)) return None
      val (_, errsBc) = reg.pqErrPair.getOrElse(return None)
      if (!reExecutesToSameRows(qSide)) return None
      val hasCodes = rel.output.exists(o => o.name == pqInfo.codeCol &&
        (o.dataType match {
          case ArrayType(ByteType, _) => true
          case _ => false
        }))
      if (!hasCodes) return None
      val relCand = rel.newInstance()
      val cCodes = relCand.output.find(_.name == pqInfo.codeCol).get
      val cList = relCand.output.find(o =>
        o.name == reg.listCol && o.dataType == IntegerType).getOrElse(return None)
      // statically bounded codes scan when the query set was driver-known
      // (mirrors the single-table candIn); an EMPTY static union already
      // plans a constant-false scan filter — nothing to refine. The
      // explicit (codes, list_id) Project is LOAD-BEARING: this rule runs
      // after the optimizer's ColumnPruning batch, and with the relation
      // under a Join the physical planner would otherwise read every
      // column — including the vectors the refinement exists to skip.
      val codesPruned = Project(Seq(cCodes, cList), relCand)
      val codesSrc: LogicalPlan = staticLists match {
        case Some(lists) if lists.isEmpty => return None
        case Some(lists) =>
          Project(Seq(cCodes, cList),
            Filter(In(cList, lists.map(i => Literal(i))), relCand))
        case None => codesPruned
      }
      val listOut = AttributeReference(
        "__graft_pq_join_list", IntegerType, nullable = false)()
      val buildGen = Generate(explodeExpr,
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(listOut), child = qSide)
      val (keepRadius, keepTol) =
        if (metric == Metric.Cosine)
          (radius + VectorKernels.cosineKeepSlack(UnitNormTol), UnitNormTol)
        else (radius, 0.0)
      val keep = graft.functions.PqRangeKeepCol(
        cCodes, cList, qAttr, keepRadius, pqInfo.codebooksBc, errsBc,
        metric.id, keepTol)
      val cand = Project(Seq(cList),
        Filter(keep,
          Join(codesSrc, buildGen, Inner,
            Some(EqualTo(cList, listOut)), JoinHint.NONE)))
      Some(DynamicPruningSubquery(
        pruningKey = listAttr,
        buildQuery = cand,
        buildKeys = Seq(cList),
        broadcastKeyIndices = Seq(0),
        onlyInBroadcast = false))
    }
  }
}
