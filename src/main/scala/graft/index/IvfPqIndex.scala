package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Metric, SearchParams}
import graft.functions.{pq, vector}
import graft.kmeans.Lloyd
import graft.storage.LocalWrites._

/**
 * IVF-PQ index: IVF coarse quantization for pruning + product quantization
 * for in-list scanning, with optional exact re-ranking. The reference
 * DECLARES this index but never implements it
 * (reference engine/ivf_flat_index.h:107-189, §2.9 "declared-but-dead");
 * this is a real implementation following the declared semantics and the
 * PQ kernels (kernels.cuh:186-312): codes are raw-vector PQ (not
 * residuals), ADC tables are squared L2 per subspace.
 *
 * Search plan: probe (broadcast coarse centroids) -> pruned join against
 * the m-byte codes table (the 100 TB win: the scan reads dim/4m of the
 * flat-index bytes) -> ADC table lookups -> top-rerank_k -> optional exact
 * rerank joining raw vectors for the true distance (S13 —
 * `use_exact_rerank`/`rerank_k` flags exist in the reference but no code
 * path reads them, ivf_flat_index.h:41,136-137).
 *
 * @param codes (id LONG, codes ARRAY<BYTE>, list_id INT)
 * @param rawVectors (id LONG, vec ARRAY<FLOAT>) — only read when reranking.
 *        May additionally carry a `list_id` column ASSIGNED UNDER THIS
 *        INDEX'S centroids (an epoch read is exactly that): the rerank
 *        scan then prunes to the probed lists instead of reading the
 *        whole corpus. A foreign list_id would silently drop candidates.
 */
class IvfPqIndex(
    val spark: SparkSession,
    val codes: DataFrame,
    val rawVectors: DataFrame,
    val centroids: Broadcast[Array[Array[Float]]],
    val codebooks: Broadcast[Array[Array[Array[Float]]]],
    val metric: Metric.Value = Metric.L2) {

  def nlist: Int = centroids.value.length
  def m: Int = codebooks.value.length
  def ks: Int = codebooks.value(0).length

  /**
   * ADC search. Returns (qid, id, dist, rank) where dist is the ADC
   * approximation; with `rerankK > 0` the top rerank_k ADC candidates are
   * re-scored exactly from the raw vectors and the final top-k re-ranked
   * on true distance (dist column is then exact).
   *
   * Both the list probe AND the ADC tables honor `params.metric`
   * ([[graft.functions.PqKernels.adcTableRaw]]): L2 tables are squared L2
   * (the reference's only kernel, kernels.cuh:213-216), IP tables are
   * negated dots, Cosine tables are negated dots against a normalized
   * query with the +1 constant folded in. Cosine REQUIRES codes encoded
   * from normalized vectors — [[IvfPqIndex.build]] with
   * `metric = Metric.Cosine` sets that up; on mismatched codes the ADC
   * pool degrades to dot-product order, not cosine.
   */
  def search(
      queries: DataFrame,
      params: SearchParams,
      rerankK: Int = 0): DataFrame =
    IvfFlatIndex.snapshotQueries(queries).batch match {
      case Some(batch) => searchBatch(batch, params, rerankK)
      case None => searchJoin(queries, params, rerankK)
    }

  /**
   * Static serving path over a pre-collected batch (mirrors
   * [[IvfFlatIndex.searchBatch]]): the probe AND the per-query ADC tables
   * are computed on the driver and ship ONCE in broadcast maps, so each
   * candidate row carries an 8-byte qid — the join-path alternative
   * replicates a 32KB m x ks table into every (query, probe) broadcast
   * row, which dominated the ADC stage wall-clock at the 1M-vector shape.
   */
  def searchBatch(
      batch: Array[(Long, Array[Float])],
      params: SearchParams,
      rerankK: Int = 0): DataFrame =
    searchBatchManaged(batch, params, rerankK)._1

  /** [[searchBatch]] plus a release handle for the call's broadcasts (the
    * per-query ADC tables — 32KB x batch at m=16/ks=256 — and the rerank
    * query map). Same contract as [[IvfFlatIndex.searchBatchManaged]]:
    * serving loops call release() after the sink consumed the batch;
    * release destroys the broadcasts, so the plan must not run again. */
  def searchBatchManaged(
      batch: Array[(Long, Array[Float])],
      params: SearchParams,
      rerankK: Int = 0): (DataFrame, () => Unit) = {
    val nprobe = math.min(params.nprobe, nlist)
    val probeMetric = params.metric.getOrElse(metric)
    // null query vectors yield no rows (uniform drop semantics across
    // every search path — see IvfFlatIndex.searchBatchManaged); logged +
    // counted so the missing rows are diagnosable
    val live = IvfFlatIndex.dropNullQueries(batch)
    val pairs = IvfFlatIndex.localProbe(live, centroids.value, nprobe, probeMetric)
    val listIds = pairs.map(_._2).distinct.toSeq
    // one broadcast: per-query ADC tables (computed once on the driver,
    // never replicated per candidate) + per-list probe positions; the
    // pruned codes scan feeds per-query top-k buffers inside the stable
    // ListScanTopK operator — no candidate rows, no per-candidate codegen
    val bcT = spark.sparkContext.broadcast(
      PqProbeIndex(live, pairs, nlist, codebooks.value, probeMetric.id))
    val prunedCodes = codes
      .filter(col("list_id").isInCollection(listIds)) // partition pruning
      .select(col("id").cast("long"), col("list_id").cast("int"), col("codes"))
    val preK = if (rerankK > 0) math.max(rerankK, params.k) else params.k
    val partial = ListScanTopK(prunedCodes, new PqListScorer(bcT), preK)
    val adcTop = TopKAggregator.finalizePartial(partial, preK,
      Sizing.mergeParts(spark, Sizing.bytes(codes)))
      .select("qid", "id", "dist", "rank")
    if (rerankK <= 0) (adcTop, () => bcT.destroy())
    else {
      val m = params.metric.getOrElse(metric)
      val qmap = new java.util.HashMap[java.lang.Long, Array[Float]]()
      live.foreach { case (qid, v) => qmap.put(qid, v) }
      val bcQ = spark.sparkContext.broadcast(qmap)
      // every rerank candidate lives in a probed list — when the raw table
      // carries list_id (epoch reads do), prune its scan to those
      // partitions instead of re-reading the whole corpus
      val rerankSource =
        if (rawVectors.columns.contains("list_id"))
          rawVectors.filter(col("list_id").isInCollection(listIds)).select("id", "vec")
        else rawVectors.select("id", "vec")
      // broadcast the candidate side like searchJoin does: adcTop is
      // bounded at batch x preK rows but sits above custom operators
      // whose size estimates are scan-proportional, so Catalyst would
      // otherwise plan a sort-merge shuffle of the raw scan per serving
      // batch
      val exact = org.apache.spark.sql.functions.broadcast(adcTop)
        .join(rerankSource, "id")
        .withColumn("dist", vector.distance_to_query(col("vec"), col("qid"), bcQ, m))
        .select("qid", "id", "dist")
      // merge bound from the EXACT batch row count (r21): the join's
      // estimate would size the merge at the session fan-out for a
      // serving batch whose merge stream is <= batch x k 24 B rows
      (TopKAggregator.topKPerQuery(exact, params.k,
        Sizing.batchMergeParts(spark, live.length, params.k))
        .select("qid", "id", "dist", "rank"),
        () => { bcT.destroy(); bcQ.destroy() })
    }
  }

  /**
   * Fully-distributed fallback for unbounded query sets. This path is
   * selected precisely BECAUSE the batch exceeds
   * [[IvfFlatIndex.MaxStaticBatch]], so nothing here may assume the query
   * set is small, and (round-7 fix) ALL per-candidate work runs in stable
   * library code — the previous shape (codes equi-join → fused ADC
   * expression per candidate row → partial top-k) kept the hot loop in
   * whole-stage-generated glue, the JIT-deopt exposure whose 10.2 s
   * outlier the round-6 bench recorded:
   *
   *  - **ADC stage, below the size gate** (the usual flood): the probed
   *    rows ship through the lazy broadcast exchange into
   *    [[BroadcastProbeTopK.pq]] — a large codes scan NEVER shuffles
   *    (read in place, pruned where the layout allows; a small one whose
   *    split would starve the cores is spread over them by
   *    [[IvfFlatIndex.widenScan]]), queries prep once per executor,
   *    and ADC tables build per probed LIST on the scan
   *    ([[PqLocalListScorer]]: bounded by queries-per-list, direct
   *    bit-identical arithmetic below the break-even cutover), so
   *    per-candidate cost stays m lookups with nothing per-candidate
   *    materialized as rows.
   *  - **ADC stage, above the gate**: [[CoGroupTopK.pqSearch]]
   *    co-partitions probed queries and codes on list_id. The shuffled
   *    artifact is the CODES table — m+8 bytes per corpus row, the most
   *    compact in the system (a 100 TB raw corpus is ~1.6 TB of m=16
   *    codes) — and each query's ADC table derives once per probed list.
   *  - **rerank stage**: the id-only ADC winners join back to raw payloads
   *    (size-gated broadcast keeps the 100 TB raw scan unshuffled); the
   *    QUERY rows then join onto the candidate rows by qid — broadcast
   *    below the gate (the candidate payloads never reshuffle: the exact
   *    distance computes in place on the raw scan's partitions and only
   *    24-byte (qid, id, dist) rows cross the final top-k exchange),
   *    shuffled-hash above it (the r19 cogroup sorted the full
   *    ~260 B/candidate vector fan-out within partitions and decoded it
   *    through a typed encoder; the r20 stage profile measured that sort
   *    + decode at 3x the join+kernel cost, optimization guide §2.3/§8 —
   *    shuffle the payload once, never sort it, keep every later
   *    exchange on skinny rows). Distances run through the same codegen'd
   *    [[graft.functions.vector.distance]] kernel as the exact paths and
   *    the final top-k through [[TopKAggregator.topKPerQuery]]'s
   *    partial/final operators.
   */
  private[index] def searchJoin(
      queries: DataFrame,
      params: SearchParams,
      rerankK: Int): DataFrame = {
    val nprobe = math.min(params.nprobe, nlist)
    val probeMetric = params.metric.getOrElse(metric)
    // one row per qid before the probe explosion — see
    // IvfFlatIndex.searchJoin (duplicated qids probe different
    // list sets; dedup after the fact cannot prevent cross-qvec mixing)
    val uniq = IvfFlatIndex.onePerQid(queries)
    val probed = IvfFlatIndex.probeRows(uniq, centroids, nprobe, probeMetric)
    val preK = if (rerankK > 0) math.max(rerankK, params.k) else params.k
    // the deduped query frame keeps its input's estimate (Sizing), so
    // every query-side decision below prices the input once
    val qB = Sizing.bytes(queries)
    val codesB = Sizing.bytes(codes)
    val adcTop =
      if (Sizing.fitsBroadcastGate(spark, qB, nprobe))
        TopKAggregator.finalizePartial(
          BroadcastProbeTopK.pq(probed,
            IvfFlatIndex.widenScan(codes, codesB, sortCols = Seq("list_id")),
            preK, codebooks, probeMetric.id), preK,
          Sizing.mergeParts(spark, qB * codesB))
          .select("qid", "id", "dist", "rank")
      else CoGroupTopK.pqSearch(probed, codes, codebooks, probeMetric.id, preK,
        nlist, Sizing.salt(spark, codesB, nlist))
    if (rerankK <= 0) adcTop
    else {
      val m = params.metric.getOrElse(metric)
      // id-only candidate stream (<= queries x preK 16-byte rows) joins
      // back to the raw payloads; the gate estimate (query bytes x preK)
      // safely overestimates it, since the query bytes price the qvec
      // column the stream no longer carries
      val candIds = adcTop.select("qid", "id")
      val hinted =
        if (Sizing.fitsBroadcastGate(spark, qB, preK)) broadcast(candIds)
        else {
          // above the gate, pin the join-back's parallelism to the
          // CANDIDATE OUTPUT volume (r21, guide §2.5): the skinny candIds
          // stream is byte-small, so AQE coalesces the join's exchanges —
          // and the ADC merge upstream may legitimately run on one
          // partition — leaving the payload-attaching join (output ≈
          // candidate rows x raw row width, ~6x its INPUT bytes) and its
          // fat shuffle write on a single inherited task. Estimate output
          // as qBytes x preK (query rows and raw rows share the vector
          // width) and spread accordingly; REPARTITION_BY_NUM is exempt
          // from coalescing and the raw side aligns to it.
          candIds.repartition(Sizing.mergeParts(spark, qB * preK), col("id"))
        }
      // widen a small raw scan for the same reason as the ADC stage: the
      // join fans the candidate stream out over the RAW side's partitions
      val cands = IvfFlatIndex.widenScan(rawVectors.select("id", "vec"), Sizing.bytes(rawVectors))
        .join(hinted, "id")
      // the SAME deduped query rows: joining the raw duplicates back in
      // would re-introduce the second qvec at the rerank stage. Below the
      // gate the query side broadcasts (no shuffle of the candidate
      // payloads at all); above it a shuffled-hash hint keeps the fat
      // side unsorted — both choices pin the build side to the queries.
      // Null semantics match the cogroup this replaces: a null candidate
      // vec or null qvec nulls the distance and the top-k operator skips
      // null/NaN internally; qids absent from either side drop at the
      // inner join exactly as the cogroup emitted nothing for them.
      val qSide = uniq.select(col("qid"), col("qvec"))
      val qBroadcast = Sizing.fitsBroadcastGate(spark, qB, 1)
      val qHinted = if (qBroadcast) broadcast(qSide) else qSide.hint("SHUFFLE_HASH")
      val exact = cands.join(qHinted, "qid")
        .select(col("qid"), col("id"),
          vector.distance(col("qvec"), col("vec"), m).as("dist"))
      // query-side merge bound (r21): the joined stream's estimate is a
      // join product, which would plan the full session fan-out for a KB
      // merge
      val mergeParts = Sizing.queryMergeParts(spark, qB, params.k)
      val ranked = TopKAggregator.topKPerQuery(exact, params.k, mergeParts)
        .select("qid", "id", "dist", "rank")
      // materialization barrier (r21, guide §2.4): when the shuffled-hash
      // rerank join leaves the stream hash-clustered on qid, the merge's
      // repartition can be elided as redundant — the whole fat
      // join + kernel stage then sits on the map side of any consumer's
      // range-partitioning exchange, whose bounds-SAMPLING job re-executes
      // its child (measured: the 180 MB-read rerank stage ran twice per
      // action). A round-robin exchange of the <= nq x k result rows is
      // never elided and never satisfies a downstream requirement, so
      // everything above it materializes exactly once. Below the gate the
      // query side broadcasts, the stream is not clustered on qid, the
      // merge exchange stays in the plan, and the barrier would only be
      // one more shuffle.
      if (qBroadcast) ranked else ranked.repartition(mergeParts)
    }
  }
}

object IvfPqIndex {

  /**
   * Train per-subspace codebooks: split each training vector into m
   * subvectors of dsub = dim/m, run seed-42 k-means (10 Lloyd iterations)
   * independently per subspace (seed offset by subspace index for
   * decorrelated inits). ks = 2^nbits, nbits <= 8 so codes fit in bytes.
   */
  def trainCodebooks(
      sample: Array[Array[Float]],
      m: Int,
      nbits: Int = 8): Array[Array[Array[Float]]] = {
    require(nbits >= 1 && nbits <= 8, "nbits must be 1..8 (codes are bytes)")
    val dim = sample.head.length
    require(dim % m == 0, s"dimension $dim not divisible by m=$m")
    val dsub = dim / m
    val ks = 1 << nbits
    Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      Lloyd.train(sub, ks, seed = Lloyd.Seed + s)
    }
  }

  /**
   * Build from (id, vec) rows: coarse centroids + codebooks + codes.
   *
   * With `metric = Metric.Cosine` the whole index lives in normalized
   * space (the standard cosine-as-inner-product construction): vectors are
   * L2-normalized (D4 kernel, 1e-8 eps) before training, encoding, AND the
   * raw table kept for reranking — cosine ADC tables then approximate
   * 1 - cos exactly as documented on [[PqKernels.adcTableRaw]]. Cosine is
   * normalization-invariant, so search results are unchanged semantically.
   */
  def build(
      spark: SparkSession,
      vectors: DataFrame,
      nlist: Int,
      m: Int,
      nbits: Int = 8,
      maxTrain: Int = Lloyd.DefaultMaxTrain,
      metric: graft.Metric.Value = Metric.L2): IvfPqIndex = {
    val space =
      if (metric == Metric.Cosine)
        vectors.select(col("id"), vector.normalize_vector(col("vec")).as("vec"))
      else vectors.select("id", "vec")
    val sample = Lloyd.trainSample(space, "id", "vec", maxTrain)
    val cents = Lloyd.train(sample, nlist)
    val books = trainCodebooks(sample, m, nbits)
    val bcC = spark.sparkContext.broadcast(cents)
    val bcB = spark.sparkContext.broadcast(books)
    val codes = space.select(
      col("id"),
      pq.pq_encode(col("vec"), bcB).as("codes"),
      vector.argmin_centroid(col("vec"), bcC).as("list_id"))
    new IvfPqIndex(spark, codes, space, bcC, bcB, metric)
  }

  /**
   * On-disk PQ epoch (symmetric with [[IvfFlatIndex.writeEpoch]]):
   * list-partitioned codes + raw vectors, centroids, and packed codebooks.
   * A read-back index reranks through a PARTITION-PRUNED raw scan (the
   * raw table keeps this index's list_id).
   */
  def writeEpoch(index: IvfPqIndex, epochPath: String, filesPerList: Int = 1): Unit = {
    // the metric is part of the index: a cosine-built epoch read back and
    // searched without an explicit metric must stay cosine. Written
    // through the tmp+fsync+rename helper — a crash mid-write must never
    // leave a truncated metric a reader could misinterpret.
    graft.storage.Manifest.atomicWrite(
      java.nio.file.Paths.get(s"$epochPath/metric.txt"), index.metric.toString)
    IvfFlatIndex.writeEpoch(index.codes, s"$epochPath/codes", filesPerList)
    // a raw table that already carries this index's list_id (epoch
    // re-write, ScaleStress-style build) skips a full argmin re-assign
    val rawAssigned =
      if (index.rawVectors.columns.contains("list_id"))
        index.rawVectors.select("id", "vec", "list_id")
      else index.rawVectors.select(col("id"), col("vec"),
        vector.argmin_centroid(col("vec"), index.centroids).as("list_id"))
    IvfFlatIndex.writeEpoch(rawAssigned, s"$epochPath/vectors", filesPerList)
    IvfFlatIndex.writeCentroidTable(index.spark, index.centroids.value, s"$epochPath/centroids")
    writeCodebooks(index.spark, index.codebooks.value, s"$epochPath/codebooks")
  }

  def readEpoch(spark: SparkSession, epochPath: String): IvfPqIndex = {
    val cents = IvfFlatIndex.readCentroidTable(spark, s"$epochPath/centroids")
    val books = readCodebooks(spark, s"$epochPath/codebooks")
    val metricPath = java.nio.file.Paths.get(s"$epochPath/metric.txt")
    // parseStrict: this string is engine-written, so anything unparseable
    // is corruption — better to refuse the epoch than silently serve L2
    // distances from a Cosine-built index
    val metric =
      if (java.nio.file.Files.exists(metricPath))
        Metric.parseStrict(java.nio.file.Files.readString(metricPath).trim)
      else Metric.L2 // pre-metric epochs were L2-built
    new IvfPqIndex(spark,
      IvfFlatIndex.readEpoch(spark, s"$epochPath/codes"),
      IvfFlatIndex.readEpoch(spark, s"$epochPath/vectors"), // carries list_id -> pruned rerank
      spark.sparkContext.broadcast(cents),
      spark.sparkContext.broadcast(books),
      metric)
  }

  /**
   * F3: codebook parquet IO with the reference's id packing rule
   * `(subquantizer << 16) | centroid` (format/storage.cpp:249-271).
   */
  def writeCodebooks(
      spark: SparkSession,
      books: Array[Array[Array[Float]]],
      path: String): Unit = {
    import spark.implicits._
    val rows = for {
      (cb, s) <- books.zipWithIndex
      (cw, c) <- cb.zipWithIndex
    } yield ((s.toLong << 16) | c.toLong, cw)
    rows.toSeq.toDF("id", "vec").coalesce(1).graftWrite.mode("overwrite").parquet(path)
  }

  def readCodebooks(spark: SparkSession, path: String): Array[Array[Array[Float]]] = {
    val rows = spark.read.parquet(path)
      .orderBy("id")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    rows.groupBy(r => (r._1 >> 16).toInt).toSeq.sortBy(_._1)
      .map { case (_, cws) => cws.sortBy(c => (c._1 & 0xffff).toInt).map(_._2) }
      .toArray
  }
}
