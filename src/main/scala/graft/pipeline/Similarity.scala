package graft.pipeline

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Metric, SearchParams}
import graft.functions.vector
import graft.index.{FlatListScorer, IvfFlatIndex, Knn, ListScanTopK,
  ProbeIndex, Sizing, TopKAggregator}

/**
 * Similarity-search operators over an embedding column:
 *  - brute-force cosine top-k (the exactness baseline),
 *  - IVF-pruned ANN (the 100 TB scale path: probe -> partition-pruned join),
 *  - filtered ANN (relational predicate + top-k — something the reference
 *    engine cannot express at all, SURVEY §7.5).
 */
object Similarity {

  /** Exact cosine top-k: broadcast query batch x corpus scan. */
  def bruteForceCosine(
      queries: DataFrame, // (qid, qvec)
      vectors: DataFrame, // (id, vec)
      k: Int): DataFrame =
    Knn.exact(queries, vectors, k, Metric.Cosine)

  /** ANN through an IVF index: same result columns, sub-linear scan. */
  def annCosine(
      index: IvfFlatIndex,
      queries: DataFrame,
      k: Int,
      nprobe: Int): DataFrame =
    index.search(queries, SearchParams(k, nprobe, Some(Metric.Cosine)))

  /**
   * Hard-negative mining — the contrastive-training staple: for each
   * query, the k nearest corpus vectors with a DIFFERENT label (self
   * excluded). Unlike [[filteredKnn]]'s corpus-wide predicate, the label
   * constraint is PER-QUERY, so it rides the pair stream as a cheap
   * integer inequality evaluated before the distance kernel; the top-k
   * runs through the bounded partial-combine aggregator, so memory stays
   * k-per-query at any corpus size. Queries carry (qid, qvec, q_label).
   */
  def hardNegatives(
      queries: DataFrame, // (qid, qvec, q_label)
      vectors: DataFrame, // (id, vec, label)
      k: Int,
      metric: Metric.Value = Metric.L2): DataFrame = {
    val spark = queries.sparkSession
    val qB = Sizing.bytes(queries)
    val qdf = queries.select(col("qid"), col("qvec"), col("q_label"))
    // broadcast only under the size gate (round-7 lesson: an unconditional
    // hint bypasses autoBroadcastJoinThreshold for an arbitrarily big
    // set); above it the plain cross join lets AQE plan the flood
    val q = if (Sizing.fitsBroadcastGate(spark, qB, 1)) broadcast(qdf) else qdf
    val scored = vectors.select(col("id"), col("vec"), col("label"))
      .crossJoin(q)
      .filter(col("label") =!= col("q_label") && col("id") =!= col("qid"))
      .withColumn("dist", vector.distance(col("qvec"), col("vec"), metric))
    // a top-k over a cross join: priced at the join's qBytes x cBytes
    TopKAggregator.topKPerQuery(scored, k, Sizing.mergeParts(spark, qB * Sizing.bytes(vectors)))
      .select("qid", "id", "dist", "rank")
  }

  /**
   * Filtered ANN: apply a relational predicate to the corpus BEFORE the
   * top-k, e.g. "nearest neighbors among label = 7 vectors". The filter is
   * pushed into the scan (partition/row-group pruning), then the usual
   * distance + WindowGroupLimit top-k runs on the survivors.
   */
  def filteredKnn(
      queries: DataFrame,
      vectors: DataFrame, // any schema with (id, vec) + predicate columns
      predicate: org.apache.spark.sql.Column,
      k: Int,
      metric: Metric.Value = Metric.Cosine): DataFrame =
    Knn.exact(queries, vectors.filter(predicate).select("id", "vec"), k, metric)

  /** Filtered ANN through an IVF index: predicate + probe pruning in one
    * pruned scan (see IvfFlatIndex.searchWhere). */
  def filteredAnn(
      index: IvfFlatIndex,
      queries: DataFrame,
      predicate: org.apache.spark.sql.Column,
      k: Int,
      nprobe: Int,
      metric: Metric.Value = Metric.Cosine): DataFrame =
    index.searchWhere(queries, SearchParams(k, nprobe, Some(metric)), Some(predicate))

  /**
   * Filtered ANN with an adaptive-recall escape hatch. At nprobe < nlist a
   * selective predicate whose matches live in unprobed lists silently
   * costs recall — the standard filtered-ANN trade-off (the pruned scan
   * can only rank what it reads). This wrapper runs the pruned pass, then
   * reruns EXHAUSTIVELY (nprobe = nlist) exactly the queries that came
   * back with fewer than k rows, replacing their results; satisfied
   * queries keep their pruned (approximate) rows untouched.
   *
   * Cost model: the shortfall set is computed as a JOIN (query set x
   * per-qid result counts) and never leaves the cluster — the only driver
   * action is a 1-row emptiness probe that preserves the happy path
   * (every query satisfied -> no second scan, round-9 fix: previously the
   * shortfall qids were collect()ed into an IN-list, a driver bottleneck
   * and a giant literal plan at flood cardinality). The retry scan reads
   * only the predicate's survivors, exhaustively — for a predicate
   * selective enough to starve the probe, that is exactly the cheap scan.
   * The query set is pinned ONCE up front (round-7 fix: the pruned pass,
   * the shortfall count, and the retry all read the same materialized
   * rows), so a non-deterministic query plan — a sample, an unordered
   * limit — is safe here.
   */
  def filteredAnnAdaptive(
      index: IvfFlatIndex,
      queries: DataFrame,
      predicate: org.apache.spark.sql.Column,
      k: Int,
      nprobe: Int,
      metric: Metric.Value = Metric.Cosine): DataFrame =
    filteredAnnAdaptiveManaged(index, queries, predicate, k, nprobe, metric)._1

  /**
   * [[filteredAnnAdaptive]] plus a release handle for the call's cache
   * entries (pinned query set, pruned first pass, shortfall set) — the
   * same managed contract as the broadcast-returning search paths: each
   * call persists up to three structurally-new plans, so a loop calling
   * this per batch without releasing grows the cache registry (and its
   * disk spill) without bound. Call release() after the result is
   * consumed; the plan must not be executed again after. One-shot
   * callers can use the unmanaged overload and release the session cache
   * between corpora (`spark.catalog.clearCache()`).
   */
  def filteredAnnAdaptiveManaged(
      index: IvfFlatIndex,
      queries: DataFrame,
      predicate: org.apache.spark.sql.Column,
      k: Int,
      nprobe: Int,
      metric: Metric.Value = Metric.Cosine): (DataFrame, () => Unit) = {
    val q = Dedup.persistOnce(queries.select("qid", "qvec"))
    val releaseQ = () => { q.unpersist(blocking = false); () }
    val pruned = filteredAnn(index, q, predicate, k, nprobe, metric)
    if (nprobe >= index.nlist) return (pruned, releaseQ)
    val cached = Dedup.persistOnce(pruned)
    // zero-row queries are ABSENT from the result — left join from the
    // query set to count shortfalls, not from the result
    val counts = cached.groupBy("qid").agg(count(lit(1)).as("n"))
    val shortQ = Dedup.persistOnce(
      q.join(counts, Seq("qid"), "left")
        .filter(coalesce(col("n"), lit(0L)) < k)
        .select("qid", "qvec"))
    val releaseAll = () => {
      q.unpersist(blocking = false)
      cached.unpersist(blocking = false)
      shortQ.unpersist(blocking = false)
      ()
    }
    // the persisted shortfall set is tiny by construction (<= one row per
    // query, usually far fewer) — Spark broadcasts the anti-join side
    if (shortQ.isEmpty) (cached, releaseAll)
    else (cached.join(shortQ.select("qid"), Seq("qid"), "left_anti")
      .unionAll(index.searchWhere(
        shortQ, SearchParams(k, index.nlist, Some(metric)), Some(predicate))),
      releaseAll)
  }

  /** Corpus rows up to which the self-join ships the whole corpus as one
    * driver-built probe index (~134 MB at 256k x 128D — well under any
    * sane driver heap and Spark's broadcast limit) — the serving trick
    * applied to analytics. Above it the salted equi-join path scales
    * without any driver state. The gate is deliberately generous: at
    * 200k x 128D the broadcast path measures ~20x faster than the bucket
    * join (ScaleStress `selfjoin` section) — the candidate distinct +
    * twin payload joins, not the distance flops, dominate the blocked
    * shape. */
  val MaxSelfIndexRows: Int = 1 << 18

  /**
   * Snapshot the corpus for a broadcast fast path, or null when it is (or
   * its `bytes` estimate says it obviously is) too big. Three defenses,
   * cheapest first: the bytes pre-check keeps a 100 TB table from paying
   * even a bounded scan; the vector WIDTH (`dimHint` — the self-join callers
   * read it off their broadcast centroids, zero jobs and zero extra plan
   * evaluations) shrinks the row cap to the same byte budget (stats can
   * underestimate — e.g. optimistic filter selectivity — and a row gate
   * alone is dimension-blind: 256k x 2048D is ~2 GB of driver heap); the
   * bounded snapshot ([[IvfFlatIndex.snapshotQueries]], cap + 1 rows) then
   * proves the corpus actually fits. A corpus wider than its centroids
   * would break distance semantics before it broke this gate (the
   * kernels truncate to min length). Null vecs are dropped — they are
   * neither queries nor candidates in the blocked paths either (an
   * exploded null probe list emits nothing).
   */
  private[pipeline] def selfIndexBatch(
      vectors: DataFrame, bytes: BigInt, maxRows: Int, dimHint: Int,
      maxBytes: Long = Sizing.MaxSelfIndexBytes): Array[(Long, Array[Float])] = {
    val effMax = Sizing.selfIndexRows(bytes, maxRows, dimHint, maxBytes)
    if (effMax < 0) return null
    // corpus rows, not queries: null ids drop without touching the query
    // counter
    val snap = IvfFlatIndex.snapshotQueries(vectors, effMax, corpus = true)
    if (!snap.bounded) null else snap.sample.filter(_._2 != null)
  }

  /** The snapshot as the fast path's corpus side, read back from the SAME
    * [[ProbeIndex]] broadcast the scorer uses: the source plan is
    * evaluated ONLY for the snapshot, so a non-deterministic input
    * (sample, unordered limit) cannot diverge between the probe-index
    * (query) side and the scanned (corpus) side — and because the rows
    * come out of the torrent-cached broadcast, nothing re-ships from the
    * driver per execution (a `parallelize(batch)` formulation measured
    * +50% on the 200k x 128D stress shape from re-serializing ~100 MB of
    * vectors into every job). */
  private[pipeline] def corpusFromProbeIndex(
      spark: org.apache.spark.sql.SparkSession,
      bc: Broadcast[ProbeIndex]): DataFrame = {
    import spark.implicits._
    spark.range(bc.value.qids.length.toLong)
      .as[Long]
      .mapPartitions { it =>
        val pi = bc.value
        it.map(i => (pi.qids(i.toInt), pi.qvecs(i.toInt)))
      }
      .toDF("id", "vec")
  }

  /**
   * Cosine top-k self-join for corpus analytics (each vector's k nearest
   * others), IVF-blocked: candidates share an IVF list (multi-probe for
   * recall) — never an all-pairs product.
   *
   * Two size-gated executions with IDENTICAL results (the candidate set —
   * ordered pairs sharing >= 1 of their `assignProbes` nearest lists,
   * self excluded — is the same; equality is pinned by test and the
   * driver's DuckDB oracle):
   *
   *  - **broadcast self-index** (corpus <= `maxSelfIndexRows`): the
   *    self-join IS [[IvfFlatIndex.searchBatch]] with the corpus as the
   *    batch — the corpus ships once as a [[ProbeIndex]] and the exploded
   *    multi-probe scan feeds per-query top-k buffers inside
   *    [[ListScanTopK]]. No candidate materialization, no distinct
   *    shuffle, no payload join-backs. A pair sharing BOTH probed lists
   *    scores twice with bit-identical distance; [[graft.index.TopKBuf]]
   *    drops the exact duplicate at insert.
   *  - **salted equi-join** (the 100 TB path): bucket join carries ids
   *    only, multi-probe duplicate pairs collapse in `distinct()` BEFORE
   *    the distance computes; `Dedup.bucketedSelfPairs` splits skewed
   *    lists into salted sub-buckets (lossless tiling) so no hot list
   *    becomes one quadratic task.
   *
   * Broadcast lifetime: the fast path ships one ProbeIndex broadcast per
   * call (≤ ~134 MB at the gate), reclaimed by the ContextCleaner once
   * the returned plan is unreachable — the right contract for one-shot
   * analytics. A loop that holds many results alive should use the
   * serving API ([[graft.index.IvfFlatIndex.searchBatchManaged]]), whose
   * release handle destroys the broadcast deterministically.
   */
  def knnSelfJoin(
      vectors: DataFrame, // (id, vec)
      centroids: Broadcast[Array[Array[Float]]],
      k: Int,
      assignProbes: Int = 2,
      maxBucket: Int = Dedup.DefaultMaxBucket,
      maxSelfIndexRows: Int = MaxSelfIndexRows): DataFrame = {
    val spark = vectors.sparkSession
    val cB = Sizing.bytes(vectors)
    // any k is fast-path-eligible: TopKBuf collapses the twice-scored
    // shared-list pairs on both sides of its heap threshold
    val batch = selfIndexBatch(vectors, cB, maxSelfIndexRows,
      dimHint = centroids.value.head.length)
    if (batch != null) {
      val pairs = IvfFlatIndex.localProbe(batch, centroids.value, assignProbes, Metric.L2)
      val bc = spark.sparkContext.broadcast(
        ProbeIndex(batch, pairs, centroids.value.length))
      val exploded = corpusFromProbeIndex(spark, bc).select(
        col("id"),
        explode(vector.probe_lists(col("vec"), centroids, assignProbes, Metric.L2))
          .as("list_id"),
        col("vec"))
        .select(col("id").cast("long"), col("list_id").cast("int"), col("vec"))
      val partial = ListScanTopK(exploded,
        new FlatListScorer(bc, Metric.Cosine.id, excludeSelf = true), k)
      return TopKAggregator.finalizePartial(partial, k,
        Sizing.snapshotMergeParts(spark, batch.length))
        .select("qid", "id", "dist", "rank")
    }
    val assigned = vectors.select(
      col("id"),
      explode(vector.probe_lists(col("vec"), centroids, assignProbes, Metric.L2))
        .as("list_id"))
      .transform(Dedup.persistOnce)
    val cands = Dedup.bucketedSelfPairs(assigned, maxBucket)
      .select(col("a_id").as("qid"), col("b_id").as("id")).distinct()
    val scored = cands
      .join(vectors.select(col("id").as("qid"), col("vec").as("qvec")), "qid")
      .join(vectors.select(col("id"), col("vec")), "id")
      .select(col("qid"), col("id"),
        vector.cosine_distance(col("qvec"), col("vec")).as("dist"))
    // bounded-buffer top-k (every vector is a query here — the partial
    // mapPartitions combine keeps the shuffle at nVectors x k rows). The
    // stream joins both corpus sides onto pairs from a self-join of the
    // corpus' list assignments: a product of four corpus-sized estimates
    TopKAggregator.topKPerQuery(scored, k, Sizing.mergeParts(spark, cB.pow(4)))
      .select("qid", "id", "dist", "rank") // pairs already unique; rank by (dist, id)
  }

  /**
   * Semantic eval-set contamination: training vectors whose cosine
   * distance to ANY eval vector is <= maxDist, each reported once with
   * its nearest eval id (ties by eval id ascending, deterministic).
   *
   * Eval benchmarks are small by construction, so the eval side ships as
   * a broadcast and the training corpus streams through ONE narrow pass —
   * |train| x |eval| codegen'd distance evaluations, zero shuffle before
   * the (tiny, post-filter) per-train-row argmin window. That is the
   * right 100 TB plan while eval stays broadcast-sized; for eval sets
   * past that, block both sides by IVF list instead
   * ([[graft.pipeline.Dedup.embeddingNearDup]]'s shape).
   */
  def crossContamination(
      train: DataFrame, // (id, vec)
      evalSet: DataFrame, // (id, vec)
      maxDist: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id")
      .orderBy(col("cos_dist").asc, col("eval_id").asc)
    train
      .crossJoin(broadcast(
        evalSet.select(col("id").as("eval_id"), col("vec").as("e_vec"))))
      .withColumn("cos_dist", vector.cosine_distance(col("vec"), col("e_vec")))
      .filter(col("cos_dist") <= maxDist)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id"), col("eval_id"), col("cos_dist"))
  }

  /**
   * Binary-quantized (sign-bit) Hamming k-NN: both sides pack to
   * `dim/32` LONG-held words inside the scan projection
   * ([[EmbeddingOps.signPackWord]]), the query batch broadcasts, and the
   * distance is `sum_w bit_count(xor(w, q_w))` — pure codegen'd integer
   * ops over 32x fewer scan bytes than fp32. The standard first pass of
   * a binary-quantization pipeline (32x less memory traffic at 100 TB;
   * candidates never materialize beyond the bounded partial top-k).
   *
   * @return (qid, id, dist: LONG Hamming bits, rank: INT), ties (dist, id)
   */
  def hammingSearch(
      queries: DataFrame, // (qid, qvec)
      corpus: DataFrame, // (id, vec)
      dim: Int,
      k: Int): DataFrame =
    hamming(queries, corpus, dim, k, Sizing.bytes(queries), Sizing.bytes(corpus))

  private def hamming(queries: DataFrame, corpus: DataFrame, dim: Int, k: Int,
      qB: BigInt, cB: BigInt): DataFrame = {
    require(dim % 32 == 0, s"dim must pack into 32-bit words, got $dim")
    val words = dim / 32
    val q = queries.select(
      col("qid") +:
        (0 until words).map(w => EmbeddingOps.signPackWord(col("qvec"), w).as(s"q$w")): _*)
    val c = corpus.select(
      col("id") +:
        (0 until words).map(w => EmbeddingOps.signPackWord(col("vec"), w).as(s"w$w")): _*)
    val hdist = (0 until words)
      .map(w => call_function("bit_count", col(s"w$w").bitwiseXOR(col(s"q$w"))).cast("long"))
      .reduce(_ + _)
    // size-gated hint (the hardNegatives round-7 lesson): an unconditional
    // broadcast bypasses autoBroadcastJoinThreshold for an arbitrarily
    // large query flood; above the gate AQE plans the cross join
    val spark = queries.sparkSession
    val qb = if (Sizing.fitsBroadcastGate(spark, qB, 1)) broadcast(q) else q
    val scored = c.crossJoin(qb).withColumn("hdist", hdist)
    TopKAggregator.topKPerQuery(scored, k, Sizing.mergeParts(spark, qB * cB),
      distCol = "hdist")
      .select(col("qid"), col("id"), col("dist").cast("long").as("dist"), col("rank"))
  }

  /**
   * The full binary-quantization serving pipeline: Hamming first pass to
   * `candK` candidates, exact-metric rerank to `k`. The candidate set
   * ((qid, id) pairs, <= |queries| x candK rows) broadcasts onto the raw
   * corpus scan, so the expensive fp32 read touches only candidates —
   * the plan a 100 TB deployment wants: quantized scan wide, raw scan
   * narrow.
   */
  def hammingSearchRerank(
      queries: DataFrame, // (qid, qvec)
      corpus: DataFrame, // (id, vec)
      dim: Int,
      candK: Int,
      k: Int,
      metric: Metric.Value = Metric.L2): DataFrame = {
    // swapped/misconfigured args would silently return candK < k rows per
    // query — indistinguishable from a small corpus
    require(candK >= k, s"candK ($candK) must be >= k ($k)")
    val qB = Sizing.bytes(queries)
    val cB = Sizing.bytes(corpus)
    val cands = hamming(queries, corpus, dim, candK, qB, cB).select("qid", "id")
    rerankExact(cands, queries, corpus, k, metric, candK, qB, cB)
  }

  /** Exact-metric rerank of a bounded candidate set: the (qid, id) pairs
    * broadcast onto the raw corpus scan, so the fp32 read touches only
    * candidates. Shared tail of the quantized two-pass pipelines.
    * Both hints are size-gated on the QUERY batch (`qB`; cands is
    * bounded by |queries| x candK 16-byte pairs, so gating it by
    * queries x candK is a conservative over-estimate) — above the gate
    * AQE plans the joins for the flood. */
  private def rerankExact(
      cands: DataFrame, // (qid, id)
      queries: DataFrame, // (qid, qvec)
      corpus: DataFrame, // (id, vec)
      k: Int,
      metric: Metric.Value,
      candK: Int, qB: BigInt, cB: BigInt): DataFrame = {
    val spark = queries.sparkSession
    val cb =
      if (Sizing.fitsBroadcastGate(spark, qB, math.max(1, candK))) broadcast(cands)
      else cands
    val qb = if (Sizing.fitsBroadcastGate(spark, qB, 1)) broadcast(queries) else queries
    val rescored = corpus
      .join(cb, "id")
      .join(qb, "qid")
      .select(col("qid"), col("id"),
        vector.distance(col("qvec"), col("vec"), metric).as("dist"))
    // corpus x candidates x queries, the candidates priced at the first
    // pass's qBytes x cBytes
    TopKAggregator.topKPerQuery(rescored, k, Sizing.mergeParts(spark, (qB * cB).pow(2)))
      .select("qid", "id", "dist", "rank")
  }

  /**
   * Scalar-quantized (SQ8) two-pass search — the int8 sibling of the PQ
   * and binary pipelines: the first pass scans per-vector int8 codes
   * ([[EmbeddingOps.quantizeInt8]]'s floor(x * 127/max|x|) codes,
   * 4x fewer scan bytes), dequantized in the scan projection
   * (code/scale, rounded to FLOAT so both engines agree bit for bit) and
   * scored with the same codegen'd distance kernel as exact search; the
   * exact-metric rerank then touches only the candidate rows. The
   * dequantize transform runs once per CORPUS ROW (narrow, amortized
   * over the whole query batch), never per candidate pair.
   */
  def sq8SearchRerank(
      queries: DataFrame, // (qid, qvec)
      corpus: DataFrame, // (id, vec)
      candK: Int,
      k: Int,
      metric: Metric.Value = Metric.L2): DataFrame = {
    // same contract as hammingSearchRerank: a swapped pair silently
    // shrinks every result set
    require(candK >= k, s"candK ($candK) must be >= k ($k)")
    val spark = queries.sparkSession
    val qB = Sizing.bytes(queries)
    val cB = Sizing.bytes(corpus)
    val scale = EmbeddingOps.sq8Scale(col("vec")) // shared: codes/oracle can't drift
    // The codes table is the SQ8 index artifact — one BINARY byte per dim
    // (the true 4x scan-byte reduction) + a double scale, built once and
    // cached (at 100 TB it is a stored table, like the PQ codes epoch).
    val codesTable = corpus.select(
      col("id"), scale.as("scale"),
      vector.sq8_pack(col("vec"), scale).as("codes"))
      .transform(Dedup.persistOnce)
    // first pass: broadcast query batch x codes scan through the fused
    // dequant-distance kernel (stable compiled loop, no per-pair scratch),
    // bounded partial top-k — the same shape as the exact flood path but
    // over int8 bytes
    val qb = if (Sizing.fitsBroadcastGate(spark, qB, 1)) broadcast(queries) else queries
    val scored = codesTable.crossJoin(qb)
      .select(col("qid"), col("id"),
        vector.sq8_distance(col("qvec"), col("codes"), col("scale"), metric).as("dist"))
    val cands = TopKAggregator.topKPerQuery(scored, candK, Sizing.mergeParts(spark, qB * cB))
      .select("qid", "id")
    rerankExact(cands, queries, corpus, k, metric, candK, qB, cB)
  }
}
