package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Metric
import graft.functions.vector

/**
 * Exact brute-force k-NN (reference S1, engine/kernels.cuh:84-185) as a
 * composed DataFrame plan: the query batch is broadcast (the kernel's
 * shared-memory query cache, SURVEY §4) and every stored vector is scanned
 * once — a nested-loop theta-join, which is exactly what brute force *is*.
 * Top-k runs through [[TopKAggregator.topKPerQuery]]'s partial-combine
 * operator: the Window variant's null/NaN pre-filter on the computed
 * distance column was substituted into the cross-join's condition by
 * predicate pushdown, evaluating the full distance kernel THREE times per
 * (query, vector) pair; the operator skips null/NaN candidates internally
 * and the kernel evaluates once.
 */
object Knn {

  /**
   * @param queries  (qid: LONG, qvec: ARRAY<FLOAT>) — small batch, broadcast
   * @param vectors  (id: LONG, vec: ARRAY<FLOAT>) — the scanned corpus
   * @return (qid, id, dist: DOUBLE, rank: INT), rank 1..k by (dist, id)
   *
   * A bounded batch (<= [[IvfFlatIndex.MaxStaticBatch]]) runs through
   * [[ListScanTopK]] with ONE virtual list covering the whole corpus: each
   * stored vector decodes once and scores against every query inside the
   * stable kernel — the cross-join formulation paid a `toFloatArray` per
   * (query, vector) PAIR through per-query generated code (batch x more
   * copies, plus the deopt exposure the operator was built to shed). An
   * unbounded query set keeps the broadcast nested-loop join, which is
   * what brute force over a stream of queries IS.
   */
  def exact(
      queries: DataFrame,
      vectors: DataFrame,
      k: Int,
      metric: Metric.Value = Metric.L2): DataFrame =
    exactManaged(queries, vectors, k, metric)._1

  /** [[exact]] plus a release handle for the bounded-batch path's query
    * broadcast — same managed contract as [[IvfFlatIndex
    * .searchBatchManaged]]: a long-lived driver (recall monitoring loop)
    * calls release() after the result is consumed; one-shot callers use
    * [[exact]] and let the ContextCleaner reclaim it. The plan must not
    * run again after release(). */
  def exactManaged(
      queries: DataFrame,
      vectors: DataFrame,
      k: Int,
      metric: Metric.Value = Metric.L2): (DataFrame, () => Unit) =
    IvfFlatIndex.snapshotQueries(queries).batch match {
      case Some(batch) => exactBatchManaged(batch, vectors, k, metric)
      case None => (exactJoin(queries, vectors, k, metric), () => ())
    }

  /** The whole corpus as ONE virtual list. */
  private def oneList(vectors: DataFrame): DataFrame =
    vectors.select(col("id").cast("long"), lit(0).cast("int").as("list_id"), col("vec"))

  /** Exact bounded entry, over a decoded batch. Null query vectors
    * yield no rows, counted and logged like every bounded entry's
    * ([[IvfFlatIndex.dropNullQueries]], which also keeps one qvec per
    * qid). */
  private[graft] def exactBatchManaged(
      batch: Array[(Long, Array[Float])],
      vectors: DataFrame,
      k: Int,
      metric: Metric.Value): (DataFrame, () => Unit) = {
    val spark = vectors.sparkSession
    val live = IvfFlatIndex.dropNullQueries(batch)
    val bc = spark.sparkContext.broadcast(
      ProbeIndex(live, live.map(q => (q._1, 0)), nlist = 1))
    val parts = Sizing.mergeParts(spark, Sizing.bytes(vectors))
    (TopKAggregator.finalizePartial(
      ListScanTopK(oneList(vectors), new FlatListScorer(bc, metric.id), k), k, parts)
      .select("qid", "id", "dist", "rank"),
      () => bc.destroy())
  }

  /** Exact flood entry, over a query frame. Below the size gate the
    * batch ships through the lazy broadcast exchange into the same stable
    * scan operator over one virtual list; above it nothing is broadcast
    * (an unconditional hint would bypass autoBroadcastJoinThreshold for
    * an arbitrarily big set, round 7). */
  private[graft] def exactJoin(
      queries: DataFrame,
      vectors: DataFrame,
      k: Int,
      metric: Metric.Value): DataFrame = {
    val qdf = queries.select(col("qid"), col("qvec"))
    val spark = qdf.sparkSession
    val corpus = oneList(vectors)
    val qB = Sizing.bytes(qdf)
    val cB = Sizing.bytes(vectors)
    if (Sizing.fitsBroadcastGate(spark, qB, 1)) {
      val probed = qdf.withColumn("list_id", lit(0))
      TopKAggregator.finalizePartial(BroadcastProbeTopK.flat(
        probed, IvfFlatIndex.widenScan(corpus, cB), k, metric.id), k,
        Sizing.mergeParts(spark, qB * cB))
        .select("qid", "id", "dist", "rank")
    } else {
      // r21: CoGroupTopK's co-partition loops over ONE virtual list,
      // salted by Sizing.floodParts of the query x corpus byte product.
      // The r20 cross join ran its quadratic scoring twice per action
      // (a range exchange's sampling job re-executed it) and built a
      // generated-code row per pair (~1.9 us vs ~0.1 us in the scan
      // loop). One row per qid BEFORE scoring: duplicates replicate
      // into every salt bucket and could score different qvecs.
      val probed = IvfFlatIndex.onePerQid(qdf).withColumn("list_id", lit(0))
      CoGroupTopK.flatSearch(probed, corpus, k, metric.id,
        nlist = 1, salt = Sizing.floodParts(spark, qB, cB))
        .select("qid", "id", "dist", "rank")
    }
  }

  /**
   * Range search: ALL (qid, id, dist) pairs with dist <= radius, exact —
   * the fixed-radius sibling of top-k (FAISS `range_search`; the
   * reference's top-k-only surface has no analog, so this is extension
   * surface). Unlike top-k there is no per-query state to bound: the
   * result IS the filtered candidate set, so the plan is a single corpus
   * scan against the broadcast query batch with the codegen'd distance
   * kernel inside the scan's filter — no shuffle, no aggregation, output
   * cardinality is the only data-dependent cost. At 100 TB this is the
   * cheapest possible shape (embarrassingly parallel over corpus splits);
   * callers bound the radius, not the engine.
   *
   * The radius predicate is the ONLY filter on purpose: `dist <= radius`
   * already rejects NaN (NaN compares greatest) and null, and a separate
   * null/NaN pre-filter would be substituted into the join condition by
   * CollapseProject + pushdown, re-evaluating the distance kernel once
   * per conjunct per (query, vector) pair (the 3x-evaluation trap this
   * file's top-k paths were rebuilt to avoid — pinned by the plan spec).
   */
  def range(
      queries: DataFrame,
      vectors: DataFrame,
      radius: Double,
      metric: Metric.Value = Metric.L2): DataFrame = {
    val qdf = queries.select(col("qid"), col("qvec"))
    // broadcast only under the size gate (same contract as exact():
    // an unconditional hint would bypass autoBroadcastJoinThreshold
    // for an arbitrarily large query set)
    val q =
      if (Sizing.fitsBroadcastGate(qdf.sparkSession, Sizing.bytes(qdf), 1)) broadcast(qdf)
      else qdf
    vectors.select(col("id"), col("vec"))
      .crossJoin(q)
      .withColumn("dist", vector.distance(col("qvec"), col("vec"), metric))
      .filter(col("dist") <= radius)
      .select("qid", "id", "dist")
  }

  /**
   * Rank-limit per query with the reference's deterministic
   * (dist, id) tie order (std::sort on pair<float,uint64>,
   * ivf_flat_index.cpp:493). Input needs columns qid, id, dist.
   */
  def topKPerQuery(scored: DataFrame, k: Int,
      queryCol: String = "qid", idCol: String = "id",
      distCol: String = "dist"): DataFrame = {
    val w = Window.partitionBy(queryCol).orderBy(col(distCol).asc, col(idCol).asc)
    scored
      // null distances (null input vectors) must not win the nulls-first
      // ascending sort, and NaN (NaN vector components) must not rank at
      // all — mirror the reference's id-validity filter
      // (server/query_service.cpp:150)
      .filter(col(distCol).isNotNull && !isnan(col(distCol)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /**
   * S5 merge (ivf_flat_index.cpp:474-518): union of per-list candidates →
   * dedup by id keeping the best (dist, id) — min over the pair preserves
   * the reference's sort-then-first-seen order — then global top-k.
   * In IVF-Flat each id lives in exactly one list so dedup is usually a
   * no-op; it matters when candidates come from overlapping sources.
   */
  def mergeResults(candidates: DataFrame, k: Int,
      queryCol: String = "qid", idCol: String = "id",
      distCol: String = "dist"): DataFrame = {
    val deduped = candidates
      .groupBy(col(queryCol), col(idCol))
      .agg(min(col(distCol)).as(distCol))
    topKPerQuery(deduped, k, queryCol, idCol, distCol)
  }
}
