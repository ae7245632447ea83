package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Bounded top-k aggregation entry points — the partial/final-aggregation
 * shape of the reference's per-thread top-32 insertion buffer + k-way
 * merge (reference engine/kernels.cuh:120-170, ivf_flat_index.cpp:474-518)
 * as TWO first-class physical operators: [[PartialTopKExec]] (map-side
 * combine in bounded memory) and [[RankTopKExec]] (final merge + rank over
 * a qid-clustered, qid-sorted stream).
 */
object TopKAggregator {

  /** Flush threshold for the partial map: with more distinct query ids than
    * this in one partition, the partial stage emits and resets instead of
    * growing (bounded memory at any query cardinality). */
  val MaxPartialKeys = 1 << 18

  /**
   * Operator-based drop-in for [[Knn.topKPerQuery]]: same output schema
   * (qid, id, dist, rank) and the same (dist, id) ordering.
   *
   * Two-level shape: a partial top-k first reduces each partition's
   * candidate stream to <= nQueries x k rows in bounded memory, then the
   * final merge walks the tiny partial stream per query. Both levels are
   * physical operators over primitive getters — no per-candidate (or
   * per-partial-row) encoder boxing, no aggregation buffers crossing the
   * shuffle, and the surrounding plan (probe join, partition-pruned scan)
   * stays visible in `explain`. Both levels keep one [[TopKBuf]] per
   * query.
   */
  def topKPerQuery(scored: DataFrame, k: Int,
      queryCol: String = "qid", idCol: String = "id",
      distCol: String = "dist",
      maxPartialKeys: Int = MaxPartialKeys,
      mergeParts: Int = 0): DataFrame = {
    require(maxPartialKeys > 0, // a 0 budget would spin the flush loop forever
      s"maxPartialKeys must be positive, got $maxPartialKeys")
    // long/double casts are no-ops (optimizer-removed) on already-typed
    // plans, and pin the InternalRow accessor types for the exec's getters.
    // Null candidates are skipped INSIDE the operator (a null-bit check per
    // row) instead of via `filter(dist.isNotNull)`: on a computed distance
    // column that filter gets substituted through the Project into the join
    // condition by predicate pushdown, and the whole distance kernel runs
    // TWICE per candidate row — the dominant cost of every search plan.
    val prepared = scored
      .select(
        col(queryCol).cast("long").as("_1"),
        col(idCol).cast("long").as("_2"),
        col(distCol).cast("double").as("_3"))
    finalizePartial(PartialTopK(prepared, k, maxPartialKeys), k, mergeParts)
  }

  /** Merge-shuffle bytes one final-merge task should own. The merge is
    * light per byte (a spillable sort + one ranking walk over <= nq x k
    * 24-byte rows), so the target errs large (guide §2.2: partitions in
    * the 100 MB - 1 GB range): what the count guards against is the
    * OTHER end — M x R shuffle-file fan-out (block count grows as the
    * product; the r21 stage profiles measured ~8 s of aggregated
    * shuffle-write time for a 6000-row merge at 32 maps x 32 reducers,
    * ~130 KB of data — each (map, reduce) pair pays a compressed-stream
    * open/alloc/close regardless of payload). */
  val MergeTargetBytes: Long = 64L << 20

  /** Merge partition count bounded from the QUERY side: the merge stream
    * is <= distinct qids x k rows of 24 B, and query rows carry >= 40 B
    * of qid + vector payload, so qBytes x k x 24/40 over-estimates the
    * true merge bytes. For callers above a join whose plan stats are the
    * unusable qB x cB product (a cross/equi join's estimate), this is
    * the bound [[finalizePartial]]'s own derivation cannot see. */
  def mergePartsFor(queries: DataFrame, k: Int): Int = {
    val cap = queries.sparkSession.sessionState.conf.numShufflePartitions
    val qB = queries.queryExecution.optimizedPlan.stats.sizeInBytes
    ((qB * k * 3 / 5 + MergeTargetBytes - 1) / MergeTargetBytes)
      .min(BigInt(cap)).max(BigInt(1)).toInt
  }

  /**
   * Final merge over an already-partial candidate stream `(_1 qid LONG,
   * _2 id LONG, _3 dist DOUBLE)` — the output contract of the partial
   * operators ([[PartialTopKExec]], [[ListScanTopKExec]],
   * [[BroadcastProbeTopKExec]] and [[CoGroupTopK]]'s scorers). One
   * explicit-count shuffle clusters each query's partial rows (explicit so
   * AQE's byte-based coalescing cannot starve a compute-heavy merge — see
   * [[CoGroupTopK]]), a spillable in-partition sort groups them into runs,
   * and [[RankTopKExec]] walks each run with one bounded buffer, emitting
   * ranked rows directly.
   */
  def finalizePartial(partial: DataFrame, k: Int, parts: Int = 0): DataFrame = {
    val spark = partial.sparkSession
    val cap = spark.sessionState.conf.numShufflePartitions
    // r21 (guide §2.2/§2.5): the flat session count made EVERY final
    // merge a maps x cap shuffle-file matrix regardless of how few
    // partial rows exist — at bench scale that file fan-out (one
    // compressed stream per (map, reduce) pair) dominated whole queries.
    // Unless the caller pins a count, derive it from the partial plan's
    // own stats: custom partial operators inherit their child's (corpus)
    // size estimate, so a KB-scale input folds the merge to one task
    // while any production-sized scan saturates the session cap. An
    // explicit count either way — AQE coalescing fixes only the READ
    // side; map tasks write the full bucket fan-out at plan-time count.
    val n =
      if (parts > 0) math.min(parts, cap)
      else {
        val bytes = partial.queryExecution.optimizedPlan.stats.sizeInBytes
        ((bytes + MergeTargetBytes - 1) / MergeTargetBytes)
          .min(BigInt(cap)).max(BigInt(1)).toInt
      }
    RankTopK(partial.repartition(n, col("_1")).sortWithinPartitions("_1"), k)
  }
}
