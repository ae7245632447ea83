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
   * query. `mergeParts` is the final merge's partition count, from
   * [[Sizing]].
   */
  def topKPerQuery(scored: DataFrame, k: Int, mergeParts: Int,
      queryCol: String = "qid", idCol: String = "id",
      distCol: String = "dist",
      maxPartialKeys: Int = MaxPartialKeys): DataFrame = {
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

  /**
   * Final merge over an already-partial candidate stream `(_1 qid LONG,
   * _2 id LONG, _3 dist DOUBLE)` — the output contract of the partial
   * operators ([[PartialTopKExec]], [[ListScanTopKExec]],
   * [[BroadcastProbeTopKExec]] and [[CoGroupTopK]]'s scorers). One
   * explicit-count shuffle clusters each query's partial rows (explicit so
   * AQE's byte-based coalescing cannot starve a compute-heavy merge — see
   * [[CoGroupTopK]]), a spillable in-partition sort groups them into runs,
   * and [[RankTopKExec]] walks each run with one bounded buffer, emitting
   * ranked rows directly. `parts` comes from [[Sizing]] (clamped to the
   * session's shuffle partitions).
   */
  def finalizePartial(partial: DataFrame, k: Int, parts: Int): DataFrame = {
    // the caller's count, never one derived here: this plan's own stats
    // would cost an optimizer pass over the whole search per build
    val n = Sizing.clamp(partial.sparkSession, parts)
    RankTopK(partial.repartition(n, col("_1")).sortWithinPartitions("_1"), k)
  }
}
