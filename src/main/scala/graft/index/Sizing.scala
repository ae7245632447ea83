package graft.index

import org.apache.spark.Partition
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.FilePartition

/**
 * Every size decision of the search and flood plans — partition counts,
 * the flood salt, scan widening, the broadcast gates — from [[bytes]]
 * that callers read once per call from their INPUT frames (the query and
 * corpus sides) and pass down. No decision prices a plan graft built
 * itself: each such read ran a throwaway optimizer pass per search build.
 *
 * Where the old reads priced a graft-built plan, the functions here
 * reproduce that price from the input bytes by Catalyst's size-only
 * rules: a unary operator (a list-scan partial, a filter, a dedup) keeps
 * its child's estimate, so a [[ListScanTopK]] partial costs its corpus
 * bytes; a binary operator or join multiplies its children's, so a
 * [[BroadcastProbeTopK]] partial or a top-k over a query x corpus join
 * costs qBytes x cBytes (in practice the shuffle cap). Catalyst also
 * scales a projection by its row-width ratio (8 + each column's default
 * size); Sizing prices the input unscaled. The ratio is 1 where graft
 * keeps the input's (qid, qvec) or (id, list_id, vec) columns; where it
 * narrows or widens a row (the PQ rerank's raw (id, vec) scan, Knn's
 * virtual list_id), a count moves only if an estimate sits within that
 * ratio of a threshold.
 */
object Sizing {

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

  /** A ranked merge row (qid, id, dist) is 24 B and a query row >= 40 B
    * (qid + vector): qBytes x k x 24/40 over-estimates the merge stream. */
  val MergeRowBytes = 24
  val MinQueryRowBytes = 40

  /** Scoring tasks per merge task of a co-partitioned flood (r21): fewer
    * merge tasks than scorers cuts the maps x reducers shuffle-file matrix
    * (guide §2.2), but ONE merge task ranking a preK-sized flood serially
    * (measured: 720k partial rows ~1.5 s single-task) is the other ditch. */
  val ScorersPerMerge = 4

  /** Corpus bytes per flood sub-bucket the derived salt aims for. A
    * bucket is one task's sequential scan unit; 4 MB keeps tasks in the
    * hundreds of milliseconds even at one-query-per-list floods while
    * staying far above the per-task scheduling constant. */
  val TargetBucketBytes: Long = 4L << 20

  /** Skew headroom on the mean bytes per list (r20 advice): the mean
    * under-splits a hot k-means list several times the mean in the
    * below-cap regime; above the cap the clamp saturates either way. */
  val SkewHeadroom = 4

  /** Co-partition partitions per (list, salt) group: hashing g groups into
    * g partitions co-locates ~1/e of them; at 2g the expected busy count
    * is ~0.8 g for the cost of g mostly-empty buckets (r20 advice). */
  val GroupFactor = 2

  /** Scoring-work target per exact-flood task, in PAIR-BYTES (query bytes
    * x corpus bytes): one distance kernel per (query, corpus) pair, so work
    * per task ∝ the byte product. 4e11 pair-bytes ≈ 1.5M 128-D float pairs
    * ≈ ~100 ms of kernel time — far above the per-task scheduling +
    * shuffle-writer fixed cost the r20 stage profiles attributed (guide
    * §2.5), without the flat full-parallelism fan-out that made 8 cores
    * beat 32 on KB floods. */
  val TargetPairBytes: BigInt = BigInt(400L) * 1000000000L

  /** Cap for scan widening: only an input this small may be round-robin
    * widened — the point is rescuing a compute-starved scan of a SMALL
    * input, never adding a shuffle to a corpus that already fans out. */
  val MaxWidenBytes: Long = 256L << 20

  /** Text bytes per task for the regex-class projections (TextAnalysis
    * analyze, piiScrub): ~512 KB ≈ 100-200 ms of regex work per task
    * (engines run single-digit MB/s per core on these patterns). */
  val RegexTaskBytes: Long = 512L << 10

  /** Conf key of the broadcast gate, in bytes of query-side estimate x
    * fan-out. Above it the query side goes through a plain join instead
    * of an explicit broadcast (which would bypass
    * autoBroadcastJoinThreshold entirely). */
  val BroadcastGateKey = "spark.graft.broadcast.gateBytes"

  /** Default gate: 256 MB — far below Spark's 8 GB broadcast hard limit
    * and any sane driver heap, far above every coalesced serving batch
    * (a 10k x 768D probed side at nprobe 8 is ~250 MB). */
  val DefaultBroadcastGateBytes: Long = 256L << 20

  /** Byte budget for one corpus snapshot of the self-join fast paths:
    * bounds BOTH the bytes pre-gate and the dimension-aware row cap. */
  val MaxSelfIndexBytes: Long = 256L << 20

  /** THE plan-stats read: Catalyst's size estimate of an input frame (no
    * job; scan-accurate for file sources; an unknown source estimates
    * huge and saturates every count). The optimized plan is cached on the
    * frame, so a long-lived corpus pays its optimizer pass once. */
  def bytes(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** THE count formula: ceil(bytes / target) clamped to [1, cap]. */
  def parts(bytes: BigInt, target: BigInt, cap: Int): Int =
    ((bytes + target - 1) / target).min(BigInt(cap)).max(BigInt(1)).toInt

  private def cap(spark: SparkSession): Int = spark.sessionState.conf.numShufflePartitions

  /** An explicit count clamped to [1, spark.sql.shuffle.partitions]. */
  def clamp(spark: SparkSession, n: Int): Int = parts(n, 1, cap(spark))

  /** Final-merge partitions for a candidate stream priced at `streamBytes`
    * — explicit either way: AQE coalescing fixes only the READ side, and
    * map tasks write the full bucket fan-out at the plan-time count. */
  def mergeParts(spark: SparkSession, streamBytes: BigInt): Int =
    parts(streamBytes, MergeTargetBytes, cap(spark))

  /** Merge partitions bounded from the query side (qBytes x k x 24/40),
    * for a top-k over a join whose own estimate is a useless product. */
  def queryMergeParts(spark: SparkSession, qBytes: BigInt, k: Int): Int =
    mergeParts(spark, qBytes * k * MergeRowBytes / MinQueryRowBytes)

  /** Merge partitions from an exact driver-side batch of n queries:
    * floor(n x k x 24 / target) + 1, i.e. the ceil of one byte more. */
  def batchMergeParts(spark: SparkSession, n: Int, k: Int): Int =
    mergeParts(spark, BigInt(n) * k * MergeRowBytes + 1)

  /** Merge partitions of a list scan over a corpus read back from a
    * driver snapshot via `spark.range`, which Catalyst prices at 8 B a row. */
  def snapshotMergeParts(spark: SparkSession, rows: Int): Int =
    mergeParts(spark, BigInt(rows) * 8)

  /** Scoring parallelism (the salt) of the exact flood over one virtual
    * list: ceil(qBytes x cBytes / TargetPairBytes), clamped. */
  def floodParts(spark: SparkSession, qBytes: BigInt, cBytes: BigInt): Int =
    parts(qBytes * cBytes, TargetPairBytes, cap(spark))

  /** Flood co-partition salt: sub-buckets per list. k-means lists are
    * skewed, so each list's CORPUS rows split S ways by id hash (lossless:
    * a candidate lands in one sub-bucket) and its probing queries
    * replicate into all S — one hot list becomes S tasks. Scale-adaptive
    * (r20, guide §2.2/§2.5): [[TargetBucketBytes]] per bucket with
    * [[SkewHeadroom]] on the mean bytes per list, so a bench-sized list
    * takes salt 1 and a 100 TB list splits up to the shuffle parallelism.
    * An UNKNOWN list count (the Int.MaxValue sentinel) prices the whole
    * corpus as one potential hot list rather than dividing it to zero. */
  def salt(spark: SparkSession, cBytes: BigInt, nlist: Int): Int = {
    val perList =
      if (nlist <= 0 || nlist == Int.MaxValue) cBytes else cBytes / BigInt(nlist)
    parts(perList * SkewHeadroom, TargetBucketBytes, cap(spark))
  }

  /** Co-partition shuffle partitions, bounded by the nlist x salt groups:
    * many more partitions than groups just schedules empty tasks, each
    * paying the shuffle writer's per-task file fan-out. */
  def groupParts(spark: SparkSession, nlist: Int, salt: Int): Int =
    clamp(spark, math.min(nlist.toLong * salt * GroupFactor, Int.MaxValue.toLong).toInt)

  /** Merge partitions of a co-partitioned flood: its partial inherits the
    * scan estimate, blind to the partial compaction, so the count tracks
    * the scoring fan-out instead. */
  def coGroupMergeParts(groupParts: Int): Int = math.max(1, groupParts / ScorersPerMerge)

  /** Partitions to widen a small scan to (0 = leave it, over [[MaxWidenBytes]]):
    * the default parallelism, or ceil(bytes / bytesPerTask) clamped to it. */
  def widenParts(spark: SparkSession, bytes: BigInt, bytesPerTask: Long): Int = {
    val maxP = spark.sparkContext.defaultParallelism
    if (bytes > BigInt(MaxWidenBytes)) 0
    else if (bytesPerTask <= 0) maxP
    else parts(bytes, bytesPerTask, maxP)
  }

  /** A file split is unbalanced when one partition holds more than this
    * many p-way shares of the split's bytes ([[starves]]). */
  val MaxSplitShare = 1.5

  /** Whether a scan planned as `parts` starves `p` tasks: fewer
    * partitions than `p`, or a file split ([[FilePartition]]s, reached
    * through partition-preserving operators and caches) whose largest
    * partition holds over [[MaxSplitShare]] p-way shares of its bytes.
    * Spark's file packer (`spark.sql.files.openCostInBytes` per file)
    * fills each partition with the next run of an epoch's list files,
    * biggest first (31 of perfbench's ~80 KB files), so its partition
    * count says nothing about balance.
    * Partitions set by a shuffle or a local relation carry no sizes and
    * are judged by their count alone. */
  def starves(parts: Array[Partition], p: Int): Boolean = parts.length < p || {
    val split = parts.collect { case f: FilePartition => f.files.iterator.map(_.length).sum }
    split.length == parts.length && split.max.toDouble * p > MaxSplitShare * split.sum
  }

  /** Partitions of a served epoch's resident list blocks
    * ([[ResidentLists]]): one per core, so a bounded search scores every
    * probed group at once in a single wave, but never more than half the
    * loaded lists — at one list per partition a batch probing most lists
    * would schedule one task per list. */
  def residentParts(spark: SparkSession, lists: Int): Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism, lists / 2))

  /** Run `body` with the broadcast gate pinned to `gateBytes` (plan paths
    * are chosen at construction, so restoring afterwards is safe). */
  def withGate[T](spark: SparkSession, gateBytes: String)(body: => T): T = {
    val old = spark.conf.getOption(BroadcastGateKey)
    try { spark.conf.set(BroadcastGateKey, gateBytes); body }
    finally old.fold(spark.conf.unset(BroadcastGateKey))(spark.conf.set(BroadcastGateKey, _))
  }

  /** Row cap of a self-join corpus snapshot, or -1 when `bytes` exceed
    * `maxBytes`. The vector width shrinks the cap to the same budget
    * (4 x dim + 24 B a row): stats can underestimate, and a row gate alone
    * is dimension-blind (256k x 2048D is ~2 GB of driver heap). */
  def selfIndexRows(bytes: BigInt, maxRows: Int, dim: Int,
      maxBytes: Long = MaxSelfIndexBytes): Int =
    if (maxRows <= 0 || bytes > BigInt(maxBytes)) -1
    else if (dim <= 0) maxRows
    else math.min(maxRows.toLong, maxBytes / (4L * dim + 24L)).toInt

  /** Does a query side of `qBytes`, fanned out `fanout` times (nprobe
    * probe rows, preK candidates), get a broadcast hint? An unknown size
    * estimates huge -> no hint, the safe default for a flood; AQE can
    * still promote to broadcast at runtime, validated. */
  def fitsBroadcastGate(spark: SparkSession, qBytes: BigInt, fanout: Int): Boolean = {
    val gate = spark.conf.get(BroadcastGateKey, DefaultBroadcastGateBytes.toString).toLong
    qBytes * fanout <= BigInt(gate)
  }
}
