package graft.index

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession, graftshims}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Metric, SearchParams}
import graft.functions.vector
import graft.kmeans.Lloyd
import graft.storage.LocalWrites._

/**
 * IVF-Flat index on Spark (reference engine/ivf_flat_index.cpp). The
 * inverted lists are a Hive-partitioned Parquet table (`list_id=<n>/`),
 * the centroids a broadcast matrix, and a search is S2 -> S3 -> S5
 * composed (ivf_flat_index.cpp:205-256) along one of four paths:
 *
 *  - **resident** (a bounded batch with no predicate, on an index whose
 *    lists are held resident — [[keepResident]], which the serving
 *    facade calls on every epoch it loads): driver probe -> ONE Spark job
 *    over the [[ResidentLists]] groups that hold probed lists, scoring
 *    into per-query [[TopKBuf]]s -> driver merge + rank. No SQL plan, no
 *    parquet decode, no shuffle;
 *  - **static** (a bounded batch otherwise — with a predicate, or on an
 *    index without resident lists): driver probe -> [[ListScanTopK]] over
 *    the `list_id IN (...)` partition-pruned scan (the Spark equivalent of
 *    "only load the probed lists") -> [[RankTopK]] merge + rank;
 *  - **flood below the broadcast gate**: probed query rows ship through
 *    the lazy broadcast exchange into [[BroadcastProbeTopK]] over the
 *    unshuffled corpus scan -> [[RankTopK]];
 *  - **flood above the gate**: [[CoGroupTopK]] co-partitions probed
 *    queries and corpus on list_id.
 *
 * Every path keeps the reference's partial/merge shape: per-list top-k
 * buffers, then one merge per query, and every path returns the same
 * rows (same distances, same (dist, id) ranks).
 *
 * @param vectors   (id LONG, vec ARRAY<FLOAT>, list_id INT) — usually a
 *                  partitionBy("list_id") epoch read
 * @param centroids broadcast nlist x dim matrix, row index == list_id
 * @param metric    the index's default metric (overridable per search)
 */
class IvfFlatIndex(
    val spark: SparkSession,
    val vectors: DataFrame,
    val centroids: Broadcast[Array[Array[Float]]],
    val metric: Metric.Value,
    /** Called with the (qid, list_id) probe pairs of each small-batch
      * search WHEN IT EXECUTES (via [[ExecutionProbeHook]]) — feeds LFU
      * hot-list stats (reference access_count / last_access,
      * engine/ivf_flat_index.h:34-35). Leave the default no-op to keep
      * search plans free of the observe() wrapper entirely. */
    val probeListener: Array[(Long, Int)] => Unit = IvfFlatIndex.NoopProbeListener,
    /** Registry tag for [[ExecutionProbeHook]] eviction attribution — set
      * by the owning facade (VectorDB passes its instance id) so a
      * multi-tenant JVM can tell WHOSE serving loop outran the probe-map
      * caps. "" = untagged (JVM totals only). */
    val probeOwner: String = "") {

  def nlist: Int = centroids.value.length
  def dimension: Int = centroids.value.head.length

  /**
   * Batch k-NN (S6). Queries: (qid LONG, qvec ARRAY<FLOAT>).
   * Returns (qid, id, dist DOUBLE, rank INT), rank 1..k by (dist, id).
   *
   * Two probe strategies, auto-selected by batch size:
   *
   *  - **static pruning** (batch <= [[IvfFlatIndex.MaxStaticBatch]], the
   *    serving shape — the reference coalesces at most 64 queries/batch):
   *    the probe runs distributed, but only the (qid, list_id) PAIRS — a
   *    few KB of metadata, never vector data — come back to the driver to
   *    build a literal `list_id IN (...)` predicate. That predicate reaches
   *    the parquet scan as a PartitionFilter, so a 100 TB corpus reads only
   *    nprobe/nlist of its partitions. This is the Spark equivalent of the
   *    reference loading only the probed lists (ivf_flat_index.cpp:238).
   *    On an index holding its lists resident ([[keepResident]]) the same
   *    pairs instead select the resident groups one scoring job reads.
   *
   *  - **join pruning** (larger batches, e.g. index-wide self-join):
   *    fully-distributed broadcast equi-join on list_id with no driver
   *    round-trip; the scan is pruned dynamically when DPP fires, and at
   *    worst degrades to a full scan that is still a single pass.
   */
  def search(queries: DataFrame, params: SearchParams): DataFrame =
    searchWhere(queries, params, None)

  /**
   * Filtered ANN: relational predicate + top-k in one plan — the predicate
   * lands in the same pruned scan as the probe's partition filter, so
   * Catalyst pushes BOTH down to parquet (something the reference engine
   * cannot express at all, SURVEY §7.5). Pass a predicate over the
   * vectors table's columns (e.g. col("label") === 3).
   */
  def searchWhere(
      queries: DataFrame,
      params: SearchParams,
      predicate: Option[org.apache.spark.sql.Column],
      strategy: IvfFlatIndex.ProbeStrategy = IvfFlatIndex.Auto): DataFrame = {
    val m = params.metric.getOrElse(metric)
    val nprobe = math.min(params.nprobe, nlist)
    val corpus = predicate.map(vectors.filter).getOrElse(vectors)
    if (strategy == IvfFlatIndex.ForceJoin)
      return searchJoinPruned(corpus, queries.select(col("qid"), col("qvec")),
        params.k, nprobe, m)
    // snapshot ONCE: a non-deterministic queries plan (sample, unordered
    // limit) must not be re-evaluated for probe vs join — the probe pairs
    // and the joined qvecs have to come from the same rows. One job
    // answers batch size AND provides the batch.
    val qdf = queries.select(col("qid"), col("qvec"))
    // ForceStatic must snapshot the WHOLE batch — the limit-probe would
    // silently truncate a batch above the threshold
    if (strategy == IvfFlatIndex.ForceStatic)
      searchBatch(IvfFlatIndex.decodeQueryRows(qdf.collect()), params, predicate)
    else IvfFlatIndex.snapshotQueries(qdf).batch match {
      case Some(batch) => searchBatch(batch, params, predicate)
      case None => searchJoinPruned(corpus, qdf, params.k, nprobe, m)
    }
  }

  /**
   * Static-pruned search over an ALREADY-COLLECTED query batch: zero Spark
   * jobs before the returned plan executes. This is the serving hot path —
   * a facade that has the batch in hand (e.g. after validating it) calls
   * this directly instead of paying a snapshot job (reference coalesced
   * batches are bounded at 64 queries, server/query_service.h:25-31).
   */
  def searchBatch(
      batch: Array[(Long, Array[Float])],
      params: SearchParams,
      predicate: Option[org.apache.spark.sql.Column] = None): DataFrame =
    searchBatchManaged(batch, params, predicate)._1

  /**
   * [[searchBatch]] plus a release handle for the call's broadcast state.
   * The resident path ships no broadcast (the batch rides in the one
   * scoring job's tasks), so its release is a no-op. The static path
   * ships one broadcast, the query map: in a one-shot query that is
   * garbage, but a long-lived serving loop accumulates one per
   * micro-batch until the ContextCleaner happens to run — executor block
   * managers fill with dead broadcast blocks. The serving loop
   * ([[graft.streaming.StreamingSearch.serve]]) calls release() after the
   * sink consumed the batch. Release DESTROYS the broadcast (unpersist
   * would leave the driver-resident block alive — in local mode, i.e.
   * every test and the bench, that frees nothing): the returned plan must
   * not be executed again after release().
   */
  def searchBatchManaged(
      batch: Array[(Long, Array[Float])],
      params: SearchParams,
      predicate: Option[org.apache.spark.sql.Column] = None): (DataFrame, () => Unit) = {
    val m = params.metric.getOrElse(metric)
    val nprobe = math.min(params.nprobe, nlist)
    // null query vectors yield no rows — the SAME semantics as every
    // other path (Knn.exact, rangeSearch, the unbounded join path's
    // silent explode-drop): a throw here would make behavior flip at
    // the MaxStaticBatch boundary for the identical query set. The drop
    // is logged + counted (vdb_dropped_null_queries_total) so missing
    // result rows are diagnosable, never silent.
    val live = IvfFlatIndex.dropNullQueries(batch)
    // the batch is already on the driver — probe it here (parallel
    // chunks) instead of scheduling a one-partition Spark job
    val pairs = IvfFlatIndex.localProbe(live, centroids.value, nprobe, m)
    // the batch's vectors once (never replicated per probe) plus the
    // per-list probe positions — the shared-query-cache idea of
    // kernels.cuh:111-117 in Spark terms
    val probes = ProbeIndex(live, pairs, nlist)
    resident.filter(_ => predicate.isEmpty && live.length <= IvfFlatIndex.MaxStaticBatch) match {
      case Some(r) =>
        val query = new ResidentQuery(r, probes.qids, probes.qvecs, probes.listPos, params.k, m.id)
        (observed(ResidentTopK(spark, query), pairs), () => ())
      case None =>
        val corpus = predicate.map(vectors.filter).getOrElse(vectors)
        val bcP = spark.sparkContext.broadcast(probes)
        (searchStaticPruned(corpus, pairs, bcP, params.k, m), () => bcP.destroy())
    }
  }

  /** Holds this index's lists resident ([[ResidentLists]]) for bounded
    * searches: loads and materializes them (one Spark job) unless already
    * held, extending `previous` (an earlier load of the same epoch) when
    * it can. A no-op when `vectors` is not a list-partitioned parquet
    * epoch read ([[IvfFlatIndex.readEpoch]]) — such an index keeps its
    * SQL path. */
  private[graft] def keepResident(previous: Option[ResidentLists] = None): Unit =
    this.synchronized {
      if (resident.isEmpty) resident = ResidentLists.build(vectors, nlist, dimension, previous)
    }

  /** Drops the resident lists; later searches take the static path, and
    * searches already built keep working (their groups recompute from the
    * epoch files). */
  private[graft] def releaseResident(): Unit = this.synchronized {
    resident.foreach(_.release())
    resident = None
  }

  /** The resident lists, when held. */
  private[graft] def residentLists: Option[ResidentLists] = resident

  @volatile private var resident: Option[ResidentLists] = None

  /** `result` with this index's probe listener attached per execution
    * (stats record when the plan RUNS, not here at construction — an
    * abandoned DataFrame must leave hot-list stats untouched). */
  private def observed(result: DataFrame, pairs: Array[(Long, Int)]): DataFrame =
    if (probeListener eq IvfFlatIndex.NoopProbeListener) result
    else ExecutionProbeHook.arm(result, () => probeListener(pairs), probeOwner)

  private def searchStaticPruned(
      corpus: DataFrame, pairs: Array[(Long, Int)],
      probeIdx: Broadcast[ProbeIndex],
      k: Int, m: Metric.Value): DataFrame = {
    val listIds = pairs.map(_._2).distinct.toSeq
    // per-list scan + partial top-k as ONE stable operator: the pruned
    // scan's rows go straight into per-query insertion buffers — no
    // candidate rows, no per-candidate generated glue (see ListScanTopK)
    val pruned = corpus
      .filter(col("list_id").isInCollection(listIds)) // static partition pruning
      .select(col("id").cast("long"), col("list_id").cast("int"), col("vec"))
    val partial = ListScanTopK(pruned,
      new FlatListScorer(probeIdx, m.id), k)
    // a list-scan partial keeps its corpus side's estimate (Sizing)
    val parts = Sizing.mergeParts(spark, Sizing.bytes(corpus))
    observed(TopKAggregator.finalizePartial(partial, k, parts)
      .select("qid", "id", "dist", "rank"), pairs)
  }

  /**
   * Fully-distributed flood search: per-candidate scoring lives in stable
   * library operators on BOTH regimes (round-7 fix — the previous
   * equi-join → distance-per-candidate-row → partial-top-k shape kept all
   * per-candidate work in whole-stage-generated glue, the JIT-deopt
   * exposure [[ListScanTopK]] shed for the static path):
   *
   *  - **below the size gate** (the serving/ScaleStress flood shape): the
   *    probed rows ship through Spark's lazy broadcast exchange into
   *    [[BroadcastProbeTopK]] — the corpus never shuffles, each query
   *    vector ships once (the old hint-join shipped one copy per probe
   *    row), and plan construction stays job-free for ForceJoin callers.
   *  - **above the gate** (true floods — queries x nprobe too big to
   *    broadcast): [[CoGroupTopK]] co-partitions probed queries and corpus
   *    on list_id — the same data movement as the plain equi-join it
   *    replaces, with AQE free to split skewed list partitions.
   */
  private def searchJoinPruned(
      corpus: DataFrame, queries: DataFrame, k: Int, nprobe: Int, m: Metric.Value): DataFrame = {
    // ONE row per qid BEFORE the probe explosion: duplicated qids with
    // different qvecs probe DIFFERENT list sets, so any per-group
    // first-wins downstream still lets finalizePartial merge candidates
    // scored against two different vectors into one top-k. The static
    // path dedups globally at the driver (dropNullQueries); the flood
    // path must too — the extra query-side exchange is nprobe-times
    // smaller than the probe-replica shuffle that follows.
    val probed = IvfFlatIndex.probeRows(IvfFlatIndex.onePerQid(queries), centroids, nprobe, m)
    val qB = Sizing.bytes(queries)
    val cB = Sizing.bytes(corpus)
    if (Sizing.fitsBroadcastGate(spark, qB, nprobe)) {
      val partial = BroadcastProbeTopK.flat(probed,
        IvfFlatIndex.widenScan(
          corpus.select(col("id"), col("list_id"), col("vec")), cB, sortCols = Seq("list_id")),
        k, m.id)
      TopKAggregator.finalizePartial(partial, k, Sizing.mergeParts(spark, qB * cB))
        .select("qid", "id", "dist", "rank")
    } else CoGroupTopK.flatSearch(probed, corpus, k, m.id, nlist, Sizing.salt(spark, cB, nlist))
  }

  /** Exact brute-force scan (S1) — also the recall oracle for IVF. */
  def searchExact(queries: DataFrame, k: Int,
      metricOverride: Option[Metric.Value] = None): DataFrame =
    Knn.exact(queries, vectors.select("id", "vec"), k, metricOverride.getOrElse(metric))

  /**
   * Per-list covering radii: max true-L2 distance from any member to its
   * centroid, indexed by list_id (empty lists -> 0). One map-side-combined
   * aggregation over the corpus, collected as nlist doubles (bounded
   * metadata, like the probe pairs); computed once per index — or preset
   * from a persisted table ([[IvfFlatIndex.writeListRadiiTable]]) so an
   * epoch-backed 100 TB index pays no corpus pass at load time.
   */
  @volatile private var radiiCache: Array[Double] = null

  /** Install persisted radii (epoch load path). Radii are only consumed
    * as an UPPER bound on member-to-centroid distance, so installing
    * radii valid for (a superset of) this membership is the caller's
    * contract — the facade's append MERGES max(old, batchMax) into the
    * persisted table BEFORE its rows land (round 19), which keeps the
    * bound valid through growth; a stale under-sized bound would be a
    * false-dismissal bug. */
  def presetListRadii(r: Array[Double]): Unit = {
    require(r.length == nlist, s"radii length ${r.length} != nlist $nlist")
    radiiCache = r
  }

  def listRadii: Array[Double] = {
    val c = radiiCache
    if (c != null) c
    else this.synchronized {
      if (radiiCache == null) radiiCache = computeListRadii()
      radiiCache
    }
  }

  /** The covering radii if already known (preset from the epoch's
    * persisted table, or computed earlier) — None means deriving them now
    * would cost a full corpus pass. Lets a caller
    * ([[graft.api.VectorDB.registerSql]]) attach radii to the SQL range
    * rewrite only when they are free. */
  private[graft] def radiiIfKnown: Option[Array[Double]] = Option(radiiCache)

  private def computeListRadii(): Array[Double] = {
    val cmap = new java.util.HashMap[java.lang.Long, Array[Float]]()
    centroids.value.zipWithIndex.foreach { case (c, i) => cmap.put(i.toLong, c) }
    val bcC = spark.sparkContext.broadcast(cmap)
    // the aggregation materializes inside this method, so the broadcast
    // is dead the moment collect() returns — destroy it deterministically
    // (a long-lived driver computing radii per index would otherwise
    // accumulate centroid-map blocks until GC)
    try {
      val rows = vectors
        // skip null rows like every scan path does — a null vec/list_id
        // group would otherwise unbox null into getLong/getDouble below
        .filter(col("vec").isNotNull && col("list_id").isNotNull)
        .select(col("list_id").cast("long").as("lid"), col("vec"))
        .groupBy("lid")
        .agg(max(graft.functions.vector
          .distance_to_query(col("vec"), col("lid"), bcC, Metric.L2)).as("maxd"))
        .collect()
      val radii = Array.fill(nlist)(0.0)
      rows.foreach(r => radii(r.getLong(0).toInt) = math.sqrt(r.getDouble(1)))
      radii
    } finally bcC.destroy()
  }

  /** Candidate (qid, list_id) pairs for a fixed-radius search: a list
    * survives iff the query ball intersects the list's covering ball —
    * ||q − c|| <= sqrt(radius) + maxR(list). Reverse triangle inequality
    * makes the prune EXACT (no false dismissals): for any x in the list,
    * ||q − x|| >= ||q − c|| − ||x − c|| >= ||q − c|| − maxR. A NaN
    * covering radius (one NaN vector component poisons the max() that
    * computed it) makes the IEEE test false, which would FALSELY DISMISS
    * the list's healthy members — treat it as unbounded instead (always
    * scan that list), the same guard as [[graft.plans.SqlAnn]]'s
    * intersecting(). */
  private[index] def rangeProbe(
      batch: Array[(Long, Array[Float])], radius: Double): Array[(Long, Int)] = {
    val radii = listRadii
    val cents = centroids.value
    batch.flatMap { case (qid, qv) =>
      val lists = metric match {
        // Cauchy–Schwarz ball bound (round 16): IP is not a metric, but
        // the L2 covering ball bounds the dot exactly — see the kernel
        case Metric.InnerProduct =>
          graft.functions.VectorKernels.ipRangeProbeLists(qv, cents, radii, radius)
        case _ =>
          graft.functions.VectorKernels.rangeProbeLists(qv, cents, radii, radius)
      }
      lists.iterator.map(l => (qid, l))
    }
  }

  /**
   * Exact fixed-radius range search ([[Knn.range]] semantics) with IVF
   * list pruning: only lists whose covering ball intersects a query ball
   * are scanned, and the pruned lists reach the parquet scan as a
   * `list_id IN (...)` PartitionFilter like the static top-k path — on a
   * 100 TB epoch the scan reads only the intersecting partitions. Results
   * are bit-identical to the brute-force scan (the prune is a metric-space
   * bound, not a heuristic). L2 natively; INNER PRODUCT via the
   * Cauchy–Schwarz ball bound (round 16 — the covering ball is an L2 fact
   * that bounds the dot exactly, no transform needed); cosine remains
   * unsupported here (the SQL surface offers it behind the unit-norm
   * attestation). Unbounded query sets fall back to the full scan.
   */
  def rangeSearch(queries: DataFrame, radius: Double): DataFrame =
    rangeSearchManaged(queries, radius)._1

  /**
   * [[rangeSearch]] plus a release handle for the call's query-map
   * broadcast — the same managed contract as [[searchBatchManaged]]: a
   * one-shot query can ignore the handle (ContextCleaner reclaims it
   * eventually), but a long-lived serving driver issuing repeated range
   * searches must call release() after the result is consumed, or dead
   * broadcast blocks accumulate until GC. The plan must not be executed
   * again after release().
   */
  def rangeSearchManaged(queries: DataFrame, radius: Double): (DataFrame, () => Unit) = {
    require(metric == Metric.L2 || metric == Metric.InnerProduct,
      s"rangeSearch needs a list bound (L2 ball or IP Cauchy–Schwarz); got $metric")
    val qdf = queries.select(col("qid"), col("qvec"))
    IvfFlatIndex.snapshotQueries(qdf).batch match {
      case Some(batch) =>
        val live = IvfFlatIndex.dropNullQueries(batch)
        val pairs = rangeProbe(live, radius)
        val sp = spark
        import sp.implicits._
        if (pairs.isEmpty)
          return (Seq.empty[(Long, Long, Double)].toDF("qid", "id", "dist"), () => ())
        val qmap = new java.util.HashMap[java.lang.Long, Array[Float]]()
        live.foreach { case (qid, qv) => qmap.put(qid, qv) }
        val bcQ = spark.sparkContext.broadcast(qmap)
        val probed = pairs.toSeq.toDF("qid", "list_id")
        val result = vectors
          .filter(col("list_id").isInCollection(pairs.map(_._2).distinct.toSeq))
          .select(col("id").cast("long"), col("list_id").cast("int"), col("vec"))
          .join(broadcast(probed), "list_id")
          // single-conjunct radius filter — see Knn.range: extra conjuncts
          // would be substituted into the join condition and re-evaluate
          // the kernel once per conjunct per candidate
          .withColumn("dist", graft.functions.vector
            .distance_to_query(col("vec"), col("qid"), bcQ, metric))
          .filter(col("dist") <= radius)
          .select("qid", "id", "dist")
        (result, () => bcQ.destroy())
      case None =>
        (Knn.range(qdf, vectors.select("id", "vec"), radius, metric), () => ())
    }
  }
}

object IvfFlatIndex {

  /** Default listener sentinel: searches on an index built with this skip
    * the execution hook entirely (no observe() node in the plan). */
  val NoopProbeListener: Array[(Long, Int)] => Unit = _ => ()

  /** Total null query vectors dropped across the BOUNDED-batch search
    * paths on this JVM (driver-snapshot serving: searchBatchManaged, the
    * PQ twin, rangeSearch) — published as `vdb_dropped_null_queries_total`
    * by [[graft.api.VectorDB.metricsText]]. JVM-wide by design (one
    * process = one scrape endpoint). Scope note: the UNBOUNDED ForceJoin
    * path cannot feed a driver counter — there the facade's in-plan guard
    * raises on malformed rows at execution instead, so nulls never drop
    * silently on that path either. */
  val droppedNullQueries = new java.util.concurrent.atomic.AtomicLong(0)

  /** The shared prelude of the static (bounded-batch) paths: drops null
    * query vectors (counted + logged), then keeps the FIRST remaining row
    * per qid. From here on the search batch is unique by qid, so the
    * probe index, the PQ rerank map and the range query map all score
    * the same single qvec — the driver-side twin of [[onePerQid]]. */
  private[index] def dropNullQueries(
      batch: Array[(Long, Array[Float])]): Array[(Long, Array[Float])] = {
    val live = batch.filter(_._2 != null)
    val dropped = batch.length - live.length
    if (dropped > 0) {
      droppedNullQueries.addAndGet(dropped.toLong)
      val qids = batch.iterator.filter(_._2 == null).map(_._1).take(8).mkString(", ")
      System.err.println(
        s"[graft] dropped $dropped null query vector(s) from batch (qids: $qids" +
          (if (dropped > 8) ", ..." else "") + ")")
    }
    firstPerQid(live)
  }

  /** First row per qid, batch order kept. */
  private[index] def firstPerQid(
      batch: Array[(Long, Array[Float])]): Array[(Long, Array[Float])] = {
    val seen = new java.util.HashSet[java.lang.Long](batch.length * 2)
    batch.filter(q => seen.add(q._1))
  }

  /** Probe-strategy override for [[IvfFlatIndex.searchWhere]]: Auto picks
    * by batch size; ForceJoin keeps everything distributed (no driver
    * snapshot) for arbitrarily large query sets; ForceStatic snapshots
    * regardless (caller asserts the batch is bounded). */
  sealed trait ProbeStrategy
  case object Auto extends ProbeStrategy
  case object ForceStatic extends ProbeStrategy
  case object ForceJoin extends ProbeStrategy

  /** Batches up to this size use the static-pruning probe (the reference's
    * serving batches cap at 64, server/query_service.h:25; 1024 x 2048D
    * worst case is ~8 MB of driver metadata). */
  val MaxStaticBatch = 1024

  /**
   * Spread a small scan round-robin over every core when its planned
   * split would starve a compute-heavy consumer ([[Sizing.starves]]):
   * fewer partitions than the target, or a file split with one partition
   * far above its share. Flood scoring is heavy per byte and per LIST: a
   * corpus row scores against every query probing its list, so a task's
   * work is rows x probing queries, summed over the lists it holds.
   * Spark's file packer fills an epoch read's first partition with its
   * ~31 biggest list files, and that one task held the flood. perfbench
   * `offline` (20k x 128-D, nlist 128, 4 cores, first unit, seed 11): 5
   * scan partitions, one holding 11,083 of the 20,000 rows; the flat
   * scoring stage ran 1,695 ms on it against 17-394 ms on the others, the
   * PQ ADC stage 3,046 ms against 12-442 ms. Round-robin gives each task
   * ~1/p of every list, which balances work however skewed the lists are
   * (same run widened: 4 tasks of 5,000 rows, 628-772 ms flat and
   * 1,213-1,326 ms ADC), for one shuffle of the input (10 MB of flat
   * vectors there). A split that is already even, or set by a shuffle
   * (a frame clustered by list), is left as it is. Reading the split
   * plans `df` once.
   *
   * The explicit partition count keeps AQE's byte-based coalescing from
   * re-folding the shuffle, and the cheap local sort restores per-list
   * locality for scorers that amortize per-list state (PQ ADC tables).
   *
   * `bytesPerTask` (r20) scales the widening to the caller's WORK
   * DENSITY: flood scorers widen maximally (the default 0), while a
   * per-row text projection, ~1000x lighter per byte, asks for
   * ceil(bytes / bytesPerTask) tasks (guide §2: derive partitioning from
   * input size).
   */
  private[graft] def widenScan(
      df: DataFrame, bytes: BigInt, bytesPerTask: Long = 0L,
      sortCols: Seq[String] = Nil): DataFrame = {
    val p = Sizing.widenParts(df.sparkSession, bytes, bytesPerTask)
    if (p == 0 || !Sizing.starves(df.rdd.partitions, p)) df
    else {
      val wide = df.repartition(p)
      if (sortCols.isEmpty) wide
      else wide.sortWithinPartitions(sortCols.map(col): _*)
    }
  }

  /** One row per (query, probed list): the flood paths' probe explosion
    * over one-row-per-qid queries. */
  private[index] def probeRows(
      uniq: DataFrame, centroids: Broadcast[Array[Array[Float]]],
      nprobe: Int, m: Metric.Value): DataFrame =
    uniq.withColumn("list_id", explode(vector.probe_lists(col("qvec"), centroids, nprobe, m)))
      .select("qid", "qvec", "list_id")

  /** (qid, qvec) row decode shared by every snapshot site; a missing qvec
    * stays null so callers choose their own error contract. `offset`
    * skips leading columns (e.g. the multi-index stream's index name). */
  def decodeQueryRow(r: org.apache.spark.sql.Row, offset: Int = 0): (Long, Array[Float]) =
    (r.getLong(offset), Option(r.getSeq[Float](offset + 1)).map(_.toArray).orNull)

  /** One row per qid for the distributed flood paths — the global twin of
    * the static paths' [[firstPerQid]]. Which duplicate survives is
    * Spark's pick (deterministic for a deterministic input plan); the
    * invariant every path must share is that exactly ONE qvec per qid is
    * ever scored. */
  private[graft] def onePerQid(queries: DataFrame): DataFrame =
    queries.dropDuplicates("qid")

  /** [[decodeQueryRow]] over a collected sample, dropping null-qid rows
    * first (counted + logged like null-vector drops): Row.getLong NPEs on
    * a null, and the unbounded flood paths SKIP null-qid rows silently —
    * behavior must not flip at the MaxStaticBatch/broadcast gate. */
  def decodeQueryRows(
      rows: Array[org.apache.spark.sql.Row],
      offset: Int = 0): Array[(Long, Array[Float])] = {
    val live = rows.filter(!_.isNullAt(offset))
    val dropped = rows.length - live.length
    if (dropped > 0) {
      droppedNullQueries.addAndGet(dropped.toLong)
      System.err.println(s"[graft] dropped $dropped null-qid query row(s) from batch")
    }
    live.map(decodeQueryRow(_, offset))
  }

  /** Result of [[snapshotQueries]]: the decoded prefix sample (validation
    * material either way), and whether it IS the whole query set. */
  case class QuerySnapshot(sample: Array[(Long, Array[Float])], bounded: Boolean) {
    /** The serving batch when the set fits the static path. */
    def batch: Option[Array[(Long, Array[Float])]] = if (bounded) Some(sample) else None
  }

  /**
   * THE bounded-snapshot decision, shared by searchWhere, the VectorDB
   * validation path, and the streaming serve loop (keeping three copies in
   * sync was a bug farm): one limited collect; `bounded` when the query
   * set fits [[MaxStaticBatch]] (the sample IS the serving input — the
   * source plan is never evaluated twice). An over-limit set still
   * returns its prefix so callers can validate eagerly before going
   * distributed.
   */
  def snapshotQueries(queries: org.apache.spark.sql.DataFrame): QuerySnapshot = {
    // Two probe shapes, both deliberate (r9):
    //  - driver-local batch (the serving path's Seq.toDF): limit+collect
    //    folds into the LocalRelation at optimization time — ZERO jobs,
    //    ZERO codegen; the limit never reaches physical planning
    //    (pinned by VectorDBSpec "schedules NO extra Spark jobs").
    //  - distributed source: rdd.take, NOT limit(n).collect(). Spark's
    //    BaseLimitExec mints a JVM-global `_limit_counter_N` state name
    //    per operator instance, so a plan containing a limit NEVER hits
    //    the codegen cache — every snapshot paid a fresh Janino compile +
    //    C2 warm-in of the whole probe stage, re-paid on EVERY plan build
    //    (r9 bench-instability root cause). RDD take pulls partition
    //    iterators lazily (narrow pipelines compute only the pulled rows,
    //    incremental 1-then-4x job scaling like executeTake) and compiles
    //    nothing run-varying (pinned by SnapshotQueriesSpec).
    val sel = queries.select(col("qid"), col("qvec"))
    // `isLocal` alone misses Project(LocalRelation) (any .toDF rename);
    // the optimizer's ConvertToLocalRelation folds those, so test the
    // OPTIMIZED plan (computing it runs no jobs and is cached)
    val local = sel.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    val sample =
      if (local) sel.limit(MaxStaticBatch + 1).collect()
      else sel.rdd.take(MaxStaticBatch + 1)
    QuerySnapshot(decodeQueryRows(sample), sample.length <= MaxStaticBatch)
  }

  /** Driver-side probe of a bounded query batch: chunk-parallel, ordered
    * output — mirrors the reference's host-side select_nprobe_lists loop
    * (ivf_flat_index.cpp:215-218). ~33M madds for 1024 x 16384-list
    * worst case, far below one Spark job's scheduling cost. Also the
    * probe half of the self-join's broadcast fast path
    * ([[graft.pipeline.Similarity.knnSelfJoin]]). */
  private[graft] def localProbe(
      batch: Array[(Long, Array[Float])],
      cents: Array[Array[Float]],
      nprobe: Int,
      m: Metric.Value): Array[(Long, Int)] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val chunks = batch.grouped(64).toArray
    val probed = Await.result(
      Future.sequence(chunks.toSeq.map { chunk =>
        Future {
          chunk.flatMap { case (qid, v) =>
            graft.functions.VectorKernels.probeLists(v, cents, nprobe, m.id)
              .map(listId => (qid, listId))
          }
        }
      }), Duration.Inf)
    probed.flatten.toArray
  }

  /** Train centroids (S8) from (id, vec) rows — seed 42, 10 Lloyd iters. */
  def train(
      spark: SparkSession,
      vectors: DataFrame,
      nlist: Int,
      maxTrain: Int = Lloyd.DefaultMaxTrain): Array[Array[Float]] =
    Lloyd.trainFromDataFrame(vectors, nlist, "id", "vec", maxTrain)

  /**
   * Assign every vector to its inverted list (S7/S9 head): the distributed
   * argmin over broadcast centroids. Input (id, vec) -> (id, vec, list_id).
   */
  def assign(
      vectors: DataFrame,
      centroids: Broadcast[Array[Array[Float]]]): DataFrame =
    vectors.withColumn("list_id", vector.argmin_centroid(col("vec"), centroids))

  /**
   * S9 tail: write the assigned corpus as a list-partitioned epoch.
   * Hive partitioning by list_id is the reference's per-list shard layout
   * (format/storage.h:27-34) and is what makes probe-time partition
   * pruning possible.
   *
   * File layout at scale: without a pre-shuffle, EVERY write task opens a
   * file in EVERY list directory — nlist x tasks tiny files (4096 lists x
   * 1000 tasks = 4M files). The repartition below clusters each list's
   * rows first, producing `filesPerList` files per list; raise
   * `filesPerList` when single lists outgrow one task (k-means skew) so
   * hot lists split across writers — the AQE-era version of the
   * reference's shard compaction (format/storage.h:91-173).
   */
  def writeEpoch(assigned: DataFrame, epochPath: String, filesPerList: Int = 1): Unit =
    clusterByList(assigned, filesPerList)
      .graftWrite
      .mode("overwrite")
      .partitionBy("list_id")
      .parquet(epochPath)

  /** Hash rows to writers by list (and `filesPerList` slot), with an
    * EXPLICIT partition count: the session's `spark.sql.shuffle.partitions`,
    * the count the exchange plans anyway. A list-partitioned write costs
    * per FILE, not per byte: every touched list gets a directory, a data
    * file and its `.crc`, each with its own parquet writer, permission
    * and commit rename. Since setting a permission stopped forking a
    * `chmod` ([[graft.storage.LocalWrites]]), the nlist-128 append's write
    * job takes 0.24-0.42 s on 4 cores (0.9-1.1 s with the forks), and the
    * per-file work that remains is most of it. AQE's byte-based
    * coalescing would fold an append's few-hundred-KB shuffle into ONE
    * partition and serialise all ~nlist file creations onto one task. A
    * REPARTITION_BY_NUM exchange is never coalesced, so the writes spread
    * over every core, while each (list, slot) still hashes to exactly one
    * writer: one file per touched list per append. */
  private def clusterByList(assigned: DataFrame, filesPerList: Int): DataFrame = {
    val n = assigned.sparkSession.sessionState.conf.numShufflePartitions
    if (filesPerList <= 1) assigned.repartition(n, col("list_id"))
    else assigned.repartition(n, col("list_id"),
      pmod(hash(col("id")), lit(filesPerList)))
  }

  /**
   * S9 append semantics (ivf_flat_index.cpp:148-202): add a new batch to
   * an existing epoch's lists. Only the touched list partitions gain new
   * files; untouched lists are not rewritten (dynamic partition append).
   * The reference additionally evicts stale GPU copies of touched lists —
   * the Spark analog is that a re-read/persist picks up the new files.
   */
  def appendToEpoch(assigned: DataFrame, epochPath: String, filesPerList: Int = 1): Unit =
    clusterByList(assigned, filesPerList)
      .graftWrite
      .mode("append")
      .partitionBy("list_id")
      .parquet(epochPath)

  /**
   * Open an epoch directory written by [[writeEpoch]]: the same relation
   * `spark.read.parquet` builds (an [[InMemoryFileIndex]] over the same
   * files, `list_id` an inferred INT partition column, so partition
   * pruning, `refresh()` and the SQL freshness signatures
   * ([[graft.plans.SqlAnn.relationListingBytes]]) behave as before), but
   * listed by ONE driver-side walk instead of Spark's listing job.
   *
   * Why: above 32 directories `spark.read.parquet` lists in a Spark job
   * with one task per directory — at nlist 128 that job cost 0.41-0.47 s
   * of every append reload and 1.14 s of every compaction, for a listing
   * the driver does in milliseconds. The walk calls `listStatus` once
   * per directory and hands plain statuses to the index through a
   * [[FileStatusCache]] pre-filled for the root. It never asks for
   * permissions and never builds a `LocatedFileStatus` from a local
   * status: on `RawLocalFileSystem` either forks an `ls` per file (a
   * recursive `listFiles` made appends slower, its listing growing from
   * 0.9 s to 2.0 s as files accumulated).
   *
   * The data schema comes from the first file's footer, read on the
   * driver ([[footerSchema]]), so opening an epoch runs no Spark job.
   *
   * Trade-off: the walk is sequential, one `listStatus` per list
   * directory. On a high-latency object store at nlist 4096 that is
   * 4,097 sequential LIST calls where the job ran them in parallel.
   */
  def readEpoch(spark: SparkSession, epochPath: String): DataFrame = {
    val raw = new Path(epochPath)
    val fs = raw.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(raw)
    val cache = new PrelistedFiles(root, listVisibleFiles(fs, root))
    val index = new InMemoryFileIndex(spark, Seq(root), Map.empty, None, cache)
    val first = index.allFiles().headOption.getOrElse(throw new java.io.FileNotFoundException(
      s"no parquet files to read an epoch schema from under $root"))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      graftshims.asNullable(footerSchema(spark, first)), None, new ParquetFileFormat,
      Map.empty)(spark))
  }

  /** The schema of one parquet file, from its footer, read on the driver:
    * what `ParquetFileFormat.inferSchema` returns for a directory of data
    * files without summary files (it reads the first file's footer), minus
    * the one-task Spark job it runs to read it. */
  private def footerSchema(spark: SparkSession, file: FileStatus): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Every visible leaf file under `dir`, one `listStatus` per directory.
    * Hidden by Spark's own rule: names starting with `_` and without `=`
    * (`_SUCCESS`, `_temporary/`), names starting with `.` (`.crc`), and
    * in-flight copies ending in `._COPYING_`. */
  private def listVisibleFiles(fs: FileSystem, dir: Path): Array[FileStatus] =
    fs.listStatus(dir).flatMap { st =>
      val name = st.getPath.getName
      if ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
          name.endsWith("._COPYING_")) Array.empty[FileStatus]
      else if (st.isDirectory) listVisibleFiles(fs, st.getPath)
      else Array(st)
    }

  /** A one-root listing for [[readEpoch]]'s file index. After
    * `invalidateAll` (the index's `refresh()`) it answers nothing, and
    * the index re-lists through Spark as any parquet read would. */
  private final class PrelistedFiles(root: Path, files: Array[FileStatus])
      extends FileStatusCache {
    private val leaves =
      new java.util.concurrent.ConcurrentHashMap[Path, Array[FileStatus]]()
    leaves.put(root, files)
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      Option(leaves.get(path))
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = {
      leaves.put(path, leafFiles); ()
    }
    override def invalidateAll(): Unit = leaves.clear()
  }

  def broadcastCentroids(
      spark: SparkSession,
      centroids: Array[Array[Float]]): Broadcast[Array[Array[Float]]] =
    spark.sparkContext.broadcast(centroids)

  /** F2: THE centroid parquet layout `(id = row index, vec)` — one
    * definition shared by the VectorDB facade and the PQ epoch writer so
    * the two can always read each other's files. */
  def writeCentroidTable(
      spark: SparkSession, rows: Array[Array[Float]], path: String): Unit = {
    import spark.implicits._
    rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
      .toDF("id", "vec").coalesce(1).graftWrite.mode("overwrite").parquet(path)
  }

  def readCentroidTable(spark: SparkSession, path: String): Array[Array[Float]] =
    spark.read.parquet(path).orderBy("id")
      .collect().map(_.getSeq[Float](1).toArray)

  /** Covering-radii table `(list_id, radius)` beside the centroids —
    * computed once at epoch build so load-time range searches pay no
    * corpus pass. Same bounded-metadata scale as the centroid table. */
  def writeListRadiiTable(spark: SparkSession, radii: Array[Double], path: String): Unit = {
    import spark.implicits._
    radii.zipWithIndex.map { case (r, i) => (i, r) }.toSeq
      .toDF("list_id", "radius").coalesce(1).graftWrite.mode("overwrite").parquet(path)
  }

  /** Fold the bounds dir by per-list MAX (round 20): the dir holds the
    * build-time BASE file plus zero or more append-time DELTA files
    * ([[appendBoundsDelta]]), and max is the fold because radii/errs are
    * per-list maxes — `max(base, delta1, delta2, ...)` is exact for the
    * union membership in ANY landing order, which is what makes
    * concurrent writers (across facades AND processes) commute without a
    * lock. NaN/+Inf poisons propagate through the fold. */
  def readListRadiiTable(spark: SparkSession, path: String, nlist: Int): Array[Double] = {
    val out = Array.fill(nlist)(0.0)
    spark.read.parquet(path).collect().foreach { r =>
      val i = r.getInt(0)
      out(i) = math.max(out(i), r.getDouble(1))
    }
    out
  }

  /** Land a batch's per-list maxes as a NEW uniquely-named parquet file
    * INSIDE the live bounds dir (radii/pqerrs) — append-only delta rows,
    * folded by max at read ([[readListRadiiTable]]/[[readListErrsTable]]).
    * Because writers never read-modify-write shared state, two appends —
    * two facades, two JVM PROCESSES — interleave arbitrarily and the
    * fold still sees both contributions (pre-r20 the in-place table
    * rewrite could lose the loser's batch max across processes: an
    * under-sized bound, the false-dismissal class everything else in
    * the bounds design rules out). Crash safety: the delta is staged in
    * a sibling temp dir and moved into place one atomic file rename at
    * a time; callers land the delta BEFORE their rows, so a crash
    * leaves either no delta (rows never landed — the old fold still
    * covers) or a complete one (over-cover at worst). Zero/negative
    * values are skipped (the fold's floor is 0.0); NaN/+Inf poisons are
    * kept. */
  def appendBoundsDelta(
      spark: SparkSession,
      values: Array[Double],
      cols: (String, String),
      livePath: String): Unit = {
    require(new java.io.File(livePath).isDirectory,
      s"bounds dir to delta into does not exist: $livePath")
    import spark.implicits._
    val rows = values.zipWithIndex.collect {
      // keeps v > 0 and NaN (NaN <= 0.0 is false); drops the fold floor
      case (v, i) if !(v <= 0.0) => (i, v)
    }
    if (rows.isEmpty) return
    val uuid = java.util.UUID.randomUUID().toString.replace("-", "")
    val tmp = s"$livePath.delta-$uuid"
    rows.toSeq.toDF(cols._1, cols._2)
      .coalesce(1).graftWrite.mode("overwrite").parquet(tmp)
    val parts = new java.io.File(tmp).listFiles().filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    parts.zipWithIndex.foreach { case (f, i) =>
      val dest = new java.io.File(livePath, s"delta-$uuid-$i.parquet")
      if (!f.renameTo(dest))
        throw new java.io.IOException(
          s"could not land bounds delta $f -> $dest")
    }
    graft.storage.EpochManager.deleteRecursively(tmp)
  }

  /** Per-list max PQ decode errors `(list_id, err)` — the radii table's
    * twin (round 19, r18 verdict #1): buildEpoch's single meta pass
    * ([[graft.plans.SqlAnn.computePqRangeMeta]]) yields BOTH bounds, and
    * persisting the errs beside `radii` (as `pqerrs`) turns every
    * `registerSql(pqRangeAccel = true)` from a corpus scan into a
    * metadata read. Lifecycle is identical to radii: MERGED before an
    * append lands (max(old, batchMax) is exact for the union — round
    * 19's maintenance), copied by compaction
    * (membership and codes preserved exactly). Reference analog: derived
    * index metadata rides the epoch, not the reader
    * (format/storage.cpp:22-132). */
  def writeListErrsTable(spark: SparkSession, errs: Array[Double], path: String): Unit = {
    import spark.implicits._
    errs.zipWithIndex.map { case (e, i) => (i, e) }.toSeq
      .toDF("list_id", "err").coalesce(1).graftWrite.mode("overwrite").parquet(path)
  }

  /** Missing list ids read as 0.0 — the same value the meta pass records
    * for an EMPTY list (no rows, nothing to bound), and the base write
    * above always emits all nlist rows anyway. Same max-fold over
    * base + append deltas as [[readListRadiiTable]]. */
  def readListErrsTable(spark: SparkSession, path: String, nlist: Int): Array[Double] = {
    val out = Array.fill(nlist)(0.0)
    spark.read.parquet(path).collect().foreach { r =>
      val i = r.getInt(0)
      out(i) = math.max(out(i), r.getDouble(1))
    }
    out
  }

  /** Build an in-memory index (train + assign, no epoch write). */
  def build(
      spark: SparkSession,
      vectors: DataFrame,
      nlist: Int,
      metric: Metric.Value = Metric.L2,
      maxTrain: Int = Lloyd.DefaultMaxTrain): IvfFlatIndex = {
    val cents = train(spark, vectors, nlist, maxTrain)
    val bc = broadcastCentroids(spark, cents)
    new IvfFlatIndex(spark, assign(vectors, bc), bc, metric)
  }
}
