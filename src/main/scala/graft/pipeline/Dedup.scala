package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, graftshims}
import org.apache.spark.sql.functions._

import org.json4s.{JInt, JLong, JString, JValue}
import org.json4s.jackson.JsonMethods

import graft.functions.{text, vector}
import graft.Metric
import graft.storage.LocalWrites._

/**
 * Corpus deduplication for LLM training-data pipelines. Every variant is
 * blocked/bucketed — candidate pairs always come from an equi-join on a
 * blocking key (exact hash, LSH band, SimHash chunk, IVF list), NEVER from
 * an all-pairs comparison, so each shape survives a 100 TB corpus: the only
 * shuffle is on the blocking key, and per-bucket work is bounded by bucket
 * size.
 *
 * The self-join operators persist their shared subplans (Spark has no
 * cross-branch CSE); a long-lived session reusing these repeatedly should
 * release the cache between corpora (`spark.catalog.clearCache()`).
 */
object Dedup {

  /** a<b canonical pair ordering so each pair appears once. */
  private def pairUp(a: Column, b: Column): Column = a < b

  /** Persist unless an equivalent plan is already cached — repeated
    * invocations over the same corpus (bench iterations, retries) would
    * otherwise spam "Asked to cache already cached data" and re-register
    * the cache entry. storageLevel resolves through the CacheManager, so
    * the check is structural, not per-Dataset-object.
    *
    * Materializes EAGERLY on first persist: every persistOnce consumer
    * fans the cached plan into 2+ independent stages of one job (LSH
    * a-side/b-side, bucket sizes + salted rows), and lazy caching lets
    * those stages race to compute the same partitions — each raced
    * partition is computed twice and dropped once (`Block rdd_N already
    * exists` warnings). One up-front pass is the same work the first
    * consumer would do, minus the duplication. DELIBERATE semantics
    * change vs a lazy cache: merely CONSTRUCTING a pipeline DataFrame
    * that flows through here runs the materialization job — every
    * current caller consumes its result, so nothing is wasted, and
    * abandoned-plan laziness matters on the serving paths, which never
    * touch this helper. */
  private[graft] def persistOnce(df: DataFrame): DataFrame = {
    val ctx = matCtx.get
    if (ctx == null) {
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        df.count()
      }
      df
    } else ctx.materialize(df)
  }

  /**
   * Per-thread materialization policy for [[persistOnce]] — the hook
   * that lets a COMPOSED pipeline ([[Curation.curate]]) cut every stage
   * it materializes to a plan LEAF, nested operators included
   * (minhashLsh, contamination — whose persistOnce calls it cannot see).
   * A later plan then starts from that leaf instead of re-analyzing and
   * re-printing every earlier stage, as a persisted frame's plan makes
   * it (perfbench's traced curate: 40 jobs, over 10 s of plan building):
   *
   *  - block-manager mode (`stagingPath` empty): an eager
   *    `localCheckpoint` at `level` (rows, not compressed columns; a
   *    memory-only level gets disk spill added). Each checkpoint is
   *    RECORDED, so a caller can release the set after consuming the
   *    result — the repeated-batch-runs-in-one-driver shape — or leave
   *    it to the ContextCleaner;
   *  - parquet-staging mode: write the frame to `stagingPath/stage-N`
   *    and return the read-back scan. Zero storage-memory footprint (a
   *    100 TB run's corpus-sized text never occupies the block manager);
   *    cleanup is deleting the directory.
   *
   * A frame that is already a leaf (a checkpoint, a staged read-back, the
   * caller's own file input) is returned as-is: cutting it again would
   * copy it once more.
   *
   * Thread-local because pipeline plans are CONSTRUCTED synchronously on
   * one driver thread; [[withMatCtx]] restores the previous context so
   * nested managed scopes compose.
   */
  private[graft] final class MatCtx(
      level: org.apache.spark.storage.StorageLevel,
      stagingPath: Option[String]) {
    val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private var nextStage = 0
    def isStaging: Boolean = stagingPath.nonEmpty
    def materialize(df: DataFrame): DataFrame =
      if (isLeaf(df)) df
      else stagingPath match {
        case Some(root) =>
          val p = s"$root/stage-$nextStage"
          nextStage += 1
          // zstd, not the snappy default: stage files are written once
          // and read a couple of times, and the heavy ones carry corpus
          // text/shingles that snappy barely compresses — measured at the
          // 5M-doc stress, the snappy stage set outgrew the box's disk
          // (dev/ROUND12.md); zstd's ~3x ratio on that payload is pure
          // footprint win at negligible read cost
          df.graftWrite.mode("overwrite").option("compression", "zstd").parquet(p)
          df.sparkSession.read.parquet(p)
        case None =>
          val cut = df.localCheckpoint(eager = true, level)
          frames += cut
          cut
      }
  }

  /** True iff the frame's optimized plan is a bare materialized relation
    * (no projection/filter/join above it): a file-source scan or a
    * checkpoint's `LogicalRDD`. */
  private def isLeaf(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case r => r.getClass.getSimpleName == "DataSourceV2Relation"
    }

  private val matCtx = new ThreadLocal[MatCtx]

  /** Run `body` with `ctx` governing every [[persistOnce]] on this
    * thread (nested operator calls included); restores the previous
    * context on exit. */
  private[graft] def withMatCtx[A](ctx: MatCtx)(body: => A): A = {
    val prev = matCtx.get
    matCtx.set(ctx)
    try body
    finally if (prev == null) matCtx.remove() else matCtx.set(prev)
  }

  /** Run `body` under this thread's [[MatCtx]], or if none, under a
    * `MEMORY_AND_DISK` one left to the ContextCleaner. */
  private[graft] def withStageCuts[A](body: => A): A =
    if (matCtx.get != null) body
    else withMatCtx(new MatCtx(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK, None))(body)

  /** True set Jaccard of two string-array columns — the single verify
    * expression every LSH candidate path thresholds on (incremental,
    * minhashLsh, ngramJaccardExact share it so a future change cannot
    * silently diverge between them). */
  private def setJaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Per-side row cap for one bucket-join task: a bucket above this size is
    * split into salted sub-buckets, so per-task candidate fan-out is at
    * most maxBucket^2 regardless of k-means skew. */
  val DefaultMaxBucket = 4096

  /**
   * All ordered same-bucket pairs (a_id, b_id), a != b, with SKEW-BOUNDED
   * tasks: bucket sizes are counted, buckets larger than `maxBucket` rows
   * split into ceil(n/maxBucket) salted sub-buckets, and each row fans out
   * to one sub-bucket per side-combination — the classic blocked self-join
   * tiling. Every ordered pair lands in exactly one (bucket, bi, bj) block,
   * and each block's join is at most maxBucket x maxBucket, so one hot
   * k-means list (imbalance is routine at 100 TB) can no longer produce a
   * single quadratic straggler task; total candidate volume is unchanged
   * (it is the operator's semantics), but it is spread evenly.
   *
   * Undirected consumers filter a_id < b_id afterwards.
   */
  private[pipeline] def bucketedSelfPairs(
      assigned: DataFrame, // (list_id, id)
      maxBucket: Int): DataFrame = {
    val sizes = assigned.groupBy("list_id").agg(count(lit(1)).as("bucket_n"))
    val salted = assigned.join(sizes, "list_id")
      .withColumn("nsplit",
        greatest(lit(1), ceil(col("bucket_n") / maxBucket)).cast("int"))
      .withColumn("salt", pmod(xxhash64(col("id")), col("nsplit")).cast("int"))
    val blocks = explode(sequence(lit(0), col("nsplit") - 1))
    val a = salted
      .withColumn("bj", blocks)
      .select(col("list_id"), col("salt").as("bi"), col("bj"), col("id").as("a_id"))
    val b = salted
      .withColumn("bi", blocks)
      .select(col("list_id"), col("bi"), col("salt").as("bj"), col("id").as("b_id"))
    a.join(b, Seq("list_id", "bi", "bj"))
      .filter(col("a_id") =!= col("b_id"))
      .select("a_id", "b_id")
  }

  /**
   * Exact dedup: group identical normalized text, keep the lowest id.
   * Returns (keep_id, dup_count, text); dup_count > 1 marks duplicates.
   */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .select(col("keep_id"), col("dup_count"), col(textCol))

  /**
   * Exact dedup, quality-aware: within each identical-text group keep the
   * preferred row — lexicographically smallest `prefCol` (canonical-source
   * priority), ties broken by lowest id — instead of blindly keeping the
   * lowest id. Implemented as a min-of-struct aggregation (field-by-field
   * lexicographic ordering), which map-side combines: the shuffle carries
   * one candidate per (partition, text) instead of the window variant's
   * full per-group sort. Returns (keep_id, keep_<prefCol>, dup_count, text).
   */
  def exactKeepBest(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      prefCol: String = "source"): DataFrame =
    docs
      .groupBy(col(textCol))
      .agg(
        // leading isNull key: Spark's struct ordering sorts a null field
        // FIRST, which would let a null source beat every named source —
        // the opposite of "canonical-source priority" and of the SQL
        // oracle's NULLS LAST ordering. false < true puts non-null first.
        min(struct(col(prefCol).isNull, col(prefCol), col(idCol))).as("best"),
        count(lit(1)).as("dup_count"))
      .select(
        col("best")(idCol).as("keep_id"),
        col("best")(prefCol).as(s"keep_$prefCol"),
        col("dup_count"),
        col(textCol))

  /**
   * Edit-distance near-duplicate pairs: all same-language pairs with
   * Levenshtein distance <= `maxDist`. Candidates come from a length-band
   * blocking join ([[graft.operators.RangeJoin.band]] on text length):
   * lev(a,b) <= d forces |len(a)-len(b)| <= d, so banding with radius d
   * is a lossless pigeonhole — no near-dup pair is ever missed — while the
   * shuffle stays a linear equi-join on (lang, length-bin) instead of a
   * per-language nested loop.
   *
   * Two exact pre-filters run before the O(maxDist·len) banded-Levenshtein
   * DP, both provable bounds rather than heuristics:
   *  1. the length band itself (above);
   *  2. the COUNT filter: one CHARACTER edit changes at most two
   *     code-point-histogram bins by one each, so lev <= d forces
   *     hist-L1 <= 2d (per-character bins, matching Levenshtein's edit
   *     unit — per-BYTE bins would break the bound on multi-byte UTF-8).
   *     Histograms are computed once per DOC (256 B payload), and the
   *     per-pair check is ~256 adds — it eliminates the random
   *     same-length candidate mass that otherwise pays the full DP
   *     (measured at sf0.1: ~500k banded candidates, ~100 true pairs).
   *
   * maxDist = 0 is the exact-duplicate degenerate case (band radius
   * clamps to 1 — the band is a superset generator, so a wider band only
   * adds candidates the dist filter rejects).
   */
  def editDistancePairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang",
      maxDist: Int = 24): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    // The DP verification runs in the broadcast join's probe tasks, which
    // inherit the LEFT scan's partitioning — a small corpus in one parquet
    // file would run the whole CPU-bound verify on one core. widenScan
    // spreads a small input whose split would starve the verify (too few
    // or too uneven partitions) round-robin over defaultParallelism tasks
    // (size-gated on the input's bytes; at 100 TB the scan is already
    // wider than the cluster and this is a no-op).
    val wide = graft.index.IvfFlatIndex.widenScan(docs, graft.index.Sizing.bytes(docs))
    val a = wide.select(
      col(langCol),
      col(idCol).as("a_id"), col(textCol).as("a_text"),
      text.char_hist(col(textCol)).as("a_hist"),
      length(col(textCol)).cast("long").as("a_len"))
    val b = docs.select(
      col(langCol),
      col(idCol).as("b_id"), col(textCol).as("b_text"),
      text.char_hist(col(textCol)).as("b_hist"),
      length(col(textCol)).cast("long").as("b_len"))
    graft.operators.RangeJoin
      .band(a, b, Seq(langCol), "a_len", "b_len",
        radius = math.max(1L, maxDist.toLong),
        rightPayload = Map(
          "b_id" -> "b_id", "b_text" -> "b_text", "b_hist" -> "b_hist",
          "b_len" -> "b_len_p")) // rightVal itself is dropped by band()
      // Predicate ORDER is load-bearing: Catalyst folds these filters into
      // the band join's condition with caller filters FIRST and the
      // band's exact decimal radius check LAST, and conjuncts
      // short-circuit left to right. The left side is bin-exploded 3x, so
      // ~2/3 of bin-matched candidates fail the radius — the cheap long
      // length check must run before the O(256) histogram L1 and both
      // before the O(d*n) DP, or the DP pays for every cross-bin replica.
      .filter(pairUp(col("a_id"), col("b_id")) &&
        abs(col("a_len") - col("b_len_p")) <= maxDist &&
        text.hist_l1(col("a_hist"), col("b_hist")) <= 2 * maxDist)
      .withColumn("dist",
        levenshtein(col("a_text"), col("b_text"), maxDist).cast("long"))
      .filter(col("dist") >= 0) // banded DP returns -1 past the threshold
      .select("a_id", "b_id", "dist")
  }

  /**
   * TRUE connected components over a near-duplicate pair graph: every doc
   * gets `cluster_id` = the minimum doc id reachable through any chain of
   * pairs, plus the cluster size. This is the exact upgrade over
   * [[dropNearDuplicates]]'s one-pass chain approximation (which keeps
   * one representative per chain but can over-drop: b dropped for (a,b)
   * even when (b,c)'s c was its only link to a kept doc).
   *
   * Algorithm: min-label propagation to fixpoint — the standard
   * distributed CC. Each iteration is ONE equi-join (labels onto the
   * symmetric edge list) + ONE min-aggregation + a least() merge; rounds
   * needed = graph diameter, and near-dup clusters are shallow (pairs
   * share a blocking key), so the driver-side loop runs a handful of
   * bounded-size Spark jobs, not per-row work. Lineage is truncated each
   * round with localCheckpoint so round N's plan doesn't embed rounds
   * 1..N-1 (a reliable checkpoint dir does the same on a cluster).
   * Throws if `maxIters` rounds don't reach the fixpoint.
   */
  def dupClusters(
      docs: DataFrame,
      pairs: DataFrame, // (a_id, b_id) undirected
      idCol: String = "doc_id",
      maxIters: Int = 20): DataFrame = {
    val esym = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionAll(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .transform(persistOnce)
    // label EVERY pair endpoint, not just ids present in docs: a pair
    // endpoint missing from docs (pairs computed pre-filter) must still
    // RELAY labels — without it, chains through the absent id silently
    // never merge and clusters over-split. Relay-only ids are dropped
    // from the output at the end (the docs join below).
    val docIds = docs.select(col(idCol).as("id"))
    val allIds = docIds
      .unionAll(esym.select(col("src").as("id")))
      .distinct()
    var checkpointed = allIds.select(col("id"), col("id").as("lbl"))
      .localCheckpoint(true)
    var labels = checkpointed
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val neighborMin = esym
        .join(labels.select(col("id").as("src"), col("lbl")), "src")
        .groupBy(col("dst").as("id")).agg(min("lbl").as("nbr_lbl"))
      val next = labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl"),
          (col("nbr_lbl") < col("lbl")).as("moved"))
        .localCheckpoint(true)
      changed = next.filter(col("moved")).count()
      // release the PREVIOUS round's checkpoint now that `next` is
      // materialized — without this, a diameter-15 graph pins ~15 full
      // label-table copies in executor storage until driver GC +
      // ContextCleaner catch up, evicting the persisted edge list
      graftshims.unpersistCheckpoint(checkpointed)
      checkpointed = next
      labels = next.select("id", "lbl")
      it += 1
    }
    require(changed == 0,
      s"dupClusters did not converge in $maxIters rounds — raise maxIters")
    // output covers docs only, sizes count docs, and cluster_id is the
    // minimum DOC id of the cluster — a relay-only id may win the label
    // propagation but must not leak out as a cluster id
    val docLabels = labels.join(docIds, "id")
    val canon = docLabels.groupBy("lbl")
      .agg(min("id").as("cluster_id"), count(lit(1)).as("cluster_size"))
    docLabels.join(canon, "lbl")
      .select(col("id").as(idCol), col("cluster_id"), col("cluster_size"))
  }

  /**
   * Shingle + banded-MinHash projections shared by the self-join
   * ([[minhashLsh]]) and bipartite ([[incremental]]) paths:
   * `(id, shingles)` and `(id, pos, band)`, both persisted once — both
   * sides of the downstream join reference these subplans and Spark has
   * no cross-branch CSE (ids + band keys are tiny relative to the
   * corpus; shingles are one text-scan's worth).
   *
   * Docs shorter than the shingle width have EMPTY shingle sets: they
   * all share the identity MinHash signature (one giant O(N²) bucket)
   * and their 0/0 jaccard is NaN, which Spark orders ABOVE any threshold
   * — drop them up front (they cannot be near-duplicates of anything).
   */
  private def shingleBands(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      ngram: Int,
      numHashes: Int,
      bands: Int,
      family: graft.functions.HashFamily): (DataFrame, DataFrame) = {
    val toks = docs.select(
      col(idCol).as("id"),
      text.word_ngrams(text.tokenize(col(textCol)), ngram).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .transform(persistOnce)
    // band join carries ONLY ids: candidate volume is pairs x 8 bytes, not
    // pairs x shingle arrays; payloads join back after the distinct
    val sigs = toks
      .withColumn("sig", text.minhash_signature(col("shingles"), numHashes, family = family))
      .select(col("id"),
        posexplode(text.lsh_bands(col("sig"), numHashes, bands)).as(Seq("pos", "band")))
      .transform(persistOnce)
    (toks, sigs)
  }

  /**
   * Corpus-side near-dup index tables — (shingles: `(id, shingles)`,
   * bands: `(pos, band, id)`) — a pure function of the corpus, built once
   * (at 100 TB: written once as index tables at curation time) and reused
   * by every [[incremental]] batch and
   * [[graft.streaming.StreamingIngest.nearDupScreen]] stream.
   */
  def bandIndex(
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      ngram: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      family: graft.functions.HashFamily = graft.functions.HashFamily.Xxh64): (DataFrame, DataFrame) =
    shingleBands(corpus, idCol, textCol, ngram, numHashes, bands, family)

  /**
   * The three corpus-side projections [[incremental]] needs, all pure
   * functions of the corpus: at 100 TB these are written ONCE as index
   * tables at curation time (plain parquet; `bands` bucketed by band key
   * if the ingest cadence warrants it) and every batch reads them back —
   * the corpus TEXT is never rescanned per ingest.
   *
   *  - `shingles`: `(id, shingles)` — n-gram sets for Jaccard verification
   *  - `bands`: `(pos, band, id)` — LSH band keys for candidate blocking
   *  - `exactText`: `(<textCol>, exact_dup_of)` — min corpus id per text
   *
   * The index CARRIES its build parameters: a batch hashed with a
   * different ngram/numHashes/bands/family than the corpus side produces
   * band keys that never collide, and the screen would silently admit
   * every duplicate — consumers derive the parameters from here instead
   * of accepting free ones that could drift.
   */
  final case class CorpusIndex(
      shingles: DataFrame,
      bands: DataFrame,
      exactText: DataFrame,
      ngram: Int = 3,
      numHashes: Int = 64,
      bandCount: Int = 16,
      family: graft.functions.HashFamily = graft.functions.HashFamily.Xxh64)

  /**
   * Build the [[CorpusIndex]] from the corpus. The `family` used here MUST
   * match the one passed to [[incremental]] for every batch screened
   * against this index — mismatched hash families collide on nothing and
   * the near path silently admits every duplicate.
   */
  def buildCorpusIndex(
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      ngram: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      family: graft.functions.HashFamily = graft.functions.HashFamily.Xxh64): CorpusIndex = {
    val (cToks, cBands) =
      shingleBands(corpus, idCol, textCol, ngram, numHashes, bands, family)
    CorpusIndex(
      shingles = cToks,
      bands = cBands,
      exactText =
        corpus.groupBy(col(textCol)).agg(min(col(idCol)).as("exact_dup_of")),
      ngram = ngram, numHashes = numHashes, bandCount = bands, family = family)
  }

  /**
   * Persist the index tables (one parquet table per projection). `bands`
   * is written partitioned by `pos` so a batch's band join prunes to the
   * band positions it actually probes; the shingle and exact tables stay
   * flat (they are joined by id / text hash, both uniformly distributed).
   */
  def writeCorpusIndex(index: CorpusIndex, path: String): Unit = {
    index.shingles.graftWrite.mode("overwrite").parquet(s"$path/shingles")
    index.bands.graftWrite.mode("overwrite").partitionBy("pos").parquet(s"$path/bands")
    index.exactText.graftWrite.mode("overwrite").parquet(s"$path/exact")
    // the build parameters ARE part of the index (a reader hashing with
    // different ones gets band keys that never collide — silent admit-all)
    writeParamsJson(index.shingles.sparkSession, s"$path/params.json",
      s"""{"ngram":${index.ngram},"num_hashes":${index.numHashes},""" +
        s""""bands":${index.bandCount},"family":"${index.family}"}""")
  }

  /** Write `json` to `path` through the path's Hadoop filesystem (same
    * filesystem the parquet tables use) — the shared params-sidecar
    * plumbing for [[writeCorpusIndex]] and
    * [[Curation.writeEvalScreen]]; build parameters travel WITH the
    * data so a reader can never hash with mismatched ones. */
  private[pipeline] def writeParamsJson(
      spark: org.apache.spark.sql.SparkSession, path: String, json: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read a [[writeParamsJson]] sidecar back as parsed JSON; `what`
    * names the writer in the missing-file error. */
  private[pipeline] def readParamsJson(
      spark: org.apache.spark.sql.SparkSession, path: String, what: String): JValue = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"$path missing — not a $what directory")
    val in = fs.open(p)
    val raw = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      buf.toString("UTF-8")
    } finally in.close()
    JsonMethods.parse(raw)
  }

  /** Read back a [[writeCorpusIndex]] directory for [[incremental]] /
    * [[graft.streaming.StreamingIngest.nearDupScreen]] — build parameters
    * included, so consumers can never hash a batch with mismatched ones. */
  def readCorpusIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): CorpusIndex = {
    val j = readParamsJson(spark, s"$path/params.json", "writeCorpusIndex")
    def num(k: String): Int = (j \ k) match {
      case JInt(i) => i.toInt
      case JLong(l) => l.toInt
      case other => throw new IllegalArgumentException(s"bad $k in params.json: $other")
    }
    val fam = (j \ "family") match {
      case JString("Poly") => graft.functions.HashFamily.Poly
      case JString("Xxh64") => graft.functions.HashFamily.Xxh64
      case other => throw new IllegalArgumentException(s"bad family in params.json: $other")
    }
    CorpusIndex(
      shingles = spark.read.parquet(s"$path/shingles"),
      bands = spark.read.parquet(s"$path/bands"),
      exactText = spark.read.parquet(s"$path/exact"),
      ngram = num("ngram"), numHashes = num("num_hashes"),
      bandCount = num("bands"), family = fam)
  }

  /**
   * Incremental dedup: match an incoming batch against an EXISTING corpus
   * without ever self-joining the corpus — the shape of continuous-ingest
   * curation, where the corpus is 100 TB and the batch is a day's crawl.
   * Every batch doc comes back with `dup_of` (the lowest matching corpus
   * id; null = novel) and `match_kind` ('exact' | 'near' | null), exact
   * taking precedence.
   *
   * Exact path: one left equi-join on the text (min corpus id per text).
   * Near path: bipartite banded MinHash — batch band keys join corpus
   * band keys, candidates carry 8-byte ids only, true n-gram Jaccard
   * verifies survivors. This overload derives the corpus projections
   * inline; the index-table shape a 100 TB deployment runs is the
   * [[CorpusIndex]] overload below.
   */
  def incremental(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      ngram: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      family: graft.functions.HashFamily = graft.functions.HashFamily.Xxh64): DataFrame =
    incremental(batch,
      buildCorpusIndex(corpus, idCol, textCol, ngram, numHashes, bands, family),
      idCol, textCol, threshold)

  /**
   * [[incremental]] against a PREBUILT [[CorpusIndex]] — the production
   * shape: the index tables are computed once (or read back from parquet)
   * and only the tiny batch side is hashed per ingest; the corpus text is
   * never scanned in the batch plan. The batch-side hash parameters come
   * FROM the index (mismatched parameters would produce band keys that
   * never collide — a silent admit-all screen — so they are not free
   * arguments here).
   */
  def incremental(
      batch: DataFrame,
      index: CorpusIndex,
      idCol: String,
      textCol: String,
      threshold: Double): DataFrame =
    incrementalManaged(batch, index, idCol, textCol, threshold)._1

  /** [[incremental]] plus a release handle for the two batch-side caches
    * this call registers (the shingle and band projections of the batch).
    * The advertised shape is a continuous ingest loop — one call per
    * crawl batch — and every batch is a structurally new plan, so without
    * a release the cache registry (and its disk spill) grows by two
    * entries per batch until driver GC. Call release() after the result
    * is consumed; one-shot callers can use [[incremental]] and let the
    * ContextCleaner reclaim the caches. */
  def incrementalManaged(
      batch: DataFrame,
      index: CorpusIndex,
      idCol: String,
      textCol: String,
      threshold: Double): (DataFrame, () => Unit) = {
    val exact = batch.select(col(idCol), col(textCol))
      .join(index.exactText, Seq(textCol), "left")
      .select(col(idCol), col("exact_dup_of"))
    val (bToks, bBands) = shingleBands(batch, idCol, textCol,
      index.ngram, index.numHashes, index.bandCount, index.family)
    val (cToks, cBands) = (index.shingles, index.bands)
    val cands = bBands
      .join(cBands.select(col("pos"), col("band"), col("id").as("c_id")),
        Seq("pos", "band"))
      .select("id", "c_id").distinct()
    val near = cands
      .join(bToks.select(col("id"), col("shingles").as("a_sh")), "id")
      .join(cToks.select(col("id").as("c_id"), col("shingles").as("b_sh")), "c_id")
      .withColumn("jaccard", setJaccard(col("a_sh"), col("b_sh")))
      .filter(col("jaccard") >= threshold)
      .groupBy("id").agg(min("c_id").as("near_dup_of"))
    val out = exact.join(near, exact(idCol) === near("id"), "left")
      .select(exact(idCol),
        coalesce(col("exact_dup_of"), col("near_dup_of")).as("dup_of"),
        when(col("exact_dup_of").isNotNull, "exact")
          .when(col("near_dup_of").isNotNull, "near").as("match_kind"))
    (out, () => { bToks.unpersist(false); bBands.unpersist(false) })
  }

  /**
   * MinHash + LSH near-duplicate pairs: shingle -> minhash signature ->
   * band keys -> equi-join on (band, key) for candidates -> verify with
   * true n-gram Jaccard -> threshold. One shuffle on the band key; the
   * signature pass is a single map.
   */
  def minhashLsh(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      ngram: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      family: graft.functions.HashFamily = graft.functions.HashFamily.Xxh64): DataFrame = {
    val (toks, sigs) = shingleBands(docs, idCol, textCol, ngram, numHashes,
      bands, family)
    val a = sigs.select(col("pos").as("band_pos"), col("band").as("band_key"),
      col("id").as("a_id"))
    val b = sigs.select(col("pos").as("band_pos"), col("band").as("band_key"),
      col("id").as("b_id"))
    val cands = a.join(b, Seq("band_pos", "band_key"))
      .filter(pairUp(col("a_id"), col("b_id")))
      .select("a_id", "b_id").distinct()
    cands
      .join(toks.select(col("id").as("a_id"), col("shingles").as("a_sh")), "a_id")
      .join(toks.select(col("id").as("b_id"), col("shingles").as("b_sh")), "b_id")
      .withColumn("jaccard", setJaccard(col("a_sh"), col("b_sh")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /**
   * Apply a near-duplicate pair set to the corpus: every doc that appears
   * as the HIGHER id of a pair is dropped, keeping the lowest id of each
   * duplicate cluster reachable by pair-chaining (the standard cheap
   * approximation of connected components — one anti-join, no iteration;
   * a doc both kept and dropped in different pairs resolves to dropped,
   * which keeps exactly one representative per chain).
   */
  def dropNearDuplicates(
      docs: DataFrame,
      pairs: DataFrame, // (a_id, b_id, ...) with a_id < b_id
      idCol: String = "doc_id"): DataFrame =
    docs.join(
      pairs.select(col("b_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /**
   * SimHash near-dup pairs with Hamming distance <= maxHamming. Blocking by
   * pigeonhole: split the 64-bit simhash into (maxHamming+1) chunks — any
   * pair within the bound must agree on at least one chunk, so candidates
   * come from an equi-join on (chunk index, chunk value).
   */
  def simhashPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3,
      family: graft.functions.HashFamily = graft.functions.HashFamily.Xxh64): DataFrame = {
    // 0 is valid (exact-simhash buckets); negatives would give 0 chunks
    // (divide-by-zero) or -1 (silent empty result) — reject with context
    require(maxHamming >= 0 && maxHamming <= 63,
      s"maxHamming must be in [0, 63]: $maxHamming")
    val chunks = maxHamming + 1
    val bits = 64 / chunks
    // (1L << 64) wraps to 1 (shift mod 64): full-width chunks need -1L
    val mask = if (bits >= 64) -1L else (1L << bits) - 1
    val toks = docs.select(col(idCol).as("id"),
      text.tokenize(col(textCol)).as("toks"))
      // empty token sets (non-Latin or punctuation-only text under the
      // [a-z0-9]+ tokenizer) all hash to simhash 0: without this guard
      // they'd share every chunk bucket — one quadratic straggler — and
      // pair with each other at hamming 0 as false "near-duplicates"
      // (same guard + rationale as shingleBands)
      .filter(size(col("toks")) > 0)
    val sigs = toks.select(
      col("id"),
      text.simhash64(col("toks"), family = family).as("sim"))
    val chunkCols = (0 until chunks).map { i =>
      struct(
        lit(i).as("cpos"),
        shiftrightunsigned(col("sim"), i * bits)
          .bitwiseAND(lit(mask)).as("ckey"))
    }
    // both self-join sides reference this subplan; without the persist
    // each side re-scans the corpus AND re-computes simhash64 per row —
    // and the equi-join's inferred isnotnull(join key) is substituted
    // into the scans, running the tokenize+hash a second time per side.
    // The cached frame is (id, sim, cpos, ckey): ~28 bytes x chunks per
    // doc, tiny relative to the text it replaces
    val chunked = sigs
      .select(col("id"), col("sim"), explode(array(chunkCols: _*)).as("pc"))
      .select(col("id"), col("sim"), col("pc.cpos").as("cpos"), col("pc.ckey").as("ckey"))
      .transform(persistOnce)
    val a = chunked.select(col("cpos"), col("ckey"),
      col("id").as("a_id"), col("sim").as("a_sim"))
    val b = chunked.select(col("cpos"), col("ckey"),
      col("id").as("b_id"), col("sim").as("b_sim"))
    a.join(b, Seq("cpos", "ckey"))
      .filter(pairUp(col("a_id"), col("b_id")))
      .select("a_id", "b_id", "a_sim", "b_sim").distinct()
      .withColumn("hamming", bit_count(col("a_sim").bitwiseXOR(col("b_sim"))))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /**
   * Exact n-gram Jaccard similarity pairs within a bounded id subset —
   * the oracle-checkable variant (quadratic, so callers bound the subset;
   * the scalable path is [[minhashLsh]]).
   */
  def ngramJaccardExact(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      ngram: Int = 3,
      threshold: Double = 0.3): DataFrame = {
    val toks = docs.select(
      col(idCol).as("id"),
      array_distinct(text.word_ngrams(text.tokenize(col(textCol)), ngram)).as("sh"))
      .filter(size(col("sh")) > 0) // empty sets -> NaN jaccard (see minhashLsh)
    val a = toks.select(col("id").as("a_id"), col("sh").as("a_sh"))
    val b = toks.select(col("id").as("b_id"), col("sh").as("b_sh"))
    a.crossJoin(b)
      .filter(pairUp(col("a_id"), col("b_id")))
      .withColumn("jaccard", setJaccard(col("a_sh"), col("b_sh")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /**
   * Embedding-cosine near-duplicate pairs, blocked by IVF list: vectors are
   * k-means-assigned (broadcast centroids), candidates are same-list pairs
   * only — the SURVEY §7.5 "IVF list_id as the blocking key" design. With
   * multi-probe assignment (assignProbes > 1) each vector enters its
   * assignProbes nearest lists, trading shuffle volume for recall across
   * list boundaries.
   */
  def embeddingNearDup(
      vectors: DataFrame, // (id, vec)
      centroids: org.apache.spark.broadcast.Broadcast[Array[Array[Float]]],
      maxCosineDist: Double = 0.2,
      assignProbes: Int = 2,
      maxBucket: Int = DefaultMaxBucket,
      maxSelfIndexRows: Int = graft.pipeline.Similarity.MaxSelfIndexRows): DataFrame = {
    // size-gated broadcast fast path (the self-join trick with a threshold
    // sink): the corpus ships once as a ProbeIndex and the exploded
    // multi-probe scan emits only the matching (a_id < b_id, dist <=
    // maxCosineDist) pairs through the NearPairs kernel — no candidate
    // materialization, no payload join-backs. A pair sharing BOTH probed
    // lists emits twice with bit-identical dist; distinct collapses it.
    // Above the gate the salted bucket join below is the 100 TB path.
    // Broadcast lifetime: one ProbeIndex broadcast per call, reclaimed by
    // the ContextCleaner when the returned plan is unreachable (see the
    // knnSelfJoin scaladoc for the serving-loop alternative).
    val spark = vectors.sparkSession
    val batch = Similarity.selfIndexBatch(vectors, graft.index.Sizing.bytes(vectors),
      maxSelfIndexRows, dimHint = centroids.value.head.length)
    if (batch != null) {
      val pairs = graft.index.IvfFlatIndex.localProbe(
        batch, centroids.value, assignProbes, Metric.L2)
      val bc = spark.sparkContext.broadcast(
        graft.index.ProbeIndex(batch, pairs, centroids.value.length))
      // corpus side = the snapshot read back from the SAME ProbeIndex
      // broadcast: one evaluation of the source plan, so query and corpus
      // sides cannot diverge on a non-deterministic input, and nothing
      // re-ships from the driver per run (Similarity.corpusFromProbeIndex)
      return Similarity.corpusFromProbeIndex(spark, bc).select(
        col("id"),
        explode(vector.probe_lists(col("vec"), centroids, assignProbes, Metric.L2))
          .as("list_id"),
        col("vec"))
        .select(col("id").cast("long").as("b_id"),
          explode(vector.near_pairs(col("vec"), col("id").cast("long"),
            col("list_id").cast("int"), bc, Metric.Cosine, maxCosineDist)).as("h"))
        .select(col("h.a_id").as("a_id"), col("b_id"), col("h.dist").as("cos_dist"))
        .distinct()
    }
    // bucket join on (list_id, id) only — vectors join back per candidate
    // pair after the distinct, so the heavy column never rides the
    // quadratic part of the shuffle
    val assigned = vectors.select(
      col("id"),
      explode(vector.probe_lists(col("vec"), centroids, assignProbes, Metric.L2))
        .as("list_id"))
      .transform(Dedup.persistOnce)
    val cands = bucketedSelfPairs(assigned, maxBucket)
      .filter(pairUp(col("a_id"), col("b_id")))
      .select("a_id", "b_id").distinct()
    cands
      .join(vectors.select(col("id").as("a_id"), col("vec").as("a_vec")), "a_id")
      .join(vectors.select(col("id").as("b_id"), col("vec").as("b_vec")), "b_id")
      .withColumn("cos_dist", vector.cosine_distance(col("a_vec"), col("b_vec")))
      .filter(col("cos_dist") <= maxCosineDist)
      .select("a_id", "b_id", "cos_dist")
  }

  /**
   * Exact substring (token-span) duplicate detection — the "exact
   * substring dedup" of Lee et al. 2021 ("Deduplicating Training Data
   * Makes Language Models Better", arXiv:2107.06499) re-expressed as a
   * blocked equi-join: every length-`spanLen` token window is shingled
   * per document (codegen'd [[graft.functions.TextKernels.wordNgrams]]
   * kernel, de-duplicated per doc), and documents sharing any window are
   * paired with the count of distinct shared windows.
   *
   * Scale shape: spans are reduced to 64-bit hashes BEFORE the self-join,
   * so the quadratic candidate stage shuffles (id, 8-byte key) rows only
   * — the span text never rides the shuffle. One equi-join on the span
   * hash + one aggregation; per-key fan-out is bounded by how many docs
   * actually share a window (real duplication), the property this
   * operator exists to find.
   *
   * @return (doc_a, doc_b, n_shared_spans), doc_a < doc_b
   */
  def spanPairs(
      docs: DataFrame,
      spanLen: Int = 15,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spans = docs.select(
      col(idCol).cast("long").as("id"),
      explode(array_distinct(
        text.word_ngrams(text.tokenize(col(textCol)), spanLen))).as("span"))
      .select(col("id"), xxhash64(col("span")).as("h"))
      .transform(persistOnce)
    // r21 (guide §3.2 — reduce the join inputs before the quadratic
    // stage): almost every span hash is unique to one document, yet the
    // self-join carried ALL of them on both sides — pairs can only come
    // from hashes held by >= 2 documents ((id, h) is distinct per doc via
    // array_distinct, so count > 1 on h IS >= 2 docs). One extra
    // aggregation pass over the cached span table prunes both join inputs
    // to the shared-hash sliver, losslessly; at 100 TB it is the
    // difference between self-joining the whole shingle space and only
    // its collisions.
    val shared = spans.groupBy("h").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select("h")
    val dup = spans.join(shared, Seq("h"), "left_semi")
    dup.as("a")
      .join(dup.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_spans"))
  }
}
