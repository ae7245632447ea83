package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.text
import graft.storage.LocalWrites._

/**
 * Training-data preparation operators a large-scale LLM pipeline needs on
 * top of dedup/similarity: sequence packing, reproducible stratified
 * sampling, eval-set contamination checks, and corpus mixture statistics.
 *
 * Reference analog: none — the reference (a vector-search engine) stops at
 * storage + ANN; these extend the same `documents` surface its pipeline
 * feeds. Every operator here is one equi-partitioned shuffle (or none) and
 * every hash is plain modular arithmetic, so results replay bit-identically
 * in the DuckDB oracle AND across cluster sizes — reproducibility of the
 * sample/pack decisions is a correctness property for training data, not a
 * convenience (a re-run must produce the same training set).
 */
object TrainingPrep {

  /**
   * Concatenate-and-chop sequence packing: the standard LLM pretraining
   * layout — documents are concatenated in a deterministic order and the
   * stream is chopped into fixed `budget`-token context windows. Each doc
   * is assigned the sequence its first token lands in, plus its offset
   * within that sequence.
   *
   * Packing is per (source, shard) where `shard = doc_id % shards`: a
   * running prefix sum is inherently sequential, so at 100 TB one global
   * window would serialize the corpus through one task. Sharding bounds
   * each window partition to corpus/(sources*shards) rows — exactly how
   * production packers shard — at the cost of at most one ragged tail
   * sequence per (source, shard) group. One shuffle total (the window's
   * hash partitioning); the sort is per-group, not global.
   */
  def packSequences(
      docs: DataFrame,
      budget: Int = 256,
      shards: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    require(shards > 0, s"shards must be positive: $shards")
    val w = Window.partitionBy("source", "shard").orderBy(idCol)
    docs
      .withColumn("shard", (col(idCol) % shards).cast("int"))
      .withColumn("n_tokens", text.token_count(col(textCol)).cast("long"))
      // exclusive prefix sum = this doc's start offset in the group stream
      .withColumn("start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(
        col(idCol),
        col("source"),
        col("shard"),
        col("n_tokens"),
        // integer div/mod: offsets are exact longs, never double-rounded
        expr(s"start div $budget").as("seq_id"),
        expr(s"start % $budget").as("seq_offset"))
  }

  /** THE Lehmer-style LCG step shared by sampling, shuffling and capping:
    * id * 48271 + 11 mod 2^31-1 (Mersenne prime, full-period multiplier).
    * One definition on purpose — the scaladocs of
    * [[sampleStratified]]/[[shuffleCorpus]]/[[capPerSource]] promise the
    * SAME generator, and per-site copies could silently desynchronize
    * decisions that are documented to be mutually consistent. Plain
    * modular arithmetic — replayable anywhere, stable across
    * partitioning, runs, and engines. */
  private[graft] def lehmerKey(id: Column): Column =
    pmod(id * 48271L + 11L, lit(2147483647L))

  /** Deterministic per-doc hash in [0, 1000): [[lehmerKey]] mod 1000. */
  private def permilleBucket(id: Column): Column =
    lehmerKey(id) % 1000L

  /**
   * Reproducible stratified sampling: keep a document iff its hash bucket
   * falls under its stratum's per-mille rate. The decision is a pure
   * function of (doc_id, lang) — no RNG state, no partition order
   * dependence — so train/val splits are stable under re-runs, repartition,
   * and incremental corpus growth (new docs never flip old decisions,
   * unlike reservoir or fraction-of-partition sampling). Narrow plan: zero
   * shuffles, filter pushes to the scan.
   */
  def sampleStratified(
      docs: DataFrame,
      ratesPermille: Map[String, Int],
      defaultPermille: Int,
      idCol: String = "doc_id",
      stratumCol: String = "lang"): DataFrame = {
    val rate = ratesPermille.foldLeft(lit(defaultPermille)) {
      case (acc, (k, v)) => when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    docs
      .withColumn("bucket", permilleBucket(col(idCol)))
      .filter(col("bucket") < rate)
      .select(col(idCol), col(stratumCol), col("source"), col("bucket"))
  }

  /**
   * Eval-set contamination check: which corpus documents share word
   * `n`-grams with a held-out eval set? The candidate generator is an
   * equi-join on the shingle string — never an all-pairs scan — and
   * shingles with corpus document frequency above `maxDf` are dropped
   * (boilerplate n-grams match everything and carry no contamination
   * signal).
   *
   * Built around the structural asymmetry of the problem — benchmarks are
   * KBs, corpora are TBs — so CORPUS SHINGLES NEVER SHUFFLE, and no
   * candidate triple materializes before the df cap: pass 1 broadcasts
   * the distinct eval shingles into a pure corpus-df aggregate (map-side
   * combine absorbs hot boilerplate keys; output is eval-bounded) and
   * keeps only shingles with df <= maxDf; pass 2 broadcasts the rare
   * eval shingle occurrences into the corpus scan, so triples exist only
   * for rare shingles — bounded by maxDf x the eval set's shingle count.
   * The one shuffle in the plan is the per-doc count over that tiny set.
   *
   * Returns one row per contaminated corpus doc: the number of distinct
   * eval docs hit and of distinct shared shingles.
   */
  /** Exploded per-doc-DISTINCT word n-gram projection — ONE definition
    * shared by [[contamination]] and
    * [[Curation.evalScreenShingles]], so the batch stage and the
    * streaming screen builder can never silently diverge on
    * tokenization or shingle shape. */
  private[pipeline] def docShingles(
      df: DataFrame, n: Int, idCol: String, textCol: String,
      as: String): DataFrame =
    df.select(
      col(idCol).as(as),
      explode(array_distinct(
        text.word_ngrams(text.tokenize(col(textCol)), n))).as("shingle"))

  def contamination(
      corpusDocs: DataFrame,
      evalDocs: DataFrame,
      n: Int = 3,
      maxDf: Int = 5,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val corpus = docShingles(corpusDocs, n, idCol, textCol, "doc_id")
    val evalSh = Dedup.persistOnce(docShingles(evalDocs, n, idCol, textCol, "eval_id"))
    // ORDER is the scale property: the df cap must be computed BEFORE any
    // candidate triple materializes. A boilerplate shingle shared with the
    // eval set ("one of the") has corpus-df in the millions — triples for
    // it are (corpus-df x eval-df) rows, and materializing them first
    // (even to drop them later) is the near-quadratic blowup the cap
    // exists to prevent. Pass 1 is therefore a pure aggregate (map-side
    // combine absorbs hot keys; output is eval-bounded), and only RARE
    // shingles ever form triples.
    val rare = corpus
      .join(broadcast(evalSh.select("shingle").distinct()), "shingle")
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("shingle")
    // pass 2: triples restricted to rare shingles — bounded by
    // maxDf x |eval shingle occurrences|, so the groupBy's input is tiny
    corpus
      .join(broadcast(evalSh.join(broadcast(rare), "shingle")), "shingle")
      .groupBy("doc_id")
      .agg(
        countDistinct(col("eval_id")).as("n_eval_docs"),
        countDistinct(col("shingle")).as("n_shared_shingles"))
  }

  /**
   * Sliding-window document chunking for embedding/training pipelines:
   * token windows of `window` tokens advancing by `stride` (overlap =
   * window − stride), the standard long-document split before an embedding
   * model. Chunk k starts at token k·stride; the chunk count covers every
   * token (a final ragged chunk when the last window runs past the end;
   * one empty chunk for an empty doc, so no doc silently disappears).
   *
   * Entirely codegen'd builtins (sequence/explode/slice/array_join) —
   * no higher-order functions, no UDFs — and the plan is NARROW: chunking
   * is per-row fan-out, zero shuffles, so it composes with any downstream
   * partitioning at any corpus size.
   */
  def chunkDocuments(
      docs: DataFrame,
      window: Int = 64,
      stride: Int = 48,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window: window=$window stride=$stride")
    docs
      // null text => empty token array: size(NULL) is NULL, which would
      // null-cascade into sequence() and make explode() DROP the doc —
      // violating the "no doc silently disappears" contract above
      .withColumn("toks",
        coalesce(text.tokenize(col(textCol)), array().cast("array<string>")))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("n_chunks",
        when(col("n") <= window, lit(1L))
          .otherwise(expr(s"(n - $window + ${stride - 1}) div $stride") + 1L))
      .withColumn("chunk_id", explode(sequence(lit(0L), col("n_chunks") - 1L)))
      .withColumn("start_tok", col("chunk_id") * stride)
      .select(
        col(idCol),
        col("chunk_id"),
        col("start_tok"),
        least(lit(window.toLong), col("n") - col("start_tok")).as("n_tok"),
        array_join(slice(col("toks"), col("start_tok") + 1, lit(window)), " ")
          .as("chunk_text"))
  }

  /**
   * Deterministic corpus shuffle: a global pseudo-random training order
   * that is a pure function of doc_id (same Lehmer step as
   * [[sampleStratified]], full 31-bit value), so the order is reproducible
   * across runs, engines, and cluster sizes — "shuffle the corpus" without
   * an RNG state anyone has to checkpoint. Ties break by doc_id, so the
   * order is total.
   *
   * The global position is computed WITHOUT a global-window funnel (a
   * `row_number() over (order by …)` with no partition drags the whole
   * corpus through one task): the key space is range-bucketed, each
   * bucket numbers its rows in parallel, and a broadcast offset table
   * (≤ `buckets` rows — the one tiny global window) shifts each bucket
   * to its global base. The key is uniform by construction, so buckets
   * are balanced without sampling.
   */
  def shuffleCorpus(
      docs: DataFrame,
      idCol: String = "doc_id",
      buckets: Int = 1024): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    // keys are uniform in [0, 2^31-1); fixed-width range buckets keep
    // bucket order == key order, which makes offsets well-defined
    val width = (2147483647L + buckets - 1) / buckets
    val keyed = docs
      .withColumn("shuffle_key", lehmerKey(col(idCol)))
      .withColumn("bkt", expr(s"shuffle_key div $width"))
    val wIn = Window.partitionBy("bkt").orderBy(col("shuffle_key"), col(idCol))
    val offsets = keyed
      .groupBy("bkt").agg(count(lit(1)).as("cnt"))
      .withColumn("offset",
        sum(col("cnt")).over(Window.orderBy("bkt")) - col("cnt"))
      .select("bkt", "offset")
    keyed
      .withColumn("rn", row_number().over(wIn).cast("long"))
      .join(broadcast(offsets), "bkt")
      .select(
        col(idCol),
        col("shuffle_key"),
        (col("offset") + col("rn")).as("position"))
  }

  /**
   * Deterministic shard export — the last step of a training-data
   * pipeline: the shuffled corpus lands as `numShards` parquet shard
   * directories of near-equal row counts, plus a JSON manifest recording
   * per-shard counts and an order-insensitive content hash. Shard
   * membership and within-shard order both derive from
   * [[shuffleCorpus]]'s global position — a pure function of the ids —
   * so re-running the export reproduces byte-identical shard membership
   * regardless of partitioning. One range-shuffle on position (the write
   * clusters each shard's rows before opening files: `numShards` files,
   * not shards x tasks).
   */
  def writeShards(
      docs: DataFrame,
      path: String,
      numShards: Int,
      idCol: String = "doc_id"): Unit = {
    require(numShards > 0, s"numShards must be positive: $numShards")
    val spark = docs.sparkSession
    // pin ONCE: the source plan is read three times (count, position pass,
    // payload join) — a non-deterministic input (sample, unordered limit)
    // would otherwise give each pass a different row set, dropping rows
    // from shards and desynchronizing the manifest (same rule as
    // filteredAnnAdaptive's snapshot-once fix)
    // only release a cache THIS call created — a caller that pre-pinned
    // `docs` (its own persist, or persistOnce upstream) keeps its cache
    val callerCached = docs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val pinned = Dedup.persistOnce(docs)
    try {
      val n = pinned.count()
      // empty corpus: the partitioned write emits only _SUCCESS, and the
      // stats read-back below would die on "unable to infer schema" —
      // export an empty-but-valid manifest instead of crashing the job
      if (n == 0) {
        val hPath = new org.apache.hadoop.fs.Path(s"$path/_shards.json")
        val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // same overwrite semantics as the non-empty path's
        // mode("overwrite") write: stale shard=N dirs from a previous
        // export must not survive next to an empty manifest (a reader
        // would silently train on the old rows)
        val root = new org.apache.hadoop.fs.Path(path)
        if (fs.exists(root)) fs.delete(root, true)
        val out = fs.create(hPath, true)
        try out.write("""{"num_shards":0,"total_rows":0,"shards":[]}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        return
      }
      val perShard = math.max(1L, (n + numShards - 1) / numShards)
      val positioned = shuffleCorpus(pinned, idCol)
        .withColumn("shard", expr(s"(position - 1) div $perShard").cast("int"))
        .join(pinned, idCol)
      positioned
        .repartition(col("shard"))
        .sortWithinPartitions("shard", "position")
        .graftWrite.mode("overwrite").partitionBy("shard").parquet(path)
      val stats = spark.read.parquet(path)
        .groupBy("shard")
        .agg(
          count(lit(1)).as("rows"),
          // XOR fold: order-insensitive like a sum but cannot overflow
          // under ANSI arithmetic (xxhash64 values span the full Long range)
          expr(s"bit_xor(xxhash64($idCol))").as("content_hash"))
        .orderBy("shard")
        .collect()
      val manifest = stats.map { r =>
        s"""{"shard":${r.getInt(0)},"rows":${r.getLong(1)},"hash":${r.getLong(2)}}"""
      }.mkString("[", ",", "]")
      // through the Hadoop filesystem of `path`, not java.nio: the shards
      // themselves went through Hadoop, so an hdfs:// or s3a:// export
      // must land its manifest next to them, not on the driver's local
      // disk (or fail on the scheme-prefixed string)
      val hPath = new org.apache.hadoop.fs.Path(s"$path/_shards.json")
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(hPath, true)
      try out.write(
        s"""{"num_shards":${stats.length},"total_rows":$n,"shards":$manifest}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } finally if (!callerCached) pinned.unpersist(blocking = false)
  }

  /**
   * Deterministic per-source cap: keep at most `cap` documents from each
   * source, chosen by the Lehmer shuffle key of doc_id (same generator as
   * [[sampleStratified]]/[[shuffleCorpus]]) so the kept set is a pure
   * function of the ids — stable under repartition and re-runs, and a
   * random-looking subset rather than "the first N by id". The standard
   * guard against any single domain dominating a training mix.
   *
   * Scale shape: rank <= cap over a per-source window. Spark rewrites
   * that to WindowGroupLimit (partial top-cap inside each upstream task
   * BEFORE the shuffle), so a hot source ships at most cap rows per task
   * and sorts at most tasks x cap rows in its final partition — never the
   * whole source.
   */
  def capPerSource(
      docs: DataFrame,
      cap: Int,
      idCol: String = "doc_id",
      srcCol: String = "source"): DataFrame = {
    require(cap > 0, s"cap must be positive: $cap")
    val w = Window.partitionBy(srcCol)
      .orderBy(col("cap_key"), col(idCol))
    docs
      .withColumn("cap_key", lehmerKey(col(idCol)))
      .withColumn("rank_in_source", row_number().over(w))
      .filter(col("rank_in_source") <= cap)
      .select(col(idCol), col(srcCol), col("cap_key"),
        col("rank_in_source"))
  }

  /**
   * Corpus mixture statistics per stratum: document/token counts, each
   * stratum's share of total tokens, and the uniform-target mixture weight
   * (multiply a doc's sampling probability by its stratum's `mix_weight`
   * to flatten the token distribution across strata — the standard
   * rebalancing step before temperature-based mixing). One partial-agg
   * shuffle on the stratum key; token totals are exact longs, and the two
   * doubles are each a single division of exact integers, so partial-agg
   * order can't perturb them.
   */
  def corpusStats(
      docs: DataFrame,
      stratumCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    val per = docs
      .groupBy(stratumCol)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(text.token_count(col(textCol)).cast("long")).as("n_tokens"))
    val tot = per.agg(
      sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_strata"))
    per
      .crossJoin(broadcast(tot))
      .select(
        col(stratumCol),
        col("n_docs"),
        col("n_tokens"),
        // denominator guards (the QualityFilters.ratio convention): a
        // stratum whose docs tokenize to zero tokens (e.g. a zh/ja
        // stratum under the [a-z0-9]+ tokenizer) must yield weight 0, not
        // an Infinity that poisons every downstream sampling probability;
        // an all-empty corpus likewise yields 0 shares, not 0/0 = NaN
        when(col("total_tokens") > 0,
          col("n_tokens").cast("double") / col("total_tokens"))
          .otherwise(0.0).as("token_share"),
        when(col("n_tokens") > 0,
          col("total_tokens").cast("double") / (col("n_strata") * col("n_tokens")))
          .otherwise(0.0).as("mix_weight"))
  }
}
