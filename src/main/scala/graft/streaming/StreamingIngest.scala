package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Structured-Streaming surface of the engine. The reference has no data
 * streaming at all — its only time window is the 2 ms RPC coalescing queue
 * (reference server/query_service.cpp:612-636); these operators are the
 * SURVEY §7.5 "streaming ingest" extension: an events stream feeding
 * watermarked windowed aggregation, stateful sessionization, and an
 * append-only staging area that a periodic BuildEpoch re-clusters.
 */
object StreamingIngest {

  /** Batch bytes one state-store partition should own in a bounded
    * replay. The stateful exchange is task-OVERHEAD-bound at tiny
    * per-partition state (per-trigger state-store instances + commit
    * fsyncs dominate — the ROUND14 frontier sweep), so partitions derive
    * from batch volume instead of the session's scan parallelism. */
  val ReplayBytesPerPartition: Long = 8L << 20

  /** Batch volume below which a bounded replay runs its microbatches
    * INTERPRETED: a streaming query's generated classes embed per-run
    * state (checkpoint ids), so nothing hits the Janino cache across
    * runs — ~100 compiled classes of driver time per start against
    * per-row interpretation overhead of microseconds. The cutover errs
    * high only where compile time (~seconds) stays invisible next to
    * the batch's own compute. */
  val ReplayCodegenBytes: Long = 256L << 20

  /** (shuffle partitions, run-interpreted) for a bounded replay of
    * `batchBytes` — derived, not hardcoded (r20 verdict #6): partitions
    * scale with the batch (clamped to the session conf so a cluster-
    * sized session keeps its parallelism), codegen returns above the
    * cutover where it pays for itself. */
  def replayConfs(
      spark: org.apache.spark.sql.SparkSession, batchBytes: Long): (Int, Boolean) = {
    val cap = spark.sessionState.conf.numShufflePartitions
    (graft.index.Sizing.parts(batchBytes, ReplayBytesPerPartition, cap),
      batchBytes < ReplayCodegenBytes)
  }

  case class Event(
      event_id: Long,
      ts: Timestamp,
      user_id: Long,
      event_type: String,
      value: Double)

  case class Session(
      user_id: Long,
      n_events: Int,
      total_value: Double,
      started: Timestamp,
      ended: Timestamp)

  /**
   * Tumbling-window rollup with late-data handling: watermark bounds state,
   * so this runs forever on an unbounded stream without growing memory —
   * the scale requirement for a 100 TB/day event feed.
   */
  def windowedCounts(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame =
    // tumbling = sliding with slide == length; one rollup body to maintain
    slidingCounts(events, windowLength, windowLength, watermarkDelay)

  /**
   * Sliding (hopping) window rollup — the streaming mirror of the batch
   * `events_sliding` entry: each event lands in length/slide windows, all
   * maintained concurrently in watermark-bounded state. State size is
   * (length/slide) x live-window count, not history — the overlap factor
   * is the only cost of the smoother trend line.
   */
  def slidingCounts(
      events: DataFrame,
      windowLength: String = "1 hour",
      slide: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength, slide), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /**
   * Stream-static enrichment: the event stream joined to a static
   * dimension table (user attributes, allow-lists, source weights). The
   * static side broadcasts, so the stream never shuffles and no join
   * state accumulates — the zero-state join every streaming pipeline
   * reaches for before either stream-stream shape. `how = "left_semi"` /
   * `"left_anti"` turn the same plan into an allow-/deny-list filter.
   */
  def enrichWithStatic(
      events: DataFrame,
      dim: DataFrame,
      on: Seq[String],
      how: String = "inner"): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), on, how)

  /**
   * Streaming near-duplicate screen: every incoming document checked
   * against a STATIC corpus band index ([[graft.pipeline.Dedup.bandIndex]])
   * at ingest time — the quality gate that keeps a crawl from re-adding
   * what the corpus already holds. All joins are stream-static, so no
   * join state accumulates; the only state is the within-watermark
   * (doc, corpus) dedup that collapses multi-band candidate hits. Emits
   * `(doc_id, ts, corpus_id, jaccard)` for verified matches only — true
   * n-gram Jaccard, not just a band collision.
   */
  /** [[nearDupScreen]] against a [[graft.pipeline.Dedup.CorpusIndex]]
    * (built by `Dedup.buildCorpusIndex`, or read back from a
    * `Dedup.writeCorpusIndex` directory — the 100 TB ingest shape). The
    * stream-side hash parameters come FROM the index: mismatched
    * ngram/numHashes/bands/family would produce band keys that never
    * collide with the corpus index and the screen would silently admit
    * every duplicate, so they are not free arguments here. */
  def nearDupScreen(
      docs: DataFrame,
      index: graft.pipeline.Dedup.CorpusIndex,
      threshold: Double,
      watermarkDelay: String): DataFrame =
    nearDupScreen(docs, index.shingles, index.bands,
      index.ngram, index.numHashes, index.bandCount,
      threshold, watermarkDelay, index.family)

  def nearDupScreen(
      docs: DataFrame, // streaming (doc_id, ts, text)
      corpusShingles: DataFrame, // static (id, shingles)
      corpusBands: DataFrame, // static (pos, band, id)
      ngram: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      watermarkDelay: String = "10 minutes",
      family: graft.functions.HashFamily = graft.functions.HashFamily.Xxh64): DataFrame = {
    import graft.functions.text
    val banded = docs
      .withWatermark("ts", watermarkDelay)
      .withColumn("shingles",
        text.word_ngrams(text.tokenize(col("text")), ngram))
      .filter(size(col("shingles")) > 0)
      // `family` MUST match the one the corpus index was built with —
      // mismatched hash families collide on nothing and the screen would
      // silently admit every duplicate
      .withColumn("sig",
        text.minhash_signature(col("shingles"), numHashes, family = family))
      // content discriminator for the candidate dedup below: hash of the
      // separator-joined shingle list, so two arrivals only collapse when
      // their CONTENT is identical, not merely their doc_id
      .withColumn("content_key",
        xxhash64(concat_ws("\u0001", col("shingles"))))
      .select(col("doc_id"), col("ts"), col("shingles"), col("content_key"),
        posexplode(text.lsh_bands(col("sig"), numHashes, bands))
          .as(Seq("pos", "band")))
    banded
      .join(corpusBands.select(col("pos"), col("band"), col("id").as("corpus_id")),
        Seq("pos", "band"))
      // collapse multi-band hits BEFORE the shingle join + Jaccard (the
      // batch twin's "candidates distinct first" rule): a doc colliding
      // in all `bands` bands must pay ONE verification, not `bands`.
      // content_key is part of the dedup key: without it, a re-crawled
      // doc_id whose EDITED text now clears the threshold would be
      // silently suppressed for the whole watermark horizon because its
      // earlier below-threshold version already recorded (doc, corpus)
      .dropDuplicatesWithinWatermark("doc_id", "content_key", "corpus_id")
      .join(corpusShingles.select(col("id").as("corpus_id"),
        col("shingles").as("c_sh")), Seq("corpus_id"))
      .withColumn("jaccard",
        size(array_intersect(col("shingles"), col("c_sh"))).cast("double") /
          size(array_union(col("shingles"), col("c_sh"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("ts"), col("corpus_id"), col("jaccard"))
  }

  /** Eval-screen size above which the streaming contamination check
    * switches from `arrays_overlap` against a single broadcast-row array
    * (no driver collect, ideal for the common KBs-sized screen — but
    * O(|screen|) PER ROW, because ArraysOverlap re-walks the screen on
    * every invocation) to a per-row probe of a broadcast hash set
    * ([[graft.functions.text.broadcast_set_overlap]] — O(|doc shingles|)
    * per row, O(1) probes). Both forms are stateless and verdict-
    * identical; only the per-row cost curve differs. */
  val ContamSetProbeThreshold = 4096L

  /** Append `outName` (BOOLEAN, never null) to streaming `docs`: true iff
    * the doc's distinct word `n`-grams overlap the eval screen. Picks the
    * plan form by screen size (see [[ContamSetProbeThreshold]]); the
    * screen frame is counted/collected HERE, at stream-construction time
    * — which is why the screen must be materialized (persistOnce or
    * parquet-backed, the [[graft.pipeline.Curation.evalScreenShingles]]
    * contract), not a live corpus-scan plan. */
  private def withContamOverlap(
      docs: DataFrame,
      evalScreen: graft.pipeline.Curation.EvalScreen,
      outName: String,
      threshold: Long): DataFrame = {
    import graft.functions.text
    val docSh = array_distinct(
      text.word_ngrams(text.tokenize(col("text")), evalScreen.n))
    // NULL -> false in both forms: a null text shingles to null, and the
    // quality stage owns that failure, not this one
    if (evalScreen.shingles.count() <= threshold) {
      val evalArr = evalScreen.shingles
        .agg(collect_set("shingle").as("__eval_sh"))
      docs.crossJoin(broadcast(evalArr)) // 1 static row
        .withColumn(outName,
          coalesce(arrays_overlap(docSh, col("__eval_sh")), lit(false)))
        .drop("__eval_sh")
    } else {
      import org.apache.spark.unsafe.types.UTF8String
      val set = new java.util.HashSet[UTF8String]()
      evalScreen.shingles.select("shingle").collect()
        .foreach(r => set.add(UTF8String.fromString(r.getString(0))))
      val bc = docs.sparkSession.sparkContext.broadcast(set)
      docs.withColumn(outName,
        coalesce(text.broadcast_set_overlap(docSh, bc), lit(false)))
    }
  }

  /**
   * Streaming curation screen — the STATELESS stages of
   * [[graft.pipeline.Curation.curate]] applied to an unbounded ingest
   * stream, one audit row PER INCOMING DOC with the first-failing-stage
   * `drop_reason` ('quality' | 'repetition' | 'exact_dup' |
   * 'contaminated' | null) and `stateless_keep`:
   *
   *  - quality + repetition: pure per-row expressions
   *    ([[graft.pipeline.TextAnalysis.qualityScore]],
   *    [[graft.pipeline.QualityFilters.repetitionOk]] — the batch gate's
   *    differential-tested row form), zero state;
   *  - exact dedup: stream-static left join on the text against the
   *    corpus index's exact table;
   *  - contamination: overlap with the eval screen
   *    ([[graft.pipeline.Curation.evalScreenShingles]]) — below
   *    `setProbeThreshold` shingles as `arrays_overlap` against one
   *    broadcast-row array (the benchmarks-are-KBs asymmetry
   *    [[graft.pipeline.TrainingPrep.contamination]] builds on), above
   *    it as a per-row broadcast-set probe whose cost no longer scales
   *    with the screen (see [[ContamSetProbeThreshold]]).
   *
   * The near-dup stage is deliberately NOT folded in: a per-doc "no
   * corpus band matched" verdict needs a stateful per-doc aggregation
   * that can only emit at watermark close. Production chains the two
   * screens instead — `curationScreen` first (stateless, immediate
   * verdict), then [[nearDupScreen]] over the `stateless_keep` survivors
   * (emits verified match rows; its rejects resolve against the audit
   * stream at compaction). Because every stage here is stateless, this
   * screen defines NO watermark — the downstream stateful screen owns it
   * (two definitions on one chained plan is a Spark analysis error).
   * The contamination n-gram width travels INSIDE the
   * [[graft.pipeline.Curation.EvalScreen]] carrier — mismatched widths
   * would overlap on nothing and silently pass every contaminated doc,
   * so it is not a free argument here (the
   * [[graft.pipeline.Dedup.CorpusIndex]] rule).
   */
  def curationScreen(
      docs: DataFrame, // streaming (doc_id, ts, text)
      index: graft.pipeline.Dedup.CorpusIndex,
      evalScreen: graft.pipeline.Curation.EvalScreen,
      minQuality: Double = 0.5,
      setProbeThreshold: Long = ContamSetProbeThreshold): DataFrame = {
    import graft.pipeline.{QualityFilters, TextAnalysis}
    // NULL -> false, same as the batch stage: null/absent text must be
    // owned by the quality verdict, not fall through to a later branch
    val audited = withContamOverlap(
      docs
        .withColumn("quality_ok",
          coalesce(TextAnalysis.qualityScore(col("text")) >= minQuality,
            lit(false)))
        .withColumn("rep_ok",
          coalesce(QualityFilters.repetitionOk(col("text")), lit(false)))
        .join(index.exactText, Seq("text"), "left"),
      evalScreen, "contaminated", setProbeThreshold)
    val reason =
      when(!col("quality_ok"), "quality")
        .when(!col("rep_ok"), "repetition")
        .when(col("exact_dup_of").isNotNull, "exact_dup")
        .when(col("contaminated"), "contaminated")
    audited.select(
      col("doc_id"), col("ts"), col("text"),
      col("quality_ok"), col("rep_ok"), col("exact_dup_of"),
      col("contaminated"),
      reason.isNull.as("stateless_keep"),
      reason.as("drop_reason"))
  }

  /**
   * Unified streaming curation audit — ONE watermark-closed row per
   * incoming doc carrying EVERY stage verdict, `near_dup_of` included,
   * with the batch audit schema ([[graft.pipeline.Curation.curate]])
   * column for column (`doc_id, ts, quality_ok, rep_ok, exact_dup_of,
   * near_dup_of, contaminated, keep, drop_reason, shard`). Where
   * [[curationScreen]] + [[nearDupScreen]] give two streams (immediate
   * stateless verdicts, separate verified-match rows), this gives the
   * one-auditable-stream shape — at the cost that every verdict waits
   * for the watermark to close the doc's near-dup aggregation.
   *
   * Near-dup semantics are the batch pipeline's greedy
   * smaller-id-partner-wins rule: `near_dup_of` = the SMALLEST corpus id
   * with verified Jaccard >= `nearThreshold` that is < the doc's own id.
   * This presumes the global doc-id order reflects ingest order (corpus
   * ids precede stream ids — the natural monotonic-id deployment), and
   * it is exactly what makes a replayed batch audit byte-identical to
   * `Curation.curate` when the index is built over that batch's
   * post-exact survivors. An id space where corpus ids can EXCEED
   * stream ids needs [[nearDupScreen]]'s any-match semantics instead.
   * Exact dedup applies the same rule: a doc whose text's corpus keeper
   * is itself (replay) maps to a NULL `exact_dup_of`.
   *
   * Like the batch pipeline, later-stage cells are gated on earlier
   * verdicts (a quality-dropped doc never shingles; `contaminated` is
   * only true for docs that survived every earlier stage) — so the audit
   * cells, not just `drop_reason`, replay identically. Intra-STREAM
   * exact/near duplicates (two novel docs duplicating each other, neither
   * in the corpus) are NOT collapsed here — that is [[dedupStream]] /
   * compaction-time `curate()` work; this audit screens against the
   * CORPUS.
   *
   * Plan shape: stateless verdicts ride the scan; band candidates come
   * from a stream-static left join against the index's band table
   * (survivors only — dropped docs carry a null band array through
   * `posexplode_outer`); multi-band repeats collapse via
   * `dropDuplicatesWithinWatermark` BEFORE the shingle-verification join
   * (one Jaccard per (doc, corpus) candidate, the batch rule); the final
   * per-doc aggregation is the single watermark-bounded state that emits
   * the closed audit row. All joins are stream-static, so state =
   * in-horizon candidate dedup + per-doc pending aggregation, bounded by
   * the watermark regardless of corpus size.
   *
   * At-least-once absorption: a REDELIVERY of the same (doc_id, text)
   * within the watermark horizon — same content_key, a later event ts —
   * is collapsed by the candidate dedup (its keys omit ts by design) and
   * emits NO second audit row; "one row per incoming doc" means one row
   * per distinct (doc, content) arrival in the horizon, which is the
   * verdict-stream shape an at-least-once source (Kafka redelivery,
   * unchanged re-crawl) actually wants. An EDITED re-arrival has a new
   * content_key and is re-verified in full (the nearDupScreen rule).
   *
   * Sizing (measured, dev/ROUND14.md frontier sweep at 20k rows/s,
   * sf0.1-scale index, 32-core box): the state exchange is
   * task-OVERHEAD-bound at this scale, so FEWER shuffle partitions beat
   * more — 8 partitions sustained every swept trigger where the default
   * 32 missed the 2 s trigger; latency ~= watermark + 2 triggers
   * (9.9 s avg at 2 s trigger / 8 partitions), and longer triggers
   * amortize per-batch fixed cost into a higher throughput ceiling
   * (55.9k rows/s at a 10 s trigger) at proportional latency. Shuffle
   * partitions are fixed per query at its FIRST batch — set
   * `spark.sql.shuffle.partitions` before `writeStream.start()`.
   */
  def curationAudit(
      docs: DataFrame, // streaming (doc_id, ts, text)
      index: graft.pipeline.Dedup.CorpusIndex,
      evalScreen: graft.pipeline.Curation.EvalScreen,
      minQuality: Double = 0.5,
      nearThreshold: Double = 0.5,
      nShards: Int = 8,
      watermarkDelay: String = "10 minutes",
      setProbeThreshold: Long = ContamSetProbeThreshold): DataFrame = {
    import graft.functions.text
    import graft.pipeline.{Curation, QualityFilters, TextAnalysis, TrainingPrep}
    val ngram = index.ngram
    val numHashes = index.numHashes
    val bands = index.bandCount
    // RAW overlap (size-gated plan form, see ContamSetProbeThreshold);
    // the batch-identical gated cell needs the near-dup verdict, so it is
    // finalized after the aggregation below
    val stateless = withContamOverlap(
      docs
        .withWatermark("ts", watermarkDelay)
        // NULL -> false: null/absent text is the quality stage's failure
        // to own, same as the batch stage
        .withColumn("quality_ok",
          coalesce(TextAnalysis.qualityScore(col("text")) >= minQuality,
            lit(false)))
        .withColumn("rep_ok",
          coalesce(QualityFilters.repetitionOk(col("text")), lit(false)))
        .join(index.exactText
            .withColumnRenamed("exact_dup_of", "corpus_keep_id"),
          Seq("text"), "left")
        // gated on the quality verdicts (batch: exactOf is computed over
        // stage-1 SURVIVORS) and nulled when the keeper is the doc itself
        .withColumn("exact_dup_of",
          when(col("quality_ok") && col("rep_ok") &&
            col("corpus_keep_id") =!= col("doc_id"), col("corpus_keep_id"))),
      evalScreen, "contam_raw", setProbeThreshold)
    val survivorOk =
      col("quality_ok") && col("rep_ok") && col("exact_dup_of").isNull
    val banded = stateless
      // dropped docs never shingle (batch: stage 3 sees stage-2 survivors
      // only) — they ride through as a single null-band row
      .withColumn("shingles", when(survivorOk,
        text.word_ngrams(text.tokenize(col("text")), ngram)))
      .withColumn("sig", when(size(col("shingles")) > 0,
        text.minhash_signature(col("shingles"), numHashes,
          family = index.family)))
      .withColumn("content_key",
        xxhash64(concat_ws("\u0001", col("shingles"))))
      .withColumn("band_arr", when(col("sig").isNotNull,
        text.lsh_bands(col("sig"), numHashes, bands)))
      .select(col("doc_id"), col("ts"), col("quality_ok"), col("rep_ok"),
        col("exact_dup_of"), col("contam_raw"), col("shingles"),
        col("content_key"),
        posexplode_outer(col("band_arr")).as(Seq("pos", "band")))
    banded
      .join(index.bands
          .select(col("pos"), col("band"), col("id").as("corpus_id")),
        Seq("pos", "band"), "left")
      // the greedy rule, applied BEFORE candidate dedup so larger-id
      // matches don't occupy state; nulled (not filtered) so a doc whose
      // only matches are larger ids keeps its audit row
      .withColumn("corpus_id",
        when(col("corpus_id") < col("doc_id"), col("corpus_id")))
      // one Jaccard verification per (doc, corpus) candidate, however
      // many bands collided ([[nearDupScreen]]'s rule; content_key keeps
      // a re-crawled edited doc distinct from its earlier arrival)
      .dropDuplicatesWithinWatermark("doc_id", "content_key", "corpus_id")
      .join(index.shingles
          .select(col("id").as("c_id"), col("shingles").as("c_sh")),
        col("corpus_id") === col("c_id"), "left")
      .withColumn("near_hit", when(
        size(array_intersect(col("shingles"), col("c_sh"))).cast("double") /
          size(array_union(col("shingles"), col("c_sh"))) >= nearThreshold,
        col("corpus_id")))
      // the one stateful aggregation: closes each doc's audit row at
      // watermark expiry; grouping keys beyond (ts, doc_id) are
      // functionally dependent row constants riding into the output
      .groupBy(col("ts"), col("doc_id"), col("quality_ok"), col("rep_ok"),
        col("exact_dup_of"), col("contam_raw"))
      .agg(min(col("near_hit")).as("near_dup_of"))
      .withColumn("contaminated",
        col("quality_ok") && col("rep_ok") && col("exact_dup_of").isNull &&
          col("near_dup_of").isNull && col("contam_raw"))
      .select(col("doc_id"), col("ts"), col("quality_ok"), col("rep_ok"),
        col("exact_dup_of"), col("near_dup_of"), col("contaminated"),
        Curation.reasonCol(col("quality_ok"), col("rep_ok"),
          col("exact_dup_of"), col("near_dup_of"), col("contaminated"))
          .as("drop_reason"))
      .withColumn("keep", col("drop_reason").isNull)
      .withColumn("shard", when(col("drop_reason").isNull,
        (TrainingPrep.lehmerKey(col("doc_id")) % nShards).cast("int")))
      .select(col("doc_id"), col("ts"), col("quality_ok"), col("rep_ok"),
        col("exact_dup_of"), col("near_dup_of"), col("contaminated"),
        col("keep"), col("drop_reason"), col("shard"))
  }

  /**
   * Stream-stream interval join: each purchase enriched with the same
   * user's clicks from the preceding `lookback` — the canonical
   * attribution join. Both sides carry watermarks and the join condition
   * bounds event-time distance, which is exactly what lets Spark EXPIRE
   * buffered rows: state is (lookback + watermark) worth of events per
   * side, never history. Inner join => results are final on arrival.
   */
  def attributionJoin(
      purchases: DataFrame, // event schema, the left/driving stream
      clicks: DataFrame, // event schema, the enrichment stream
      lookback: String = "15 minutes",
      watermarkDelay: String = "5 minutes"): DataFrame = {
    val p = purchases
      .withWatermark("ts", watermarkDelay)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("value").as("purchase_value"))
    val c = clicks
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("value").as("click_value"))
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $lookback"))
      .select(col("purchase_id"), col("user_id"), col("p_ts"),
        col("purchase_value"), col("c_ts"), col("click_value"))
  }

  /**
   * Event-time session windows via the NATIVE `session_window` operator —
   * the declarative sibling of [[sessionize]]: Spark merges overlapping
   * per-key gap windows itself and the watermark both admits bounded
   * lateness and EXPIRES closed-session state, so state is bounded by the
   * open-session count, not history. Emits one row per closed session
   * (Append mode — results are final once the watermark passes the gap).
   * Prefer this when the session payload is an aggregation; drop to
   * [[sessionize]]'s mapGroupsWithState only for state machines the
   * grouped aggregate can't express.
   */
  def sessionWindows(
      events: DataFrame,
      gap: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(
        col("user_id"),
        col("session_window.start").as("started"),
        col("session_window.end").as("ended"),
        col("n_events"), col("total_value"))

  /**
   * Stateful sessionization via flatMapGroupsWithState: one state entry
   * per user, closed by a processing-time timeout — the
   * KeyValueGroupedDataset custom-state path (SURVEY §2.8 streaming row).
   *
   * UPDATE-mode semantics: every emission is the user's current RUNNING
   * session (the last emission before the timeout IS the final session);
   * the timeout closes state silently instead of re-emitting a row
   * byte-identical to the last update — a consumer counting emitted rows
   * must dedup on user/start anyway under update semantics, and the
   * duplicate final row would double-count even a last-write-wins sink.
   * For one-row-per-CLOSED-session semantics use [[sessionWindows]].
   */
  def sessionize(
      events: Dataset[Event],
      timeoutMs: Long = 30 * 60 * 1000L): Dataset[Session] = {
    import events.sparkSession.implicits._
    // timeoutMs <= 0 disables session expiry (useful for deterministic
    // tests: a processing-time timeout keeps scheduling micro-batches,
    // so processAllAvailable never sees an idle stream)
    val conf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Session, Session](OutputMode.Update(), conf) {
        (userId: Long, rows: Iterator[Event], state: GroupState[Session]) =>
          if (state.hasTimedOut) {
            // the final session was already emitted by its last update —
            // emitting it again here would duplicate it in the sink
            state.remove()
            Iterator.empty
          } else {
            val evs = rows.toSeq
            val prev = state.getOption
            val merged = Session(
              user_id = userId,
              n_events = prev.map(_.n_events).getOrElse(0) + evs.size,
              total_value = prev.map(_.total_value).getOrElse(0.0) + evs.map(_.value).sum,
              // symmetric late-data handling: a late event EARLIER than
              // the recorded start pulls the start back, exactly as a
              // late-but-latest event extends the end
              started = (prev.map(_.started).toSeq ++ evs.map(_.ts))
                .minBy(_.getTime),
              // late events must not move the session end backwards
              ended = (prev.map(_.ended).toSeq ++ evs.map(_.ts))
                .maxBy(_.getTime))
            state.update(merged)
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            Iterator.single(merged)
          }
      }
  }

  /**
   * Streaming ingest into an epoch staging directory: append-only parquet
   * that a periodic (batch) BuildEpoch picks up and re-clusters — the
   * streaming half of the CreateIndex -> BuildEpoch -> ActivateEpoch loop.
   */
  /**
   * Streaming exact dedup — the ingest twin of [[graft.pipeline.Dedup.exact]]:
   * drop re-arrivals of the same content key within the watermark horizon
   * (re-crawls, at-least-once replays). `dropDuplicatesWithinWatermark`
   * keys the state store on the dedup columns and EXPIRES entries past
   * the watermark, so state is bounded by the horizon's key cardinality
   * — the property that lets it run forever on a 100 TB/day feed, where
   * an unbounded `dropDuplicates` would accumulate every key ever seen.
   * Dedup on TWO independent 64-bit content hashes plus the text length,
   * not the raw text: the state store holds ~24-byte keys instead of
   * documents, and the combined ~128-bit key space keeps the birthday
   * bound far past any watermark-horizon cardinality — a bare 64-bit key
   * at ~1e9 keys/horizon makes a silent distinct-document drop a
   * when-not-if (NOTE: hash dedup is therefore near-exact, not the
   * byte-exact semantics of the batch `Dedup.exact`, which groups by
   * full text).
   */
  def dedupStream(
      docs: DataFrame, // needs an event-time `ts` and a `text` column
      watermarkDelay: String = "10 minutes"): DataFrame =
    docs
      .withColumn("content_key", xxhash64(col("text")))
      .withColumn("content_key2", xxhash64(lit(0x9e3779b9L), col("text")))
      .withColumn("content_len", length(col("text")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("content_key", "content_key2", "content_len")

  def ingestToStaging(
      events: DataFrame,
      stagingPath: String,
      checkpointPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .format("parquet")
      .option("path", stagingPath)
      .option("checkpointLocation", checkpointPath)
      .outputMode(OutputMode.Append())
      .start()
}
