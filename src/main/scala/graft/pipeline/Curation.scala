package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, graftshims}
import org.apache.spark.sql.functions._

import graft.storage.LocalWrites._

/**
 * End-to-end corpus curation — the composition a 100 TB training-data
 * pipeline actually runs, as ONE plan with a per-document audit row.
 * The reference ships the vector-side primitives (engine/, server/); the
 * curation stages here compose this repo's pipeline operators in their
 * production order, each stage operating on the SURVIVORS of the
 * previous one (you don't MinHash documents the quality gate already
 * dropped — at scale the staging IS the optimization, every stage
 * shrinks the next stage's input):
 *
 *  1. quality gate — [[TextAnalysis.qualityScore]] >= minQuality AND
 *     [[QualityFilters.repetitionOk]] (the batch gate's per-row form);
 *  2. exact dedup — keep the minimum surviving doc_id per identical
 *     text (a doc whose only twin failed quality is NOT a duplicate);
 *  3. near dedup — [[Dedup.minhashLsh]] over stage-2 survivors; a doc
 *     is dropped iff some surviving pair partner has a smaller id (the
 *     standard greedy LSH rule, [[Dedup.dropNearDuplicates]]);
 *  4. decontamination — [[TrainingPrep.contamination]] of stage-3
 *     survivors against the held-out eval set (rare shared word
 *     n-grams, corpus-df-capped);
 *  5. shard assignment — kept docs land on a shard by the shared
 *     Lehmer key ([[TrainingPrep.lehmerKey]] mod nShards), the same
 *     generator the sampling/shuffle/cap operators promise.
 *
 * Output: one row PER INPUT DOCUMENT — `doc_id`, the per-stage verdict
 * columns (`quality_ok`, `rep_ok`, `exact_dup_of`, `near_dup_of`,
 * `contaminated`), the final `keep`, the first-failing-stage
 * `drop_reason` ('quality' | 'repetition' | 'exact_dup' | 'near_dup' |
 * 'contaminated' | null), and `shard` (null unless kept). Rejected
 * documents stay visible with their reasons — the audit shape a
 * curation run needs. Everything is integer/boolean/string, so the
 * result hash-compares exactly against a SQL replay.
 *
 * Scale notes: stage 1 is expression-only over the scan; stage 2 is one
 * groupBy(text) with map-side combine; stage 3 carries 8-byte ids
 * through band joins ([[Dedup.minhashLsh]]); stage 4 never shuffles
 * corpus shingles ([[TrainingPrep.contamination]]'s df-cap-first
 * design); the final assembly is doc_id equi-joins on per-stage
 * verdict frames, each at most one row per doc. No stage collects to
 * the driver.
 *
 * Caching contract: every stage that computes something materializes
 * once as a plan LEAF ([[Dedup.MatCtx]]), so no later stage re-plans the
 * chain above it; the survivor frames between stages are filters and
 * anti-joins that each consumer re-derives from those leaves. [[curate]]
 * cuts its stages as `MEMORY_AND_DISK` checkpoints — the block manager
 * holds their rows, not compressed columns, with disk spill covering
 * them — and the ContextCleaner reclaims them once the audit is
 * unreachable. A driver that runs REPEATED batch curations, or one that
 * cannot afford corpus-sized text in the block manager at all, should
 * call [[curateManaged]]: its [[CurationRun]]'s `unpersist()` releases
 * every checkpoint the run made (nested operators included), and its
 * parquet-staging mode writes stage files instead (zero storage memory;
 * `cleanup()` deletes them). A long-lived driver screening continuous
 * ingest should use
 * [[graft.streaming.StreamingIngest.curationScreen]] +
 * [[graft.streaming.StreamingIngest.nearDupScreen]] over a persisted
 * [[Dedup.CorpusIndex]] instead of repeated curate() calls.
 */
object Curation {

  /** First-failing-stage precedence shared by `keep` and `drop_reason` —
    * and by the streaming audit
    * ([[graft.streaming.StreamingIngest.curationAudit]]), so batch and
    * stream cannot disagree on precedence. */
  private[graft] def reasonCol(
      qualityOk: Column, repOk: Column, exactDupOf: Column,
      nearDupOf: Column, contaminated: Column): Column =
    when(!qualityOk, "quality")
      .when(!repOk, "repetition")
      .when(exactDupOf.isNotNull, "exact_dup")
      .when(nearDupOf.isNotNull, "near_dup")
      .when(contaminated, "contaminated")

  /**
   * The eval-set screen a STREAMING ingest checks incoming docs against,
   * WITH the n-gram width it was built at — the consumer
   * ([[graft.streaming.StreamingIngest.curationScreen]]) derives its
   * shingling from `n` instead of accepting a free parameter that could
   * drift (the [[Dedup.CorpusIndex]] rule: mismatched widths overlap on
   * nothing and the screen silently passes every contaminated doc).
   */
  final case class EvalScreen(shingles: DataFrame, n: Int) {
    /** Release the screen's block-manager cache ([[evalScreenShingles]]
      * persistOnce's it so streaming triggers never re-run the corpus
      * df scan). A long-lived driver that REBUILDS the screen per
      * eval-set refresh must unpersist the superseded one or each
      * rebuild pins another cache for the driver's lifetime — the same
      * repeated-runs leak class [[CurationRun.unpersist]] closes. No-op
      * on a parquet-backed screen ([[readEvalScreen]]). */
    def unpersist(blocking: Boolean = false): Unit = {
      shingles.unpersist(blocking)
      ()
    }
  }

  /**
   * Build the [[EvalScreen]]: the distinct word `n`-grams of the eval
   * set, minus those whose document frequency in the STATIC corpus
   * exceeds `maxDf` (boilerplate n-grams match everything and carry no
   * contamination signal — the same cap [[TrainingPrep.contamination]]
   * applies, via the SAME shared shingle projection,
   * [[TrainingPrep.docShingles]]). Unlike the batch stage, an eval
   * shingle ABSENT from the corpus (df 0) stays IN the screen: for an
   * incoming novel doc that is the strongest contamination signal there
   * is. Eval-set-bounded (KBs), so it broadcasts.
   */
  def evalScreenShingles(
      corpus: DataFrame,
      evalDocs: DataFrame,
      n: Int = 3,
      maxDf: Int = 5,
      idCol: String = "doc_id",
      textCol: String = "text"): EvalScreen = {
    // two consumers (broadcast into `hot`, left side of the anti-join) —
    // persistOnce, same as contamination's eval projection
    val evalSh = Dedup.persistOnce(
      TrainingPrep.docShingles(evalDocs, n, idCol, textCol, "eval_id")
        .select("shingle").distinct())
    // df computed ONLY for shingles the eval set contains (broadcast
    // pre-filter), so corpus shingles never shuffle — then the hot ones
    // knock their shingle out of the screen; shingles are per-doc
    // distinct, so a plain count IS the document frequency
    val hot = TrainingPrep.docShingles(corpus, n, idCol, textCol, "doc_id")
      .join(broadcast(evalSh), "shingle")
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select("shingle")
    // persistOnce: the anti-join's plan embeds the CORPUS-wide df
    // aggregation above — unpersisted, every streaming micro-batch that
    // broadcasts the screen would re-scan the whole corpus per trigger,
    // exactly the cost CorpusIndex exists to avoid. Materialized once
    // here (eval-set-bounded, KBs), the stream never touches corpus text.
    EvalScreen(Dedup.persistOnce(evalSh.join(hot, Seq("shingle"), "left_anti")), n)
  }

  /** Persist an [[EvalScreen]] to parquet, n-gram width included — the
    * long-lived-ingest shape ([[Dedup.writeCorpusIndex]]'s rule): the
    * screening driver reads the KB-sized screen back instead of carrying
    * a corpus-scan lineage, and the width cannot drift because it
    * travels with the data. */
  def writeEvalScreen(screen: EvalScreen, path: String): Unit = {
    screen.shingles.graftWrite.mode("overwrite").parquet(s"$path/shingles")
    Dedup.writeParamsJson(screen.shingles.sparkSession, s"$path/params.json",
      s"""{"n":${screen.n}}""")
  }

  /** Read back a [[writeEvalScreen]] directory. */
  def readEvalScreen(
      spark: org.apache.spark.sql.SparkSession, path: String): EvalScreen = {
    import org.json4s._
    val n = Dedup.readParamsJson(
      spark, s"$path/params.json", "writeEvalScreen") \ "n" match {
      case JInt(i) => i.toInt
      case JLong(l) => l.toInt
      case other => throw new IllegalArgumentException(s"bad n in params.json: $other")
    }
    EvalScreen(spark.read.parquet(s"$path/shingles"), n)
  }

  /**
   * A managed curation run: the audit frame plus ownership of every
   * intermediate the run materialized.
   *
   * Consume (write/collect/persist) `audit` BEFORE calling `unpersist`
   * or `cleanup` — the audit plan reads the materialized frames, which
   * have no lineage to recompute from: releasing them first fails the
   * scan in either mode.
   */
  final case class CurationRun(
      audit: DataFrame,
      caches: Seq[DataFrame],
      staging: Option[String]) {
    /** Release every block-manager checkpoint this run made (no-op in
      * staging mode — there are none). */
    def unpersist(blocking: Boolean = false): Unit =
      caches.foreach(graftshims.unpersistCheckpoint(_, blocking))
    /** [[unpersist]] + delete the staging directory, if any. */
    def cleanup(blocking: Boolean = false): Unit = {
      unpersist(blocking)
      staging.foreach { s =>
        val p = new org.apache.hadoop.fs.Path(s)
        p.getFileSystem(audit.sparkSession.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
    }
  }

  /**
   * [[curate]] with an explicit materialization policy — the
   * repeated-runs / bounded-memory shape:
   *
   *  - `storageLevel` is the level of every stage checkpoint the run
   *    makes (the pipeline's own stage frames AND the nested minhashLsh /
   *    contamination internals, via [[Dedup.withMatCtx]]), which the run
   *    owns: `CurationRun.unpersist()` releases them;
   *  - `stagingPath` (non-empty) switches materialization to parquet
   *    stage files under that path instead — the block manager never
   *    holds corpus-sized text, which at 100 TB is the difference
   *    between a curation run and a cluster-wide spill storm. The
   *    caller owns the path; `CurationRun.cleanup()` deletes it.
   *
   * Identical output to [[curate]] by construction (same plan, only
   * where the stage leaves live differs).
   */
  def curateManaged(
      docs: DataFrame,
      evalDocs: DataFrame,
      minQuality: Double = 0.5,
      ngram: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      nearThreshold: Double = 0.5,
      contamN: Int = 3,
      contamMaxDf: Int = 5,
      nShards: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text",
      family: graft.functions.HashFamily = graft.functions.HashFamily.Xxh64,
      storageLevel: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
      stagingPath: Option[String] = None): CurationRun = {
    val ctx = new Dedup.MatCtx(storageLevel, stagingPath)
    val assembled = Dedup.withMatCtx(ctx) {
      curate(docs, evalDocs, minQuality, ngram, numHashes, bands,
        nearThreshold, contamN, contamMaxDf, nShards, idCol, textCol, family)
    }
    // Staging mode stages the ASSEMBLED audit too: it is the one frame
    // every consumer reads, and unlike the survivor frames it is
    // text-free and tiny (ints/bools/strings — one row per input doc).
    // Without this, each consumption re-derives the s1/s2/s3 filters
    // and the assembly joins from the staged parents — measured at the
    // 5M-doc stress (dev/ROUND12.md), three aggregations over the audit
    // silently paid the back half of the pipeline three times (rollup
    // taskSec grew 39x at 10x data). Staged, repeated consumption is
    // O(audit scan). Block-manager mode returns the assembly as built:
    // its parents are in-memory checkpoints, so the assembly joins are
    // already cheap, and an extra corpus-rows checkpoint would grow the
    // footprint the caller chose that mode to control.
    val audit = if (ctx.isStaging) ctx.materialize(assembled) else assembled
    CurationRun(audit, ctx.frames.toSeq, stagingPath)
  }

  def curate(
      docs: DataFrame,
      evalDocs: DataFrame,
      minQuality: Double = 0.5,
      ngram: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      nearThreshold: Double = 0.5,
      contamN: Int = 3,
      contamMaxDf: Int = 5,
      nShards: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text",
      family: graft.functions.HashFamily = graft.functions.HashFamily.Xxh64)
      : DataFrame = Dedup.withStageCuts {
    require(nShards > 0, s"nShards must be positive: $nShards")
    val id = col(idCol)

    // stage 1: per-doc quality + repetition verdicts — BOTH pure per-row
    // expressions (repetitionOk is the batch gate's differential-tested
    // row form), so the whole stage rides the scan with zero shuffle and
    // zero joins; materialized because it has two consumers (the survivor
    // filter feeding stages 2-4 and the final assembly) and Spark has no
    // cross-branch CSE
    // NOTE on input width: the verdict projection tokenizes each row
    // three times (quality, type/token ratio, bigram mode) — heavy
    // per-row work that inherits the INPUT's partitioning. A real corpus
    // arrives in thousands of partitions; a single-file toy input pins
    // stage 1 to one core, so repartition such inputs first (the
    // curation stress tool does; widening HERE was measured a net loss —
    // the stage runs once into its leaf, and the widen probe taxes
    // every later plan build).
    // both verdicts coalesce NULL -> false: a null/absent text yields a
    // NULL quality score, and an un-coalesced NULL would slip past the
    // quality branch of reasonCol and mis-attribute the drop to the next
    // stage (with a null audit cell) — null text is the quality stage's
    // failure to own
    val verdicts = Dedup.persistOnce(docs.select(id, col(textCol),
      coalesce(TextAnalysis.qualityScore(col(textCol)) >= minQuality,
        lit(false)).as("quality_ok"),
      coalesce(QualityFilters.repetitionOk(col(textCol)), lit(false)).as("rep_ok")))
    // the SURVIVOR frames s1/s2/s3 are NOT materialized: each is a cheap
    // filter or small-id anti-join over materialized leaves, and copying
    // the corpus text once more per stage outgrew the disk at the 5M-doc
    // stress (dev/ROUND12.md)
    val s1 = verdicts.filter(col("quality_ok") && col("rep_ok")).select(id, col(textCol))

    // stage 2: exact dedup among stage-1 survivors — keep min doc_id per
    // text; the keeper maps to a NULL exact_dup_of
    // exactOf/nearOf each have TWO consumers (the next stage's survivor
    // anti-join, and the final assembly); unmaterialized they would re-run
    // the text groupBy / the whole band join per consumer
    val keepers = s1.groupBy(textCol).agg(min(idCol).as("keep_id"))
    val exactOf = Dedup.persistOnce(s1.join(keepers, textCol)
      .select(id, when(id =!= col("keep_id"), col("keep_id")).as("exact_dup_of")))
    val s2 = s1.join(exactOf.filter(col("exact_dup_of").isNotNull).select(idCol),
      Seq(idCol), "left_anti")

    // stage 3: banded MinHash near-dup among stage-2 survivors; greedy
    // smaller-id-partner-wins rule (Dedup.dropNearDuplicates semantics),
    // near_dup_of = the smallest such partner for the audit row
    val pairs = Dedup.minhashLsh(s2, idCol, textCol, ngram, numHashes,
      bands, nearThreshold, family)
    val nearOf = Dedup.persistOnce(pairs.groupBy(col("b_id").as(idCol))
      .agg(min("a_id").as("near_dup_of")))
    val s3 = s2.join(nearOf.select(idCol), Seq(idCol), "left_anti")

    // stage 4: eval-set decontamination of stage-3 survivors (the df cap
    // is computed over the SURVIVOR corpus — boilerplate is judged on
    // what would actually ship)
    // contamination's OUTPUT id column is always "doc_id" (it renames its
    // input ids) — map it back to this pipeline's idCol, or any
    // non-default idCol fails to resolve in the assembly
    val contam = TrainingPrep.contamination(
        s3, evalDocs, contamN, contamMaxDf, idCol, textCol)
      .select(col("doc_id").as(idCol), lit(true).as("contaminated"))

    // assembly: one row per INPUT doc, every verdict visible
    val q = col("quality_ok")
    val r = col("rep_ok")
    val e = col("exact_dup_of")
    val nd = col("near_dup_of")
    val c = coalesce(col("contaminated"), lit(false))
    val reason = reasonCol(q, r, e, nd, c)
    verdicts.select(id, q, r)
      .join(exactOf, Seq(idCol), "left")
      .join(nearOf, Seq(idCol), "left")
      .join(contam, Seq(idCol), "left")
      .select(
        id,
        q.as("quality_ok"),
        r.as("rep_ok"),
        e,
        nd,
        c.as("contaminated"),
        reason.isNull.as("keep"),
        reason.as("drop_reason"),
        when(reason.isNull,
          (TrainingPrep.lehmerKey(id) % nShards).cast("int")).as("shard"))
  }
}
