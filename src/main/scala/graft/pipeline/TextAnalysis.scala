package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.text
import graft.index.{IvfFlatIndex, Sizing}

/**
 * Text-analysis operators for training-data curation: language ID
 * (stopword-hit heuristic), quality scoring (length/punct/stopword ratios),
 * token counting, and rolling-hash fingerprinting. Every function is pure
 * per-row arithmetic over codegen'd built-ins — no UDFs, no shuffles — and
 * each is written so the identical logic is expressible in DuckDB SQL for
 * the oracle gate.
 */
object TextAnalysis {

  /** Stopword lists for the n-gram language heuristic. Deterministic and
    * tiny by design — the point is the operator shape, not NLP accuracy. */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por"),
    "fr" -> Seq("le", "la", "et", "les", "des", "en", "un", "du"))

  private def hits(tokens: Column, lang: String): Column =
    size(array_intersect(tokens, array(Stopwords(lang).map(lit): _*)))

  /**
   * Language ID: count distinct stopword hits per language, take the
   * argmax with fixed priority order en > de > es > fr on ties.
   */
  def langId(textCol: Column): Column = {
    val toks = text.tokenize(textCol)
    val en = hits(toks, "en"); val de = hits(toks, "de")
    val es = hits(toks, "es"); val fr = hits(toks, "fr")
    when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  /**
   * Quality score in [0,1]: blend of token count saturation, alpha ratio,
   * and mean token length band — the standard cheap pre-filter shape for
   * corpus curation. Pure double arithmetic, same order as the SQL oracle.
   */
  def qualityScore(textCol: Column): Column = {
    val toks = text.tokenize(textCol)
    val nTok = size(toks).cast("double")
    val nChars = length(textCol).cast("double")
    val alphaChars = length(regexp_replace(lower(textCol), "[^a-z0-9]", "")).cast("double")
    val lenScore = least(nTok / lit(20.0), lit(1.0))
    val alphaRatio = when(nChars > 0, alphaChars / nChars).otherwise(0.0)
    val meanTokLen = when(nTok > 0, alphaChars / nTok).otherwise(0.0)
    val tokLenScore = when(meanTokLen >= 3 && meanTokLen <= 10, lit(1.0)).otherwise(lit(0.5))
    // NULL text scores NULL, never a number: `least` IGNORES null
    // arguments, so without the guard a null text would score exactly 0.5
    // (lenScore collapses to the 1.0 literal, the when()s take their
    // otherwise branches) and silently PASS the default quality gate —
    // consumers coalesce the verdict to false (Curation,
    // StreamingIngest.curationScreen), which only works if null is what
    // arrives.
    // Guard shape: a guarded-zero ADDEND (`+ when(notNull, 0.0)`) — the
    // blend stays unconditional (null text evaluates it to a harmless
    // 0.5) and null propagation through the sum nulls the result. Chosen
    // while chasing the r12 text_analysis bench delta on a CSE-in-branch
    // hypothesis; dev/ROUND13.md records all three guard shapes
    // (none / when()-wrap / this) at parity within noise — the projection
    // shares the tokenize via subexpression elimination either way (since
    // r20's codegen'd fingerprint un-blocked whole-stage codegen for the
    // analyze projection, it is WSCG's CSE; before, it was
    // GenerateUnsafeProjection's) — so the shape is a wash and this one
    // is kept for being branch-free. Semantics pinned by
    // QualityFiltersSpec.
    lenScore * lit(0.4) + alphaRatio * lit(0.4) + tokLenScore * lit(0.2) +
      when(textCol.isNotNull, lit(0.0))
  }

  /**
   * Zipf histogram of the corpus vocabulary: term frequencies bucketed by
   * decimal digit count (1 digit = 1..9 occurrences, 2 = 10..99, ...) —
   * digit count instead of floor(log10) because string length is exact in
   * every engine while log is transcendental. Two two-stage aggregations
   * (partial map-side combine on both), output is at most 19 rows — the
   * standard first look at corpus head/tail balance before choosing
   * dedup/df-cap thresholds.
   */
  def tokenHistogram(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(text.tokenize(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .withColumn("digits", length(col("cnt").cast("string")).cast("int"))
      .groupBy("digits")
      .agg(
        count(lit(1)).as("n_terms"),
        sum("cnt").as("total_occurrences"),
        min("cnt").as("min_cnt"),
        max("cnt").as("max_cnt"))

  /**
   * Misra-Gries summary of a token iterator: at most `capacity` live
   * counters; every token with local frequency > n/capacity survives.
   * The classic bounded-memory heavy-hitter sketch (Misra & Gries 1982,
   * "Finding repeated elements").
   */
  private[pipeline] def misraGries(it: Iterator[String], capacity: Int): Seq[String] = {
    val counts = new scala.collection.mutable.HashMap[String, Long]()
    while (it.hasNext) {
      val t = it.next()
      counts.get(t) match {
        case Some(c) => counts.update(t, c + 1)
        case None =>
          if (counts.size < capacity) counts.update(t, 1L)
          else {
            // decrement-all; drop zeros (amortized O(1) per input token)
            counts.mapValuesInPlace((_, c) => c - 1)
            counts.filterInPlace((_, c) => c > 0)
          }
      }
    }
    counts.keys.toSeq
  }

  /**
   * Exact top-k tokens by frequency, at 100 TB shuffle cost: phase 1 runs
   * a per-partition Misra-Gries sketch (bounded memory, narrow) whose
   * merged candidates PROVABLY contain every token with global frequency
   * > N/capacity — if a token stays under the local threshold in every
   * partition, the local counts sum under N/capacity. Phase 2
   * exact-counts ONLY the candidates (broadcast semi-join), so the wide
   * shuffle carries |candidates| <= partitions x capacity keys instead
   * of the full vocabulary. Exactness of the final top-k holds whenever
   * the k-th count exceeds N/capacity — vastly true for Zipfian text
   * (guarantee pinned by the spec; independent of partitioning).
   */
  def heavyHitters(docs: DataFrame, k: Int, capacity: Int = 4096,
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(explode(text.tokenize(col(textCol))).as("tok"))
    val cands = toks.as[String]
      .mapPartitions(it => misraGries(it, capacity).iterator)
      .toDF("tok").distinct()
    // no broadcast HINT: the candidate set is bounded by partitions x
    // capacity, which at 10^4+ partitions is far past broadcast budgets —
    // let the optimizer/AQE pick broadcast when the actual set is small
    val counted = toks.join(cands, "tok")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    // global top-k via sort+limit (TakeOrderedAndProject: per-partition
    // heaps + one k-row merge) — a no-partition row_number window would
    // funnel every counted candidate through a single task; the rank
    // window below runs over k rows only
    import org.apache.spark.sql.expressions.Window
    val topk = counted.orderBy(col("cnt").desc, col("tok").asc).limit(k)
    topk
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("tok").asc)).cast("int"))
      .orderBy("rank")
  }

  /** PII patterns, written in the RE2-compatible subset shared by Java's
    * regex engine and DuckDB, so the oracle replays the scrub exactly:
    * no backrefs, no lookaround, explicit character classes only. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /**
   * PII scrub: count and redact emails, phone numbers, and IPv4 literals
   * from a text column — the mandatory compliance pass before a corpus
   * ships to training. Counting runs BEFORE redaction (each pattern sees
   * the original text); redaction applies email -> phone -> ip so a
   * pattern never matches inside another's placeholder. Pure per-row
   * codegen'd regex built-ins: no UDFs, no shuffle, scales with the scan.
   */
  def piiScrub(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(t, lit(EmailRe), lit("<EMAIL>")),
          lit(PhoneRe), lit("<PHONE>")),
        lit(Ipv4Re), lit("<IP>"))
    // six regex passes per row run in the scan stage — widen a small
    // input, sized to regex work density (~512 KB of text per task: regex
    // engines run single-digit MB/s per core on these patterns, so that is
    // ~100-200 ms of work, well above the per-task fixed cost, unlike a flat
    // full-parallelism widen, which r20 stage profiles measured as ~90%
    // scheduling + shuffle-writer file fan-out at bench scale)
    IvfFlatIndex.widenScan(docs, Sizing.bytes(docs), Sizing.RegexTaskBytes).select(
      col(idCol),
      regexp_count(t, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(t, lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_count(t, lit(Ipv4Re)).cast("long").as("n_ips"),
      redacted.as("redacted"))
  }

  /** Full per-document analysis projection. The per-row work (tokenize +
    * fingerprint, whole-stage-codegen'd with shared-subexpression
    * elimination since r20) is CPU-bound and runs in the scan stage, so
    * an under-partitioned small input is widened first — sized to regex
    * work density like [[piiScrub]], not flat to full parallelism. */
  def analyze(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    IvfFlatIndex.widenScan(docs, Sizing.bytes(docs), Sizing.RegexTaskBytes).select(
      col(idCol),
      text.token_count(col(textCol)).as("n_tokens"),
      langId(col(textCol)).as("lang_pred"),
      qualityScore(col(textCol)).as("quality"),
      text.fingerprint(col(textCol)).as("fingerprint"))
}
