package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

class QualityFiltersSpec extends SparkSpec {

  private lazy val docs = {
    val s = spark
    import s.implicits._
    Seq(
      // 20 distinct tokens -> every fraction under its threshold
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon"),
      // "spam spam spam spam" -> top unigram 4/4, top bigram 3/3
      (1L, "spam spam spam spam"),
      // single token: no bigrams at all
      (2L, "lonely"),
      // empty text: zero tokens, all ratios 0, never divides by zero
      (3L, ""))
      .toDF("doc_id", "text")
  }

  test("repetitionMetrics computes exact fractions and flags repetition") {
    val m = QualityFilters.repetitionMetrics(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6)))
    assert(m(0) === ((0L, 20L, 20L, 1.0, 1.0 / 20, 1.0 / 19, true)))
    assert(m(1) === ((1L, 4L, 1L, 0.25, 1.0, 1.0, false)))
    assert(m(2) === ((2L, 1L, 1L, 1.0, 1.0, 0.0, false))) // top_uni 1/1 trips
    assert(m(3) === ((3L, 0L, 0L, 0.0, 0.0, 0.0, false)))
  }

  test("tfidfKeywords ranks by exact score with term-ascending ties") {
    val s = spark
    import s.implicits._
    // corpus of 3 docs: "rare" appears in 1 doc, "common" in all 3
    val d = Seq(
      (0L, "common rare rare"),
      (1L, "common common other"),
      (2L, "common other")).toDF("doc_id", "text")
    val out = QualityFilters.tfidfKeywords(d, k = 2).orderBy("doc_id", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(5)))
    // doc0: rare cnt=2 df=1 -> 2*(3-1)=4; common cnt=1 df=3 -> 0
    assert(out(0) === ((0L, 1, "rare", 4L)))
    assert(out(1) === ((0L, 2, "common", 0L)))
    // doc1: other cnt=1 df=2 -> 1; common cnt=2 df=3 -> 0
    assert(out(2) === ((1L, 1, "other", 1L)))
    assert(out(3) === ((1L, 2, "common", 0L)))
    // doc2: both score equal? other=1*(3-2)=1, common=1*0=0
    assert(out(4) === ((2L, 1, "other", 1L)))
    assert(out(5) === ((2L, 2, "common", 0L)))
  }

  test("quantizeStats pins codes to the int8 envelope") {
    val s = spark
    import s.implicits._
    val e = Seq(
      (0L, Array(1.0f, -0.5f, 0.25f), 7),
      (1L, Array(-2.0f, 1.0f, 0.0f), 8))
      .toDF("vec_id", "embedding", "label")
    val out = EmbeddingOps.quantizeStats(e).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))
    // vec0: scale=127, codes = floor(127), floor(-63.5), floor(31.75)
    assert(out(0) === ((0L, 127000000L, 127L - 64L + 31L, -64L, 127L)))
    // vec1: scale=63.5, codes = floor(-127)= -127, floor(63.5)=63, 0
    assert(out(1) === ((1L, 63500000L, -127L + 63L + 0L, -127L, 63L)))
  }

  test("cleanVerdict composes dedup, repetition and quality into keep") {
    val s = spark
    import s.implicits._
    val d = Seq(
      // 20 distinct tokens: passes everything
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon", "en"),
      // exact duplicate of doc 0 -> dedup_keep false, everything else ok
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon", "en"),
      // heavy repetition -> rep_ok false
      (2L, "spam spam spam spam spam spam spam spam spam spam " +
        "spam spam spam spam spam spam spam spam spam spam", "en"))
      .toDF("doc_id", "text", "lang")
    val out = QualityFilters.cleanVerdict(d).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5)))
    assert(out(0) === ((0L, true, true, true, true)))
    assert(out(1) === ((1L, false, true, true, false))) // dup of doc 0
    assert(out(2)._1 === 2L)
    assert(!out(2)._3 && !out(2)._5) // repetition trips, keep false
  }

  test("cleanVerdict: null text is owned by the quality stage, no NULL audit cells") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon", "en"),
      (1L, null.asInstanceOf[String], "en"))
      .toDF("doc_id", "text", "lang")
    val r = QualityFilters.cleanVerdict(d).filter($"doc_id" === 1L).collect().head
    // quality_ok and keep must be FALSE, never NULL — an un-coalesced
    // null would skip the quality branch of any first-failure reasoning
    // and leave a null audit cell (the round-11 advisory's rule, applied
    // here as in Curation.curate and the streaming screens)
    assert(!r.isNullAt(r.fieldIndex("quality_ok")) &&
      !r.getBoolean(r.fieldIndex("quality_ok")))
    assert(!r.isNullAt(r.fieldIndex("keep")) &&
      !r.getBoolean(r.fieldIndex("keep")))
  }

  test("qualityScore: NULL for null text, a number otherwise (expression-level pin)") {
    val s = spark
    import s.implicits._
    // pins the null-propagation contract independent of HOW the guard is
    // expressed (round 13 moved it from a when() wrapper to a guarded-zero
    // addend — measured cost-neutral either way, dev/ROUND13.md — so
    // the shape must be free to change, the semantics must not)
    val d = Seq((0L, "the quick brown fox jumps over the lazy dog again"),
      (1L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = d.select($"doc_id",
      TextAnalysis.qualityScore($"text").as("q")).orderBy("doc_id").collect()
    assert(!out(0).isNullAt(1) && out(0).getDouble(1) > 0.0)
    assert(out(1).isNullAt(1), "null text must score NULL, not 0.5")
  }

  test("tokenHistogram buckets term frequencies by digit count") {
    val s = spark
    import s.implicits._
    // "a" x 12 occurrences (2 digits), "b" and "c" x 3 each (1 digit)
    val d = Seq(
      (0L, "a a a a a a b b b"),
      (1L, "a a a a a a c c c"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.tokenHistogram(d).orderBy("digits").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out === Array((1, 2L, 6L, 3L, 3L), (2, 1L, 12L, 12L, 12L)))
  }

  test("crossContamination matches brute force and picks the nearest eval") {
    val s = spark
    import s.implicits._
    val train = Seq(
      (10L, Array(1.0f, 0.0f)),   // identical to eval 0 -> dist ~0
      (11L, Array(0.9f, 0.1f)),   // near eval 0
      (12L, Array(-1.0f, 0.0f)))  // opposite: dist ~2, excluded
      .toDF("id", "vec")
    val ev = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)))
      .toDF("id", "vec")
    val out = Similarity.crossContamination(train, ev, maxDist = 0.5)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out === Array((10L, 0L), (11L, 0L)))
  }

  test("maxTokenRun finds the longest island, keeps empty docs at zero") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (0L, "a a a b a a"),      // runs 3,1,2 -> 3
      (1L, "x y x y x y"),      // all runs 1
      (2L, "z z z z z z z"),    // one run of 7
      (3L, ""))                 // no tokens -> 0
      .toDF("doc_id", "text")
    val out = QualityFilters.maxTokenRun(d).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out === Array((0L, 3L), (1L, 1L), (2L, 7L), (3L, 0L)))
  }

  test("capPerSource keeps exactly cap docs per source, deterministically") {
    val s = spark
    import s.implicits._
    val d = (0L until 30L).map(i => (i, s"src${i % 3}")).toDF("doc_id", "source")
    val out = TrainingPrep.capPerSource(d, cap = 4)
    val bySrc = out.groupBy("source").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(bySrc === Map("src0" -> 4L, "src1" -> 4L, "src2" -> 4L))
    // pure function of doc_id: identical kept set under any partitioning
    val again = TrainingPrep.capPerSource(d.repartition(7), cap = 4)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(again === out.select("doc_id").collect().map(_.getLong(0)).sorted)
  }

  test("normOutliers flags only norms outside the percentile band") {
    val s = spark
    import s.implicits._
    // 48 unit-norm vectors + one zero vector + one huge vector
    val vecs = ((0 until 48).map(i => (i.toLong, Array(1.0f, 0.0f))) ++
      Seq((48L, Array(0.0f, 0.0f)), (49L, Array(100.0f, 0.0f))))
      .toDF("vec_id", "embedding")
    val out = EmbeddingOps.normOutliers(vecs, lo = 0.05, hi = 0.95)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(out(48L) && out(49L), "extremes must be flagged")
    assert((0 until 48).forall(i => !out(i.toLong)), "unit norms must pass")
    // the bounded-sketch scale path (approx_percentile) agrees on this
    // clear-cut band: same flags, no exact-percentile buffer
    val approx = EmbeddingOps.normOutliers(vecs, lo = 0.05, hi = 0.95, exact = false)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(approx === out)
  }

  test("every code stays within [-128, 127] on real-shaped vectors") {
    val s = spark
    import s.implicits._
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(16)(j =>
        math.sin(i * 17 + j * 3).toFloat * (1 + i % 5)), i % 3)
    }.toDF("vec_id", "embedding", "label")
    val out = EmbeddingOps.quantizeStats(vecs).collect()
    out.foreach { r =>
      assert(r.getLong(4) >= -128 && r.getLong(5) <= 127,
        s"codes out of int8 range for vec ${r.getLong(0)}")
    }
  }

  test("repetitionOk (per-row form) agrees with repetitionMetrics on every doc") {
    val s = spark
    import s.implicits._
    // the fixture's edge cases PLUS adversarial shapes: threshold-straddling
    // repetition, bigram-heavy text, long mixed text, duplicated tokens at
    // the distinct-ratio boundary
    val extra = Seq(
      (10L, "a b a b a b a b a b"), // bigram "a b" dominates
      (11L, ("x ".repeat(3) + (1 to 30).map("w" + _).mkString(" "))),
      (12L, (1 to 50).map(i => "t" + (i % 23)).mkString(" ")),
      (13L, "one two three one two three seven eight nine ten"),
      (14L, "  leading and   irregular   whitespace tokens here  "))
      .toDF("doc_id", "text")
    val all = docs.union(extra)
    val batch = QualityFilters.repetitionMetrics(all)
      .select("doc_id", "rep_ok").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val row = all.select(col("doc_id"),
        QualityFilters.repetitionOk(col("text")).as("rep_ok")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(row === batch,
      "per-row repetition gate diverged from the batch aggregation form")
  }
}
