package graft.pipeline

import org.apache.spark.sql.Row

import graft.SparkSpec

/** Pins [[Curation.curate]]'s staged semantics: every drop reason fires on
  * a crafted doc, precedence is first-failing-stage, survivors get the
  * shared Lehmer shard, and the verdict is invariant under input
  * partitioning. */
class CurationSpec extends SparkSpec {

  // one doc per stage outcome (tokenizer is [a-z0-9]+ lowercase):
  //  1 unique good text                          -> kept
  //  2 punctuation junk (0 tokens)               -> quality
  //  3 one word repeated 25x (passes quality)    -> repetition
  //  4 good text, twin of 5                      -> kept (exact keeper)
  //  5 identical to 4                            -> exact_dup of 4
  //  6 24-word text, near-twin of 7              -> kept (near keeper)
  //  7 differs from 6 in the last word only      -> near_dup of 6
  //  8 contains the eval set's rare trigram,
  //    twin of 9                                 -> contaminated (keeper
  //                                                 survives to stage 4)
  //  9 identical to 8                            -> exact_dup of 8 (stage
  //                                                 precedence: exact
  //                                                 beats contaminated)
  private val goodA =
    "the quick brown fox jumps over a lazy dog while twenty other animals " +
      "watch from the tall green hill near town"
  private val goodB =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu " +
      "nu xi omicron pi rho sigma tau upsilon"
  private val nearBase =
    "one two three four five six seven eight nine ten eleven twelve " +
      "thirteen fourteen fifteen sixteen seventeen eighteen nineteen " +
      "twenty twentyone twentytwo twentythree "
  private val contaminated =
    "researchers found the zebra quokka axolotl sequence appearing in " +
      "several benchmark answer keys during the annual evaluation of " +
      "language systems last winter"
  private val evalText =
    "the eval set contains zebra quokka axolotl patterns hidden within " +
      "questions that models must answer without prior exposure to " +
      "benchmark data collections online"

  private def fixture = {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      1L -> goodA,
      2L -> "!!! ??? ---",
      3L -> Seq.fill(25)("spam").mkString(" "),
      4L -> goodB,
      5L -> goodB,
      6L -> (nearBase + "alphaend"),
      7L -> (nearBase + "betaend"),
      8L -> contaminated,
      9L -> contaminated).toDF("doc_id", "text")
    val eval = Seq(100L -> evalText).toDF("doc_id", "text")
    (corpus, eval)
  }

  private def collect(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.orderBy("doc_id").collect().toSeq

  test("every stage fires, with first-failing-stage precedence") {
    val (corpus, eval) = fixture
    val out = collect(Curation.curate(corpus, eval))
    assert(out.map(_.getLong(0)) === Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L),
      "one audit row per input doc")
    val byId = out.map(r => r.getLong(0) -> r).toMap
    def reason(id: Long): String =
      Option(byId(id).getAs[String]("drop_reason")).orNull
    def keep(id: Long): Boolean = byId(id).getAs[Boolean]("keep")

    assert(keep(1L) && reason(1L) == null)
    assert(!keep(2L) && reason(2L) === "quality")
    assert(!keep(3L) && reason(3L) === "repetition")
    assert(keep(4L) && reason(4L) == null)
    assert(!keep(5L) && reason(5L) === "exact_dup")
    assert(byId(5L).getAs[Long]("exact_dup_of") === 4L)
    assert(keep(6L) && reason(6L) == null)
    assert(!keep(7L) && reason(7L) === "near_dup")
    assert(byId(7L).getAs[Long]("near_dup_of") === 6L)
    assert(!keep(8L) && reason(8L) === "contaminated")
    // precedence: 9 is BOTH an exact twin of 8 and textually contaminated;
    // the exact stage dropped it first, so contamination never saw it
    assert(!keep(9L) && reason(9L) === "exact_dup")
    assert(byId(9L).getAs[Long]("exact_dup_of") === 8L)

    // kept docs get the shared Lehmer shard; dropped docs get null
    out.foreach { r =>
      val id = r.getLong(0)
      if (r.getAs[Boolean]("keep"))
        assert(r.getAs[Int]("shard") === ((id * 48271L + 11L) % 2147483647L % 8L).toInt)
      else assert(r.isNullAt(r.fieldIndex("shard")))
    }
  }

  test("verdict is invariant under input partitioning") {
    val (corpus, eval) = fixture
    val a = collect(Curation.curate(corpus, eval))
    val b = collect(Curation.curate(corpus.repartition(7), eval.repartition(3)))
    assert(a === b)
  }

  test("non-default id/text column names work end to end") {
    // contamination's output id column is always "doc_id"; curate must
    // map it back to the caller's idCol (a regression here fails with
    // AnalysisException in the assembly, not a wrong value)
    val s = spark
    import s.implicits._
    val corpus = Seq(1L -> goodA, 2L -> contaminated, 3L -> contaminated)
      .toDF("id", "body")
    val eval = Seq(100L -> evalText).toDF("id", "body")
    val out = Curation.curate(corpus, eval, idCol = "id", textCol = "body")
      .orderBy("id").collect()
    assert(out.map(_.getLong(0)) === Seq(1L, 2L, 3L))
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Boolean]("keep"))
    assert(byId(2L).getAs[String]("drop_reason") === "contaminated")
    assert(byId(3L).getAs[String]("drop_reason") === "exact_dup")
  }

  test("empty corpus and empty eval set are both safe") {
    val s = spark
    import s.implicits._
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val eval = Seq(100L -> evalText).toDF("doc_id", "text")
    // empty corpus: no rows out, no crash anywhere in the staged plan
    assert(Curation.curate(none, eval).count() === 0)
    // empty eval set: contamination finds nothing, everything else runs
    val some = Seq(1L -> goodA, 2L -> goodB).toDF("doc_id", "text")
    val out = collect(Curation.curate(some, none))
    assert(out.length === 2)
    assert(out.forall(r => !r.getAs[Boolean]("contaminated")))
    assert(out.forall(_.getAs[Boolean]("keep")))
  }

  test("structural invariants hold on a generated 200-doc corpus") {
    val s = spark
    import s.implicits._
    // seeded generator mixing uniques, exact dups, near dups (small tail
    // edits), junk, and repetitive docs — wide enough that every stage
    // participates
    val rnd = new scala.util.Random(42)
    // 200 distinct words: a 25-word vocabulary makes a random 25-token
    // sentence repeat some word 3+ times with high probability, tripping
    // the top-unigram gate (0.10) — the whole corpus then dies at
    // repetition and no later stage gets exercised
    val vocab = for {
      w <- Vector("alpha", "bridge", "copper", "delta", "ember",
        "forest", "grain", "harbor", "inlet", "jasper", "kernel", "lumen",
        "marble", "north", "osprey", "pallet", "quarry", "river", "stone",
        "timber", "umber", "vessel", "willow", "yonder", "zephyr")
      i <- 0 until 8
    } yield s"$w$i"
    def sentence(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bases = Vector.fill(40)(sentence(25))
    val docs = (0 until 200).map { i =>
      val text = rnd.nextInt(10) match {
        case 0 => "!!!" // quality fail
        case 1 => Seq.fill(30)("loop").mkString(" ") // repetition fail
        case 2 | 3 => bases(rnd.nextInt(bases.size)) // exact dup pressure
        case 4 => bases(rnd.nextInt(bases.size)) + " tail" + rnd.nextInt(3) // near dup
        case _ => sentence(25)
      }
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val eval = Seq(100000L -> bases(0)).toDF("doc_id", "text")
    val rows = collect(Curation.curate(docs, eval))
    assert(rows.length === 200, "one audit row per input doc")
    // where the stage leaves live (in-memory checkpoints, disk-only
    // checkpoints, parquet stage files) must not change a single row
    val onDisk = Curation.curateManaged(docs, eval,
      storageLevel = org.apache.spark.storage.StorageLevel.DISK_ONLY)
    assert(collect(onDisk.audit) === rows, "DISK_ONLY checkpoints changed the audit")
    onDisk.unpersist(blocking = true)
    val stagingDir = java.nio.file.Files.createTempDirectory("graft-curation-equiv")
      .toFile.getAbsolutePath
    val staged = Curation.curateManaged(docs, eval, stagingPath = Some(stagingDir))
    assert(collect(staged.audit) === rows, "parquet staging changed the audit")
    staged.cleanup()
    val textOf = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val id = r.getLong(0)
      val keep = r.getAs[Boolean]("keep")
      val reason = Option(r.getAs[String]("drop_reason"))
      assert(keep === reason.isEmpty, s"keep/drop_reason disagree for $id")
      assert(r.isNullAt(r.fieldIndex("shard")) === !keep, s"shard nullity for $id")
      if (!r.isNullAt(r.fieldIndex("exact_dup_of"))) {
        val of = r.getAs[Long]("exact_dup_of")
        assert(of < id, s"exact_dup_of must be a smaller id ($id -> $of)")
        assert(textOf(of) === textOf(id), s"exact_dup_of text mismatch ($id -> $of)")
        assert(reason.contains("exact_dup"))
      }
      if (!r.isNullAt(r.fieldIndex("near_dup_of"))) {
        val of = r.getAs[Long]("near_dup_of")
        assert(of < id, s"near_dup_of must be a smaller id ($id -> $of)")
      }
    }
    // among KEPT docs, texts are unique (the exact stage's guarantee
    // restricted to survivors)
    val keptTexts = rows.filter(_.getAs[Boolean]("keep")).map(r => textOf(r.getLong(0)))
    assert(keptTexts.distinct.length === keptTexts.length,
      "two kept docs share identical text")
    // every reason fired at least once on this corpus (generator sanity)
    val reasons = rows.flatMap(r => Option(r.getAs[String]("drop_reason"))).toSet
    assert(Set("quality", "repetition", "exact_dup", "near_dup").subsetOf(reasons),
      s"generator failed to exercise some stage: $reasons")
  }

  test("null text is owned by the quality stage") {
    val s = spark
    import s.implicits._
    // a null/absent text yields a NULL quality score; un-coalesced it
    // would skip the quality branch of drop_reason and mis-attribute the
    // drop to repetition with a null quality_ok audit cell
    val corpus = Seq(1L -> Option(goodA), 2L -> Option.empty[String])
      .toDF("doc_id", "text")
    val eval = Seq(100L -> evalText).toDF("doc_id", "text")
    val byId = collect(Curation.curate(corpus, eval))
      .map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Boolean]("keep"))
    assert(byId(2L).getAs[Boolean]("quality_ok") === false,
      "quality_ok must be false, not null, for null text")
    assert(byId(2L).getAs[String]("drop_reason") === "quality")
  }

  test("a doc whose only exact twin failed quality is NOT a duplicate") {
    val s = spark
    import s.implicits._
    // 11 repeats 3's repetitive text: 3 fails repetition, so 11 is the
    // MIN SURVIVING id of that text group — but it fails repetition
    // itself. Whereas 12/13 share goodA with no earlier failing twin:
    // staging must keep 12 and drop 13, never resurrect against docs the
    // quality gate removed.
    val rep = Seq.fill(25)("spam").mkString(" ")
    val corpus = Seq(3L -> rep, 11L -> rep, 12L -> goodA, 13L -> goodA)
      .toDF("doc_id", "text")
    val eval = Seq(100L -> evalText).toDF("doc_id", "text")
    val byId = collect(Curation.curate(corpus, eval))
      .map(r => r.getLong(0) -> r).toMap
    assert(byId(11L).getAs[String]("drop_reason") === "repetition")
    assert(byId(12L).getAs[Boolean]("keep"))
    assert(byId(13L).getAs[String]("drop_reason") === "exact_dup")
    assert(byId(13L).getAs[Long]("exact_dup_of") === 12L)
  }

  // distinct doc ids + a salt token per text so these fixtures never
  // structurally match frames the OTHER tests cached — the CacheManager
  // matches plans structurally, and a hit would let a run read another
  // test's cache instead of its own stages
  private def saltedFixture(salt: String, base: Long) = {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (base + 1L) -> (goodA + " " + salt),
      (base + 2L) -> "!!! ??? ---",
      (base + 4L) -> (goodB + " " + salt),
      (base + 5L) -> (goodB + " " + salt),
      (base + 8L) -> (contaminated + " " + salt)).toDF("doc_id", "text")
    val eval = Seq((base + 100L) -> (evalText + " " + salt)).toDF("doc_id", "text")
    (corpus, eval)
  }

  /** The RDDs behind a frame's checkpoint leaves. */
  private def checkpointRdds(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  test("curateManaged: matches curate, owns its caches, unpersist releases them") {
    import org.apache.spark.storage.StorageLevel
    val (corpus, eval) = saltedFixture("mgdsalt", 2000L)
    val run = Curation.curateManaged(corpus, eval,
      storageLevel = StorageLevel.DISK_ONLY)
    val managed = collect(run.audit)
    assert(run.staging.isEmpty)
    assert(run.caches.nonEmpty, "the run must own the checkpoints it made")
    val rdds = run.caches.flatMap(checkpointRdds)
    assert(rdds.size === run.caches.size, "every owned frame is one checkpoint")
    assert(rdds.forall(_.getStorageLevel == StorageLevel.DISK_ONLY),
      "storageLevel must govern every checkpoint, nested operators included")
    val plain = collect(Curation.curate(corpus, eval))
    assert(managed === plain)
    run.unpersist(blocking = true)
    val live = spark.sparkContext.getPersistentRDDs
    assert(rdds.forall(r => !live.contains(r.id)),
      "unpersist must release every checkpoint the run made")
  }

  test("curation stages are plan leaves: no later plan embeds the input docs") {
    import org.apache.spark.sql.execution.LogicalRDD
    val (corpus, eval) = saltedFixture("leafsalt", 4000L)
    def leavesAreCheckpoints(audit: org.apache.spark.sql.DataFrame): Unit = {
      val leaves = audit.queryExecution.analyzed.collectLeaves()
      assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[LogicalRDD]),
        s"every audit leaf must be a stage checkpoint, got: ${leaves.map(_.nodeName)}")
    }
    val run = Curation.curateManaged(corpus, eval)
    assert(run.caches.nonEmpty)
    run.caches.foreach { f =>
      assert(f.queryExecution.analyzed.isInstanceOf[LogicalRDD],
        s"a stage frame must be a bare checkpoint: ${f.queryExecution.analyzed}")
    }
    leavesAreCheckpoints(run.audit)
    val managed = collect(run.audit)
    run.unpersist(blocking = true)
    // curate cuts its stages the same way, without a caller-owned run
    val audit = Curation.curate(corpus, eval)
    leavesAreCheckpoints(audit)
    assert(collect(audit) === managed)
  }

  test("curateManaged staging mode: zero block-manager caches, cleanup deletes the stage files") {
    val (corpus, eval) = saltedFixture("stgsalt", 3000L)
    val dir = java.nio.file.Files.createTempDirectory("graft-curation-staging")
      .toFile.getAbsolutePath
    val run = Curation.curateManaged(corpus, eval, stagingPath = Some(dir))
    val staged = collect(run.audit)
    assert(run.caches.isEmpty, "staging mode must register no block-manager caches")
    val stageDirs = new java.io.File(dir).listFiles()
    assert(stageDirs != null && stageDirs.exists(_.getName.startsWith("stage-")),
      "intermediates must land under stagingPath/stage-N")
    // the audit plan must read the stage files, not InMemoryRelations
    val cachedNodes = run.audit.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(cachedNodes.isEmpty,
      "staging mode must not substitute block-manager caches into the audit plan")
    // the ASSEMBLED audit itself is staged (round 13): consuming it N
    // times must cost N scans of the tiny audit parquet, not N replays
    // of the re-derived s1/s2/s3 pipeline — so the audit plan is a bare
    // file-source scan, and its leaf count is exactly 1
    val leaves = run.audit.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size === 1 && leaves.head.isInstanceOf[
        org.apache.spark.sql.execution.datasources.LogicalRelation],
      s"staged audit must be one parquet scan, got: ${run.audit.queryExecution.optimizedPlan}")
    val plain = collect(Curation.curate(corpus, eval))
    assert(staged === plain)
    run.cleanup()
    assert(!new java.io.File(dir).exists(), "cleanup must delete the staging dir")
  }

  test("eval screen parquet round-trip preserves shingles and n-gram width") {
    val s = spark
    import s.implicits._
    val corpus = Seq(10L -> goodA, 11L -> goodB).toDF("doc_id", "text")
    val eval = Seq(100L -> evalText).toDF("doc_id", "text")
    val screen = Curation.evalScreenShingles(corpus, eval, n = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-eval-screen")
      .toFile.getAbsolutePath
    Curation.writeEvalScreen(screen, dir)
    val back = Curation.readEvalScreen(spark, dir)
    assert(back.n === 2, "the n-gram width must travel with the data")
    val a = screen.shingles.orderBy("shingle").collect().map(_.getString(0)).toSeq
    val b = back.shingles.orderBy("shingle").collect().map(_.getString(0)).toSeq
    assert(a.nonEmpty && a === b)
    // the read-back plan is a bare parquet scan — no corpus lineage for a
    // streaming micro-batch to re-execute
    assert(back.shingles.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]))
  }
}
