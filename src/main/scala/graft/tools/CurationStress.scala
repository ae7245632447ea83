package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.storage.LocalWrites._

/**
 * One-off scale diagnostic for the end-to-end curation pipeline
 * ([[graft.pipeline.Curation.curate]]) — NOT part of the per-round Bench
 * (it would dominate its budget). Synthesizes a corpus 100x the sf0.1
 * documents table (~500k docs) with REALISTIC duplicate structure, the
 * part that actually stresses the staged plan:
 *
 *  - copy 0 is the original; copy 1 is byte-identical (1 exact dup per
 *    family, ~5k total);
 *  - copies k >= 2 PREPEND 5k per-(doc,copy) noise tokens. The noise is
 *    unique per (doc, copy), so no band key is shared across unrelated
 *    docs (a shared noise vocabulary would make every same-k pair a
 *    candidate — 5000^2 per k, the classic synthetic-data trap); within
 *    a family, Jaccard decays with |j-k| (~45 shared suffix shingles vs
 *    5(j+k) differing prefix shingles), so each copy near-pairs with a
 *    handful of NEIGHBORING copies — bounded candidate fan-out, like a
 *    real crawl's revision chains, with transitive chains the greedy
 *    smaller-id rule must collapse.
 *
 * Eval set: the original doc_id % 50 == 0 texts. Their family copies
 * share every shingle with the eval set — but at corpus df ~100 those
 * shingles are boilerplate and the df cap (5) must screen them out, so
 * the contamination stage is exercised at full width while returning a
 * small result. Prints per-stage-observable counts + wall times.
 *
 * Scale (third arg, `famReps`, default 1): replicates the FAMILY space
 * rather than deepening the revision chains — each replica r > 0
 * token-remaps the base text (`r3_the r3_quick ...`), so its shingle
 * space is disjoint from every other replica and the per-family dup
 * structure is IDENTICAL to the proven 100-copy fixture. 10 replicas =
 * 5M docs with the same local structure, so any superlinear stage
 * (band-join candidate growth, assembly-join skew) shows up as a
 * >10x wall-time ratio against the 500k run instead of being masked by
 * a changed workload shape. (Deepening chains instead would grow
 * per-doc noise linearly in the copy index — copy 999 would carry 5k
 * noise tokens — changing both text-size distribution and pair
 * structure.) Noise tokens carry the replica index so no band key is
 * ever shared across replicas.
 *
 * Modes (second arg):
 *  - `oneshot` (default): one [[graft.pipeline.Curation.curate]] call,
 *    the documented one-shot-driver contract;
 *  - `managed`: THREE [[graft.pipeline.Curation.curateManaged]] runs in
 *    one driver, unpersisting between runs — asserts via
 *    `sc.getRDDStorageInfo` that each run's caches are real while live
 *    and that storage returns to the pre-run baseline after
 *    `unpersist()` (the repeated-batch-runs leak check);
 *  - `staged`: one parquet-staging run — asserts storage NEVER grows
 *    past the baseline (corpus-sized text stays out of the block
 *    manager entirely) and that `cleanup()` removes the stage files.
 */
object CurationStress {
  def main(args: Array[String]): Unit = {
    val copies = if (args.nonEmpty) args(0).toInt else 100
    val mode = if (args.length > 1) args(1) else "oneshot"
    val famReps = if (args.length > 2) args(2).toInt else 1
    // fixture residency (round 14): `cache` persists the synthesized
    // corpus in the block manager (96 GB heap -> the 5M fixture spills
    // past RAM and the BUILD phase pays page-cache-eviction reads that
    // contaminate its scaling curve); `parquet` writes the fixture once
    // (compressed, ~5x smaller) and the pipeline reads it like a real
    // corpus — the build-phase numbers then measure the pipeline, not the
    // fixture's memory pressure
    val fixture = if (args.length > 3) args(3) else "cache"
    require(Set("oneshot", "managed", "staged")(mode), s"unknown mode $mode")
    require(Set("cache", "parquet")(fixture), s"unknown fixture mode $fixture")
    require(famReps >= 1, "famReps must be >= 1")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // per-section job/task accounting, so a scale-up run can show WHERE
    // the extra work landed (wall time alone hides a superlinear stage
    // behind parallelism)
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    val taskMs = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(t.taskInfo).foreach(i => taskMs.addAndGet(i.duration))
      }
    })
    def timed[T](label: String)(f: => T): T = {
      val (j0, t0n, m0) = (jobs.get(), tasks.get(), taskMs.get())
      val t0 = System.nanoTime()
      val r = f
      println(f"[curation-stress] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s " +
        f"(jobs ${jobs.get() - j0}, tasks ${tasks.get() - t0n}, " +
        f"taskSec ${(taskMs.get() - m0) / 1e3}%.1f)")
      r
    }

    val base = graft.Tables(spark, sfDir, "documents").select("doc_id", "text")
    val nBase = base.count()
    // family id stays in the low bits so doc_id ordering interleaves
    // copies of different families (no accidental per-family partition
    // locality — the shuffle has to do its job)
    // the sf tables are single parquet files, and a crossJoin against a
    // broadcast range preserves that ONE input partition — without the
    // repartition the per-row synthesis expression (and curate's whole
    // stage 1) pins to a single core for the entire 500k-doc corpus
    // (observed: 1 thread at 100% for 20+ min). A real 100 TB corpus
    // arrives in thousands of partitions; the stress must present one.
    // replica 0 keeps the raw text (the eval set must still hit it);
    // replicas > 0 remap every token, giving a disjoint shingle space —
    // families in different replicas can never pair. The remap must be
    // token-for-token under the pipeline's OWN tokenizer ([a-z0-9]+ runs):
    // the prefix is alnum-only and glued with no separator ("r3xthe"), so
    // each original token stays ONE token and the replica's repetition /
    // quality profile matches the base text. (A first cut used "r3_the";
    // the underscore split every token in two and injected "r3" between
    // all of them — 3.4M of 4.5M replica docs died at the repetition
    // stage and the scale-up never reached the dedup stages.)
    val famText = when(col("r") === 0, col("text")).otherwise(
      concat_ws(" ", transform(split(col("text"), " "),
        t => format_string("r%dx%s", col("r"), t))))
    val synth = base
      .crossJoin(spark.range(famReps).select(col("id").cast("int").as("r")))
      .crossJoin(spark.range(copies).select(col("id").cast("int").as("k")))
      .repartition(spark.sparkContext.defaultParallelism * 4)
      .select(
        ((col("r") * copies + col("k")) * nBase * 2 + col("doc_id")).as("doc_id"),
        when(col("k") <= 1, famText).otherwise(
          concat_ws(" ",
            // 5k unique-per-(doc,copy,replica) noise tokens, then the
            // original; array-then-join, NOT a fold of string concats
            // (the fold re-copies the accumulated prefix per token —
            // quadratic per row, ~1 MB of copying for a 500-token prefix)
            concat_ws(" ", transform(
              sequence(lit(0), col("k") * 5 - 1),
              i => format_string("n%dx%dr%dq%d", col("doc_id"), col("k"), col("r"), i))),
            famText)).as("text"))
    val evalDocs = base.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 100000000L).as("doc_id"), col("text"))

    def rmDir(path: String): Unit = {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles).foreach(_.foreach(rm)); x.delete(): Unit
      }
      val f = new java.io.File(path)
      if (f.exists()) rm(f)
    }

    val corpus = fixture match {
      case "cache" =>
        // persist + count: a bare count() would let Catalyst PRUNE the
        // heavy synthesis projection (the round-10 measurement lesson —
        // count drops unreferenced columns), mis-attributing the synthesis
        // cost to curate's stage 1; materializing the cache builds full rows
        synth.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = timed(s"synthesize + cache corpus (${copies}x sf0.1; fixture prep, not pipeline cost)")(synth.count())
        println(s"[curation-stress] corpus docs: $n, eval docs: ${evalDocs.count()}")
        synth
      case "parquet" =>
        val fixDir = java.nio.file.Files
          .createTempDirectory("graft-curation-fixture").toFile.getAbsolutePath
        sys.addShutdownHook(rmDir(fixDir))
        timed(s"synthesize + write parquet fixture (${copies}x sf0.1 x $famReps; fixture prep, not pipeline cost)") {
          synth.graftWrite.mode("overwrite").parquet(fixDir)
        }
        val onDisk = spark.read.parquet(fixDir)
        def du(f: java.io.File): Long =
          if (f.isFile) f.length
          else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)
        println(f"[curation-stress] corpus docs: ${onDisk.count()}, eval docs: ${evalDocs.count()}, " +
          f"fixture ${du(new java.io.File(fixDir)) / 1e9}%.1f GB parquet")
        onDisk
    }

    mode match {
      case "oneshot" =>
        val out = graft.pipeline.Curation.curate(corpus, evalDocs)
        val persisted = timed("curate (full pipeline, all stages)") {
          val p = out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          p.count()
          p
        }
        val byReason = timed("disposition rollup") {
          persisted.groupBy("drop_reason").count()
            .collect().map(r => Option(r.getString(0)).getOrElse("KEPT") -> r.getLong(1))
            .sortBy(_._1).toSeq
        }
        println(s"[curation-stress] dispositions: ${byReason.mkString(", ")}")
        val shards = timed("shard balance") {
          persisted.filter(col("keep")).groupBy("shard").count()
            .agg(min("count").as("mn"), max("count").as("mx"))
            .collect().head
        }
        println(s"[curation-stress] kept-shard balance: min=${shards.getLong(0)} max=${shards.getLong(1)}")

      case "managed" =>
        val sc = spark.sparkContext
        // the corpus fixture cache is part of the baseline; each run's
        // caches must come and GO relative to it
        val baseline = sc.getRDDStorageInfo.map(_.id).toSet
        def extra() = sc.getRDDStorageInfo.filterNot(i => baseline(i.id))
        for (i <- 1 to 3) {
          val run = timed(s"managed run $i: build + materialize") {
            graft.pipeline.Curation.curateManaged(corpus, evalDocs)
          }
          // toRdd, not count(): count() lets Catalyst prune the verdict
          // projections and the run would time a keys-only plan
          val n = timed(s"managed run $i: consume audit")(
            run.audit.queryExecution.toRdd.count())
          val live = extra()
          val liveMb = live.map(i => i.memSize + i.diskSize).sum / 1e6
          println(f"[curation-stress] run $i: $n rows, ${live.length} live cached RDDs, $liveMb%.1f MB")
          assert(live.nonEmpty, "a managed run must register real caches while live")
          run.unpersist(blocking = true)
          val leaked = extra()
          assert(leaked.isEmpty,
            s"run $i leaked ${leaked.length} cached RDDs past unpersist(): " +
              leaked.map(_.id).mkString(","))
          println(s"[curation-stress] run $i: storage back to baseline after unpersist")
        }
        println("[curation-stress] managed: 3 runs, zero leaked caches PASS")

      case "staged" =>
        val sc = spark.sparkContext
        val baseline = sc.getRDDStorageInfo.map(_.id).toSet
        val dir = java.nio.file.Files.createTempDirectory("graft-curation-staged")
          .toFile.getAbsolutePath
        // an ABORTED run never reaches run.cleanup(); without this hook
        // every failed attempt strands a staging dir that silently eats
        // the disk budget of the next one (observed: two failed 5M
        // attempts left 45 GB behind, and the second failure was mostly
        // squatting the first one's leftovers)
        sys.addShutdownHook {
          val f = new java.io.File(dir)
          if (f.exists()) {
            def rm(x: java.io.File): Unit = {
              Option(x.listFiles).foreach(_.foreach(rm)); x.delete(): Unit
            }
            rm(f)
          }
        }
        val run = timed("staged run: build + write stage files") {
          graft.pipeline.Curation.curateManaged(corpus, evalDocs,
            stagingPath = Some(dir))
        }
        val n = timed("staged run: consume audit")(
          run.audit.queryExecution.toRdd.count())
        val grown = sc.getRDDStorageInfo.filterNot(i => baseline(i.id))
        assert(grown.isEmpty,
          s"staging mode must not touch the block manager, saw ${grown.length} new cached RDDs")
        val stageBytes = {
          def du(f: java.io.File): Long =
            if (f.isFile) f.length
            else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)
          du(new java.io.File(dir))
        }
        println(f"[curation-stress] staged: $n rows, 0 new cached RDDs, ${stageBytes / 1e6}%.1f MB of stage files")
        // disposition + shard rollups off the parquet stage files — cheap
        // (the assembly recomputes from staged frames, not from raw text)
        val byReason = timed("disposition rollup") {
          run.audit.groupBy("drop_reason").count()
            .collect().map(r => Option(r.getString(0)).getOrElse("KEPT") -> r.getLong(1))
            .sortBy(_._1).toSeq
        }
        println(s"[curation-stress] dispositions: ${byReason.mkString(", ")}")
        val shards = timed("shard balance") {
          run.audit.filter(col("keep")).groupBy("shard").count()
            .agg(min("count").as("mn"), max("count").as("mx"))
            .collect().head
        }
        println(s"[curation-stress] kept-shard balance: min=${shards.getLong(0)} max=${shards.getLong(1)}")
        run.cleanup()
        assert(!new java.io.File(dir).exists(), "cleanup must delete the staging dir")
        println("[curation-stress] staged: zero block-manager growth + cleanup PASS")
    }
    spark.stop()
  }
}
