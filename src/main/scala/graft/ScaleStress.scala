package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * One-off scale diagnostic at the reference's FULL canonical bench shape
 * (reference bench/benchmark.cpp:28-43: 1M x 128D, nlist 1024, nprobe 10,
 * k 10, 10k queries, train subset 100k) — NOT part of the per-round Bench
 * (it would dominate its budget). Exercises BOTH probe strategies: the
 * 10k-query batch exceeds MaxStaticBatch, so Auto takes the distributed
 * join path; a 1k slice then takes the static serving path.
 */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dim = 128
    val n = 1000000
    val nq = 10000
    val vecExpr = transform(
      sequence(lit(0), lit(dim - 1)),
      d => (pmod(xxhash64(col("id") * dim + d), lit(2000)) / 1000.0 - 1.0).cast("float"))
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[stress] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    val corpus = spark.range(n).select(col("id"), vecExpr.as("vec"))
    val index = timed("train(100k sample, nlist=1024) + assign(1M) + materialize") {
      val idx = index_build(spark, corpus)
      idx.vectors.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
      idx
    }
    val queries = spark.range(nq)
      .select((col("id") + 5000000L).as("id"))
      .select(col("id").as("qid"), vecExpr.as("qvec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    queries.count()
    // arg `selfjoin` runs ONLY the broadcast-vs-blocked pipeline section
    // (its blocked shapes take minutes); default runs everything else
    val selfJoinOnly = args.contains("selfjoin")
    if (!selfJoinOnly) {
    (1 to 3).foreach { i =>
      timed(s"join-path search run $i (10k queries, nprobe=10, k=10)") {
        index.search(queries, SearchParams(k = 10, nprobe = 10)).count()
      }
    }
    val small = queries.limit(1000)
    (1 to 3).foreach { i =>
      timed(s"static-path search run $i (1k queries, nprobe=10, k=10)") {
        index.search(small, SearchParams(k = 10, nprobe = 10)).count()
      }
    }
    // the reference's OWN serving shape: coalesced batches of 64 queries
    // (server/query_service.h:25-27, vendor p99 12 ms on V100) — measure
    // the per-micro-batch latency floor of the static path at batch=64
    val batch64 = small.limit(64).collect().map(graft.index.IvfFlatIndex.decodeQueryRow(_))
    def servingFloor(idx: graft.index.IvfFlatIndex, label: String, runs: Int = 60): Double = {
      val lat = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val (df, release) = idx.searchBatchManaged(batch64, SearchParams(k = 10, nprobe = 10))
        df.count()
        release()
        (System.nanoTime() - t0) / 1e6
      }.drop(runs / 6).sorted // warmup prefix; percentiles over the rest
      def pct(p: Double) = lat((p * (lat.size - 1)).round.toInt)
      println(f"[stress] $label batch=64 latency ms p50=${pct(.5)}%.1f " +
        f"p95=${pct(.95)}%.1f p99=${pct(.99)}%.1f -> ${64000 / pct(.5)}%.0f QPS/stream")
      pct(.5)
    }
    servingFloor(index, "nlist=1024 in-memory corpus:")
    // EPOCH-BACKED serving (the production topology: list-partitioned
    // parquet), cold vs LFU-warmed — the Spark analog of the reference's
    // GPU-cache warmup (server/query_service.cpp:170-204): the workload's
    // probed lists persist as EXACTLY the pruned-scan fragment the static
    // path plans, so the cache substitutes into every serving plan
    val epochPath = "/tmp/graft_stress_epoch"
    timed("write 1M-vector epoch (list-partitioned parquet)") {
      graft.index.IvfFlatIndex.writeEpoch(index.vectors, epochPath)
    }
    val diskVectors = graft.index.IvfFlatIndex.readEpoch(spark, epochPath)
    val diskIdx = new graft.index.IvfFlatIndex(spark, diskVectors, index.centroids, Metric.L2)
    servingFloor(diskIdx, "epoch-backed COLD (pruned parquet scan):")
    val hotPairs = graft.index.IvfFlatIndex.localProbe(
      batch64, index.centroids.value, 10, Metric.L2)
    val hotLists = hotPairs.map(_._2).distinct.toSeq
    val warmedDF = diskVectors
      .filter(col("list_id").isInCollection(hotLists))
      .select(col("id").cast("long"), col("list_id").cast("int"), col("vec"))
    timed(s"warm frame: persist the ${hotLists.size}/1024 probed lists") {
      warmedDF.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
    }
    servingFloor(diskIdx, s"epoch-backed WARM (${hotLists.size}/1024 lists persisted):")
    warmedDF.unpersist(blocking = false)
    // every list resident as packed blocks (what the facade serves from):
    // one scoring job per batch, no SQL plan, no parquet decode
    timed("keepResident: load all 1024 lists as resident blocks") { diskIdx.keepResident() }
    servingFloor(diskIdx, "epoch-backed RESIDENT (all lists as blocks):")
    diskIdx.releaseResident()
    // higher-nlist point (the reference's sizing table puts 1M vectors at
    // nlist=4096): each batch-64 x nprobe=10 probes <=640/4096 ≈ 16% of
    // lists instead of ~half, so the per-batch scan shrinks ~4x — the
    // lever that moves the small-batch floor without new hardware
    val idx4096 = timed("train(100k sample, nlist=4096) + assign(1M) + materialize") {
      val idx = graft.index.IvfFlatIndex.build(spark, corpus, nlist = 4096,
        maxTrain = 100000)
      idx.vectors.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
      idx
    }
    servingFloor(idx4096, "nlist=4096 in-memory corpus:")
    idx4096.vectors.unpersist(blocking = false)
    // concurrent serving streams (the reference serves 16-32 concurrent
    // searches, server/query_service.h:28): N driver threads each running
    // sequential batch-64 searches — Spark's scheduler interleaves their
    // jobs across the same executor threads
    for (streams <- Seq(4, 16)) {
      val perStream = 12
      val t0 = System.nanoTime()
      val threads = (1 to streams).map { _ =>
        val t = new Thread(() => {
          (1 to perStream).foreach { _ =>
            val (df, release) = index.searchBatchManaged(batch64, SearchParams(k = 10, nprobe = 10))
            df.count()
            release()
          }
        })
        t.start(); t
      }
      threads.foreach(_.join())
      val wall = (System.nanoTime() - t0) / 1e9
      val qps = streams * perStream * 64 / wall
      println(f"[stress] $streams concurrent batch-64 streams: ${wall}%.1f s -> $qps%.0f QPS aggregate")
    }
    } // !selfJoinOnly
    // BROADCAST vs BLOCKED pipeline shapes at 200k x 128D (run with arg
    // `selfjoin`, optionally narrowed by `broadcast-only`/`blocked-only`;
    // skipped by default — the blocked shapes take minutes): the bench
    // corpora all fit the broadcast fast paths, so the salted equi-join
    // formulations — what a truly driver-exceeding corpus runs — get
    // their own measured point, and the same size runs both ways to
    // justify the MaxSelfIndexRows gate. Measured on this box (clean
    // runs): self-join broadcast 21-24s vs blocked 230-277s (~11x);
    // near-dup broadcast ~13s vs blocked ~83s (~6x). The ~300M-row
    // candidate distinct + twin payload joins dominate the blocked
    // shapes, not the distance flops.
    if (selfJoinOnly) {
      val blocked = !args.contains("broadcast-only")
      val broadcast = !args.contains("blocked-only")
      val subN = 200000
      val sub = corpus.filter(col("id") < subN)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sub.count()
      if (broadcast) (1 to 2).foreach { i =>
        timed(s"BROADCAST knn self-join run $i (${subN} x 128D, k=10, 2-probe)") {
          graft.pipeline.Similarity.knnSelfJoin(sub, index.centroids, k = 10,
            maxSelfIndexRows = 1 << 20).count()
        }
      }
      if (broadcast) (1 to 2).foreach { i =>
        timed(s"BROADCAST embedding near-dup run $i (${subN} x 128D, 2-probe)") {
          graft.pipeline.Dedup.embeddingNearDup(sub, index.centroids,
            maxCosineDist = 0.05, maxSelfIndexRows = 1 << 20).count()
        }
      }
      if (blocked) {
        timed(s"BLOCKED embedding near-dup (${subN} x 128D, 2-probe)") {
          graft.pipeline.Dedup.embeddingNearDup(sub, index.centroids,
            maxCosineDist = 0.05, maxSelfIndexRows = 0).count()
        }
        timed(s"BLOCKED knn self-join (${subN} x 128D, k=10, 2-probe)") {
          graft.pipeline.Similarity.knnSelfJoin(sub, index.centroids, k = 10,
            maxSelfIndexRows = 0).count()
        }
      }
      sub.unpersist(blocking = false)
    }
    // IVF-PQ at the same shape: m=16 -> 16-byte codes vs 512-byte raw
    // vectors (32x scan-byte reduction — THE 100 TB memory story). The
    // rerank source reuses the flat index's ASSIGNED corpus cache (with
    // list_id), so rerank reads prune to probed lists like an epoch read.
    if (!selfJoinOnly) {
    val small = queries.limit(1000)
    val pq = timed("PQ train(m=16,nbits=8) + encode(1M) + assign raw + materialize") {
      val idx0 = graft.index.IvfPqIndex.build(spark, corpus, nlist = 1024, m = 16,
        maxTrain = 100000)
      // rerank source assigned under idx0's OWN centroids (safe by
      // construction — a foreign list_id would silently drop candidates)
      val raw = corpus.select(col("id"), col("vec"),
        graft.functions.vector.argmin_centroid(col("vec"), idx0.centroids).as("list_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      raw.count()
      // cluster codes by list (what an epoch read delivers for free from
      // the list_id=N/ directory layout): the flood scorer's per-list ADC
      // tables only amortize over CONSECUTIVE rows of one list — on a
      // row-random layout it correctly degrades to direct scoring, ~2x
      // slower at these parameters (measured 2.0 s vs 0.9 s for the 10k
      // flood)
      val codes = idx0.codes
        .repartition(col("list_id")).sortWithinPartitions("list_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      codes.count()
      new graft.index.IvfPqIndex(spark, codes, raw, idx0.centroids, idx0.codebooks)
    }
    (1 to 3).foreach { i =>
      timed(s"PQ ADC search run $i (1k queries, nprobe=10, k=10)") {
        pq.search(small, SearchParams(k = 10, nprobe = 10)).count()
      }
    }
    (1 to 3).foreach { i =>
      timed(s"PQ ADC+rerank(100) search run $i (1k queries, nprobe=10, k=10)") {
        pq.search(small, SearchParams(k = 10, nprobe = 10), rerankK = 100).count()
      }
    }
    // PQ FLOOD path (10k queries > MaxStaticBatch -> searchJoin with the
    // per-task streaming ADC scorer; probed rows ship qvec, never tables)
    (1 to 3).foreach { i =>
      timed(s"PQ join-path search run $i (10k queries, nprobe=10, k=10)") {
        pq.search(queries, SearchParams(k = 10, nprobe = 10)).count()
      }
    }
    (1 to 3).foreach { i =>
      timed(s"PQ join-path rerank(100) run $i (10k queries, nprobe=10, k=10)") {
        pq.search(queries, SearchParams(k = 10, nprobe = 10), rerankK = 100).count()
      }
    }
    } // !selfJoinOnly
    spark.stop()
  }

  private def index_build(spark: SparkSession, corpus: org.apache.spark.sql.DataFrame) =
    graft.index.IvfFlatIndex.build(spark, corpus, nlist = 1024, maxTrain = 100000)
}
