package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.text
import graft.index.IvfFlatIndex

class PipelineSpec extends SparkSpec {

  private lazy val docs = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 0
      (2L, "der schnelle braune fuchs springt und der hund ist mit den anderen"),
      (3L, "el perro y el gato de la casa que corre por en un jardin"),
      (4L, "completely different text about spark query engines and columnar io"),
      (5L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 0
      (6L, ""))
      .toDF("doc_id", "text")
  }

  test("exact dedup groups identical text and keeps the lowest id") {
    val d = Dedup.exact(docs).collect()
    val dup = d.find(_.getLong(1) > 1).get
    assert(dup.getLong(0) === 0L) // keep_id = min(0, 5)
    assert(dup.getLong(1) === 2L)
    assert(d.length === 6) // 7 docs, one exact pair
  }

  test("minhash LSH finds the near-duplicate pair without all-pairs compare") {
    val pairs = Dedup.minhashLsh(docs, numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 5L))) // exact dup
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 5L)), s"near-dup missed: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated doc never pairs
  }

  test("minhash LSH candidates cover all high-jaccard pairs found exactly") {
    val exact = Dedup.ngramJaccardExact(docs, ngram = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(docs, numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(lsh),
      s"LSH missed exact pairs: ${exact -- lsh}") // 16 bands x 4 rows => ~certain at j>=0.5
  }

  test("simhash pairs: exact/near dup within hamming bound, distinct docs far apart") {
    // a 1-word change in a ~13-token doc flips ~0.2*64 bits, so the
    // near-dup bound is 16; unrelated docs sit near the ~32-bit mean
    val pairs = Dedup.simhashPairs(docs, maxHamming = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs(((0L, 5L))) === 0) // identical text -> identical simhash
    assert(pairs.contains((0L, 1L))) // near-dup within the bound
    assert(!pairs.contains((2L, 3L)) && !pairs.contains((0L, 4L)))
  }

  test("short docs (fewer tokens than the shingle width) never become LSH pairs") {
    val s = spark
    import s.implicits._
    val shorties = docs.unionAll(Seq(
      (100L, "hello"), (101L, "world"), (102L, "ab cd")).toDF("doc_id", "text"))
    val pairs = Dedup.minhashLsh(shorties, threshold = 0.5).collect()
    // empty shingle sets share the identity signature; without the guard
    // they'd all collide and their 0/0 jaccard (NaN) passes any threshold
    assert(!pairs.exists(r => r.getLong(0) >= 100L || r.getLong(1) >= 100L))
    assert(pairs.forall(r => !r.getDouble(2).isNaN))
    val exact = Dedup.ngramJaccardExact(shorties, threshold = 0.5).collect()
    assert(exact.forall(r => !r.getDouble(2).isNaN))
  }

  test("poly-family minhash LSH still covers all exact high-jaccard pairs") {
    import graft.functions.HashFamily
    val exact = Dedup.ngramJaccardExact(docs, ngram = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(docs, numHashes = 64, bands = 16, threshold = 0.5,
      family = HashFamily.Poly)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(lsh), s"poly LSH missed exact pairs: ${exact -- lsh}")
  }

  test("poly simhash: blocked pigeonhole join equals brute-force hamming filter") {
    import graft.functions.HashFamily
    val sims = docs.select(col("doc_id"),
      text.simhash64(text.tokenize(col("text")), family = HashFamily.Poly).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sims.keys; b <- sims.keys if a < b
      h = java.lang.Long.bitCount(sims(a) ^ sims(b)) if h <= 3
    } yield (a, b, h)).toSet
    val blocked = Dedup.simhashPairs(docs, maxHamming = 3, family = HashFamily.Poly)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(blocked === brute)
    // the oracle replays bits 0..60 only: the packed hi<<31|lo layout must
    // keep bits 61..63 structurally zero for every token hash
    val tok = org.apache.spark.unsafe.types.UTF8String.fromString("anything42")
    assert((graft.functions.TextKernels.polyToken64(tok, 42L) >>> 61) === 0L)
  }

  test("simhash maxHamming=0 buckets on the full 64-bit value (shift-overflow guard)") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
    // only the exact duplicate survives, and the single 64-bit chunk must
    // not degenerate to mask 0 (which would bucket EVERY doc together)
    assert(pairs.map(_._1).toSeq === Seq((0L, 5L)))
    assert(pairs.head._2 === 0)
    // nonsense bounds are rejected with context, not a bare /-by-zero or
    // a silently empty result
    intercept[IllegalArgumentException](Dedup.simhashPairs(docs, maxHamming = -1))
    intercept[IllegalArgumentException](Dedup.simhashPairs(docs, maxHamming = 64))
  }

  test("embedding near-dup via IVF blocking finds the planted duplicate pair") {
    val base = randomVectors(200, 16)
    // plant a near-duplicate of vector 7 as id 1007
    val planted = base :+ (1007L, base(7)._2.map(x => x + 0.001f))
    val v = vectorsDF(planted)
    val cents = IvfFlatIndex.train(spark, v, nlist = 4)
    val pairs = Dedup.embeddingNearDup(v, IvfFlatIndex.broadcastCentroids(spark, cents),
      maxCosineDist = 0.01, assignProbes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((7L, 1007L)), s"planted dup missed: $pairs")
  }

  test("bucketedSelfPairs covers every within-list ordered pair exactly once") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5)
    for (maxBucket <- Seq(1, 3, 7, 1000)) {
      // ~12-row buckets (split under caps 1/3/7, unsplit under 1000) plus
      // an explicit singleton bucket (list 9)
      val rows = (0 until 60).map(i => (rnd.nextInt(5), i.toLong)) :+ ((9, 999L))
      val df = rows.toDF("list_id", "id")
      val got = Dedup.bucketedSelfPairs(df, maxBucket)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val expected = rows.groupBy(_._1).values.flatMap { bucket =>
        for (a <- bucket; b <- bucket if a._2 != b._2) yield (a._2, b._2)
      }.toSeq
      // multiset equality: no pair lost, no pair double-tiled
      assert(got.sorted === expected.toSeq.sorted, s"coverage broke at maxBucket=$maxBucket")
    }
  }

  test("skewed bucket (one list holds ~90% of rows) splits without changing results") {
    // centroid 0 at the origin captures every N(0,1) vector; centroid 1 is
    // far away and stays empty -> maximal k-means skew
    val v = vectorsDF(randomVectors(300, 8))
    val cents = IvfFlatIndex.broadcastCentroids(spark,
      Array(Array.fill(8)(0.0f), Array.fill(8)(100.0f)))
    def pairs(maxBucket: Int) = // maxSelfIndexRows=0 pins the BLOCKED path
      Dedup.embeddingNearDup(v, cents, maxCosineDist = 0.9,
        assignProbes = 1, maxBucket = maxBucket, maxSelfIndexRows = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val split = pairs(maxBucket = 25)   // 300-row bucket -> 12 sub-buckets
    val whole = pairs(maxBucket = 1 << 30)
    assert(split === whole, "salted sub-bucket split changed the pair set")
    assert(split.nonEmpty)
    // broadcast fast path: identical pair set AND identical distances
    val broadcastPairs = Dedup.embeddingNearDup(v, cents, maxCosineDist = 0.9,
      assignProbes = 1, maxSelfIndexRows = 1 << 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val blockedPairs = Dedup.embeddingNearDup(v, cents, maxCosineDist = 0.9,
      assignProbes = 1, maxSelfIndexRows = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(broadcastPairs === blockedPairs,
      "broadcast near-dup path diverged from the bucket join")
    def topk(maxBucket: Int) = // maxSelfIndexRows=0 pins the BLOCKED path
      Similarity.knnSelfJoin(v, cents, k = 3, assignProbes = 1, maxBucket = maxBucket,
        maxSelfIndexRows = 0)
        .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    assert(topk(25) === topk(1 << 30), "split changed the self-join top-k")
  }

  test("self-join broadcast fast path equals the salted equi-join path exactly") {
    // multi-probe (2 lists) with few centroids: many pairs share BOTH
    // probed lists, exercising the array side of TopKBuf's exact-duplicate
    // skip; the
    // clustered layout also gives real distance ties a chance
    val rnd = new scala.util.Random(11)
    val rows = (0 until 150).map { i =>
      val c = i % 3
      (i.toLong, Array.fill(8)(c * 10.0f + rnd.nextGaussian().toFloat))
    }
    val v = vectorsDF(rows)
    val cents = IvfFlatIndex.broadcastCentroids(spark,
      Array.tabulate(4)(c => Array.fill(8)(c * 10.0f)))
    def run(maxSelf: Int) =
      Similarity.knnSelfJoin(v, cents, k = 5, assignProbes = 2, maxSelfIndexRows = maxSelf)
        .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val broadcastPath = run(maxSelf = 1 << 20)
    val blockedPath = run(maxSelf = 0)
    assert(broadcastPath === blockedPath)
    assert(broadcastPath.forall { case (q, _, id, _) => q != id }, "self-match leaked")
  }

  test("self-join fast path opens at heap-sized k and equals the blocked path (round 7)") {
    // k above PartialTopK.HeapThreshold exercises the heap side of
    // TopKBuf's exact-duplicate skip: with few centroids and 2-probe assignment, many
    // pairs share BOTH probed lists and score twice bit-identically — at
    // k > candidate count, a missed dedup would KEEP the twin (nothing
    // falls off the buffer), so equality with the distinct()-based
    // blocked path pins the skip end to end
    val rnd = new scala.util.Random(13)
    val rows = (0 until 60).map { i =>
      val c = i % 3
      (i.toLong, Array.fill(8)(c * 10.0f + rnd.nextGaussian().toFloat))
    }
    val v = vectorsDF(rows)
    val cents = IvfFlatIndex.broadcastCentroids(spark,
      Array.tabulate(4)(c => Array.fill(8)(c * 10.0f)))
    val k = graft.index.PartialTopK.HeapThreshold + 6
    def run(maxSelf: Int) =
      Similarity.knnSelfJoin(v, cents, k = k, assignProbes = 2, maxSelfIndexRows = maxSelf)
    val fast = run(1 << 20)
    assert(fast.queryExecution.executedPlan.toString.contains("ListScanTopK"),
      "fast path not taken at heap-sized k")
    def keys(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(keys(fast) === keys(run(0)))
  }

  test("selfIndexBatch caps by bytes, not rows: wide vectors refuse the fast path") {
    val v = vectorsDF(randomVectors(100, 64))
    // 100 rows sail through the row gate, but a byte budget of ~4 rows of
    // 64D vectors (64*4+24 = 280 B each) must refuse the snapshot — the
    // dimension-blind row cap alone would have collected ~2 GB at 2048D
    assert(Similarity.selfIndexBatch(v, maxRows = 1 << 18, dimHint = 64,
      maxBytes = 1200) === null)
    val ok = Similarity.selfIndexBatch(v, maxRows = 1 << 18, dimHint = 64)
    assert(ok != null && ok.length === 100)
  }

  test("adaptive filtered ANN evaluates a non-deterministic query plan exactly once") {
    val s = spark
    import s.implicits._
    import graft.Metric
    // corpus: list 0 near the origin (label 0), list 1 far away (label 1)
    // — label=1 with nprobe=1 starves every query, forcing the retry
    val rnd = new scala.util.Random(7)
    val near = (0 until 50).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat), 0))
    val far = (1000 until 1010).map(i =>
      (i.toLong, Array.fill(8)(100.0f + rnd.nextGaussian().toFloat), 1))
    val corpus = (near ++ far).toDF("id", "vec", "label")
    val cents = IvfFlatIndex.broadcastCentroids(spark,
      Array(Array.fill(8)(0.0f), Array.fill(8)(100.0f)))
    val index = new IvfFlatIndex(spark, IvfFlatIndex.assign(corpus, cents), cents, Metric.L2)
    // a query source whose qid CHANGES on every evaluation: each pass over
    // the RDD bumps the counter, so any second evaluation mints qid 2000,
    // the retry's isInCollection([1000]) then matches nothing, and the
    // starved query comes back empty — the exact silent-loss mode the
    // snapshot-once contract forbids
    PipelineSpec.evalCount.set(0)
    val queries = spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      val e = PipelineSpec.evalCount.incrementAndGet()
      Iterator((e * 1000L, Array.fill(8)(0.01f)))
    }.toDF("qid", "qvec")
    val res = Similarity.filteredAnnAdaptive(index, queries, col("label") === 1,
      k = 5, nprobe = 1, metric = Metric.L2).collect()
    assert(res.nonEmpty, "retry lost the starved query — source was re-evaluated")
    assert(res.map(_.getLong(0)).toSet === Set(1000L),
      s"result qids ${res.map(_.getLong(0)).toSet} show a re-evaluated source")
    assert(res.length === 5)
  }

  test("filtered ANN at pruned nprobe: adaptive widening restores starved queries") {
    val s = spark
    import s.implicits._
    import graft.{Metric, SearchParams}
    // list 0: 200 vectors near the origin, label 0; list 1: 20 vectors
    // near (100,...), label 1 — a query at the origin with nprobe=1 probes
    // ONLY list 0, so predicate label=1 starves the pruned pass entirely
    val rnd = new scala.util.Random(7)
    val near = (0 until 200).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat), 0))
    val far = (1000 until 1020).map(i =>
      (i.toLong, Array.fill(8)(100.0f + rnd.nextGaussian().toFloat), 1))
    val corpus = (near ++ far).toDF("id", "vec", "label")
    val cents = IvfFlatIndex.broadcastCentroids(spark,
      Array(Array.fill(8)(0.0f), Array.fill(8)(100.0f)))
    val index = new IvfFlatIndex(spark, IvfFlatIndex.assign(corpus, cents), cents, Metric.L2)
    val queries = Seq((0L, Array.fill(8)(0.01f))).toDF("qid", "qvec")
    val starved = Similarity.filteredAnn(index, queries, col("label") === 1,
      k = 5, nprobe = 1, metric = Metric.L2)
    assert(starved.count() === 0, "nprobe=1 should read no label=1 vectors")
    val adaptive = Similarity.filteredAnnAdaptive(index, queries, col("label") === 1,
      k = 5, nprobe = 1, metric = Metric.L2)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2)))
    val exact = Similarity.filteredKnn(queries, corpus, col("label") === 1,
      k = 5, metric = Metric.L2)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2)))
    assert(adaptive.sortBy(x => (x._1, x._2)) === exact.sortBy(x => (x._1, x._2)),
      "widened retry must equal the exact filtered top-k")
    // a satisfied query keeps its pruned rows (no spurious rerun): label=0
    // matches saturate k inside the probed list
    val sat = Similarity.filteredAnnAdaptive(index, queries, col("label") === 0,
      k = 5, nprobe = 1, metric = Metric.L2)
    val satPruned = Similarity.filteredAnn(index, queries, col("label") === 0,
      k = 5, nprobe = 1, metric = Metric.L2)
    assert(sat.collect().map(_.toSeq).sortBy(_.toString) ===
      satPruned.collect().map(_.toSeq).sortBy(_.toString))
  }

  test("adaptive filtered ANN retry stays distributed at flood cardinality") {
    val s = spark
    import s.implicits._
    import graft.Metric
    // two lists: label-0 vectors near the origin, label-1 vectors near
    // (100,...). Queries split half/half: origin queries probe only list 0
    // -> starved under label=1 and retried; far queries probe list 1 and
    // are satisfied. 12k queries total — the r8 verdict's driver-bottleneck
    // shape (shortfall qids were collect()ed into an IN-list).
    val rnd = new scala.util.Random(11)
    val near = (0 until 200).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat), 0))
    val far = (1000 until 1020).map(i =>
      (i.toLong, Array.fill(8)(100.0f + rnd.nextGaussian().toFloat), 1))
    val corpus = (near ++ far).toDF("id", "vec", "label")
    val cents = IvfFlatIndex.broadcastCentroids(spark,
      Array(Array.fill(8)(0.0f), Array.fill(8)(100.0f)))
    val index = new IvfFlatIndex(spark, IvfFlatIndex.assign(corpus, cents), cents, Metric.L2)
    val flood = ((0 until 6000).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat * 0.1f))) ++
      (10000 until 16000).map(i =>
        (i.toLong, Array.fill(8)(100.0f + rnd.nextGaussian().toFloat * 0.1f))))
    val queries = flood.toDF("qid", "qvec")
    val res = Similarity.filteredAnnAdaptive(index, queries, col("label") === 1,
      k = 5, nprobe = 1, metric = Metric.L2)
    // the retry gate must not materialize qids into a driver-built literal:
    // a collect()ed shortfall list >10 items optimizes into an INSET node
    val plan = res.queryExecution.optimizedPlan.toString
    assert(!plan.contains("INSET"),
      "shortfall qids were collected into a driver-side IN-list")
    val got = res.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val exact = Similarity.filteredKnn(queries, corpus, col("label") === 1,
      k = 5, metric = Metric.L2).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.length === 12000 * 5)
    assert(got.sortBy(x => (x._1, x._4)) === exact.sortBy(x => (x._1, x._4)),
      "flood adaptive result must equal the exact filtered top-k")
  }

  test("knn self-join returns k neighbors per vector with no self-matches") {
    val v = vectorsDF(randomVectors(100, 8))
    val cents = IvfFlatIndex.train(spark, v, nlist = 4)
    val res = Similarity.knnSelfJoin(v, IvfFlatIndex.broadcastCentroids(spark, cents), k = 3)
    val rows = res.collect()
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    val counts = rows.groupBy(_.getLong(0)).map(_._2.length)
    assert(counts.forall(_ <= 3))
    assert(counts.size === 100) // every vector got neighbors
  }

  test("language id picks the stopword-dominant language deterministically") {
    val res = TextAnalysis.analyze(docs).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(res(0L) === "en")
    assert(res(2L) === "de")
    assert(res(3L) === "es")
    assert(res(6L) === "en") // empty text: all scores 0 -> first priority wins
  }

  test("quality score lands in [0,1] and penalizes empty/degenerate docs") {
    val q = TextAnalysis.analyze(docs).collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(q.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(6L) < q(0L)) // empty doc scores below a real sentence
  }

  test("fingerprint is deterministic and position-sensitive") {
    val s = spark
    import s.implicits._
    val fp = Seq(("ab cd"), ("cd ab"), ("ab cd"))
      .toDF("text").select(text.fingerprint(col("text"))).collect().map(_.getLong(0))
    assert(fp(0) === fp(2))
    assert(fp(0) !== fp(1)) // rolling hash is order-sensitive, unlike bag-of-words
  }

  test("multimodal feature extraction preserves schema and determinism (stub decode)") {
    val media = Multimodal.mediaFromDocuments(spark, docs)
    val f1 = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    val f2 = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(f1.map(_.feature.toSeq) === f2.map(_.feature.toSeq))
    assert(f1.forall(_.feature.length === Multimodal.FeatureDim))
    val d0 = f1.find(_.doc_id == 0L).get
    assert(d0.n_bytes === docs.filter(col("doc_id") === 0).head().getString(1).length)
    assert(d0.n_frames === (d0.n_bytes + Multimodal.FrameBytes - 1) / Multimodal.FrameBytes)
    assert(f1.find(_.doc_id == 6L).get.byte_entropy === 0.0)
  }

  test("BMP codec: roundtrip across strides, malformed rejection, corpus features") {
    val rnd = new scala.util.Random(21)
    // widths 3 and 5 force row padding (9->12, 15->16 B); 4 is stride-free
    for (w <- Seq(1, 3, 4, 5, 32); h <- Seq(1, 2, 7)) {
      val gray = Array.fill(w * h)(rnd.nextInt(256))
      val img = Multimodal.decodeBmp(Multimodal.encodeBmp(w, h, gray))
      assert((img.width, img.height) === ((w, h)))
      assert(img.gray.toSeq === gray.toSeq, s"roundtrip broke at ${w}x$h")
    }
    // top-down variant (negative height) decodes to the same raster
    val gray = Array.tabulate(8)(i => i * 30)
    val bottomUp = Multimodal.encodeBmp(4, 2, gray)
    val topDown = bottomUp.clone()
    val bb = java.nio.ByteBuffer.wrap(topDown).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(22, -2) // height = -2 -> rows stored top-down
    // stored rows are bottom-up; flagging top-down must flip the raster
    val flipped = Multimodal.decodeBmp(topDown).gray.toSeq
    assert(flipped === (gray.drop(4) ++ gray.take(4)).toSeq)
    // malformed payloads fail loudly, never read garbage
    intercept[IllegalArgumentException](Multimodal.decodeBmp(Array[Byte](1, 2, 3)))
    intercept[IllegalArgumentException](
      Multimodal.decodeBmp(bottomUp.take(bottomUp.length - 5))) // truncated pixels
    val badMagic = bottomUp.clone(); badMagic(0) = 'X'.toByte
    intercept[IllegalArgumentException](Multimodal.decodeBmp(badMagic))
    // corpus features: empty text -> one zero row; decode matches direct text math
    val f = Multimodal.extractBmpFeatures(Multimodal.bmpFromDocuments(spark, docs))
      .collect().map(r => r.doc_id -> r).toMap
    assert(f(6L).height === 1 && f(6L).sum_gray === 0L && f(6L).nonzero_pixels === 0)
    val text0 = docs.filter(col("doc_id") === 0).head().getString(1)
    val expected = text0.codePoints().toArray.map(c => (c.toLong * 71 + 13) % 256)
    assert(f(0L).sum_gray === expected.sum)
    assert(f(0L).n_pixels === 32 * ((expected.length + 31) / 32))
  }

  test("AVI codec: roundtrip, malformed rejection, frame-sample + motion features") {
    val rnd = new scala.util.Random(22)
    for (nf <- Seq(1, 2, 5)) {
      val frames = Array.fill(nf)(Array.fill(64)(rnd.nextInt(256)))
      val vid = Multimodal.decodeAvi(Multimodal.encodeAvi(8, 8, frames))
      assert((vid.width, vid.height, vid.frames.length) === ((8, 8, nf)))
      assert(vid.frames.map(_.toSeq).toSeq === frames.map(_.toSeq).toSeq,
        s"roundtrip broke at $nf frames")
    }
    // container layout: 224 B framing + 200 B per frame (the oracle's math)
    val two = Multimodal.encodeAvi(8, 8, Array.fill(2)(new Array[Int](64)))
    assert(two.length === 224 + 2 * 200)
    // malformed payloads fail loudly, never read garbage
    intercept[IllegalArgumentException](Multimodal.decodeAvi(Array[Byte](1, 2, 3)))
    intercept[IllegalArgumentException](Multimodal.decodeAvi(two.take(two.length - 7)))
    val badMagic = two.clone(); badMagic(8) = 'X'.toByte // 'AVI ' -> 'XVI '
    intercept[IllegalArgumentException](Multimodal.decodeAvi(badMagic))
    // a frame-count lie in avih must be caught by the chunk walk
    val lied = two.clone()
    java.nio.ByteBuffer.wrap(lied).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(48, 3)
    intercept[IllegalArgumentException](Multimodal.decodeAvi(lied))
    // corpus features: empty text -> one zero frame; math matches the text
    val f = Multimodal.extractAviFeatures(Multimodal.aviFromDocuments(spark, docs))
      .collect().map(r => r.doc_id -> r).toMap
    assert(f(6L).n_frames === 1 && f(6L).n_sampled === 1)
    assert(f(6L).sum_gray_sampled === 0L && f(6L).motion_abs === 0L)
    val text0 = docs.filter(col("doc_id") === 0).head().getString(1)
    val px = text0.codePoints().toArray.map(c => ((c.toLong * 59 + 11) % 256).toInt)
    val nf0 = math.max(1, (px.length + 63) / 64)
    val padded = px ++ Array.fill(nf0 * 64 - px.length)(0)
    val sampledSum = padded.zipWithIndex.collect { case (v, i) if (i / 64) % 2 == 0 => v.toLong }.sum
    val motion = (64 until nf0 * 64).map(i => math.abs(padded(i) - padded(i - 64)).toLong).sum
    assert(f(0L).n_frames === nf0)
    assert(f(0L).sum_gray_sampled === sampledSum)
    assert(f(0L).motion_abs === motion)
    assert(f(0L).n_bytes === 224 + 200 * nf0)
  }

  test("dropNearDuplicates keeps one representative per duplicate chain") {
    val pairs = Dedup.ngramJaccardExact(docs, ngram = 3, threshold = 0.5)
    val kept = Dedup.dropNearDuplicates(docs, pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(0L)) // lowest id of the 0/1/5 chain survives
    assert(!kept.contains(1L) && !kept.contains(5L)) // near/exact dups dropped
    assert(kept.contains(2L) && kept.contains(3L) && kept.contains(4L))
  }

  test("BPE-ish token count splits contractions, numbers, and punctuation") {
    val s = spark
    import s.implicits._
    val r = Seq("Hello, world's best 42 foos don't!").toDF("t")
      .select(text.token_count_bpe(col("t"))).head().getInt(0)
    // Hello | , | world | 's | best | 42 | foos | don | 't | !
    assert(r === 10)
  }

  test("word n-grams: boundary cases (short docs, exact n)") {
    val s = spark
    import s.implicits._
    val r = Seq("a b c d", "a b", "").toDF("t")
      .select(text.word_ngrams(text.tokenize(col("t")), 3).as("g"))
      .collect().map(_.getSeq[String](0))
    assert(r(0) === Seq("a b c", "b c d"))
    assert(r(1) === Seq.empty)
    assert(r(2) === Seq.empty)
  }

  test("keep-best dedup prefers the canonical source, then the lowest id") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (10L, "same text", "srcB"),
      (3L, "same text", "srcA"),  // smaller source wins despite larger... no: 3 < 10 anyway
      (7L, "same text", "srcA"),  // srcA tie -> id 3 beats 7
      (1L, "same text", "srcC"),  // lowest id overall but worst source: must NOT win
      (20L, "unique", "srcZ"))
      .toDF("doc_id", "text", "source")
    val r = Dedup.exactKeepBest(d).orderBy("keep_id").collect()
    assert(r.length === 2)
    val grp = r.find(_.getLong(2) === 4L).get
    assert(grp.getLong(0) === 3L)          // keep_id: srcA, then min id
    assert(grp.getString(1) === "srcA")    // keep_source
    val uniq = r.find(_.getLong(2) === 1L).get
    assert(uniq.getLong(0) === 20L)
  }

  test("edit-distance pairs: lossless length banding, banded DP threshold") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (0L, "abcdefghij", "en"),        // dist 1 to doc 1 (one substitution)
      (1L, "abcdefghiX", "en"),
      (2L, "abcdefghijklmnop", "en"),  // dist 6 to doc 0 (6 inserts) — inside radius
      (3L, "zzzzzzzzzz", "en"),        // same length as 0, far away
      (4L, "abcdefghij", "de"),        // identical text, different lang: never pairs
      (5L, "abcdefghij" * 10, "en"))   // way outside the band of the others
      .toDF("doc_id", "text", "lang")
    val pairs = Dedup.editDistancePairs(d, maxDist = 6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs((0L, 1L)) === 1L)
    assert(pairs((0L, 2L)) === 6L)
    assert(!pairs.contains((1L, 2L))) // X->j sub + 6 inserts = 7 > threshold
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L), s"cross-lang pair: $pairs")
    assert(!pairs.keySet.exists(p => p._1 == 5L || p._2 == 5L))
    // the far-but-same-length doc must be compared (band can't exclude it) and rejected
    assert(!pairs.contains((0L, 3L)))
  }

  test("edit-distance pairs are identical on 1-partition and 8-partition input") {
    // the widenScan spread of the CPU-bound DP verify must never change
    // RESULTS — only which tasks run them
    val s = spark
    import s.implicits._
    val d = (0L until 40L).map(i =>
      (i, "abcdefghij" + ("x" * (i % 4).toInt), "en")).toDF("doc_id", "text", "lang")
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.editDistancePairs(df, maxDist = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val one = run(d.coalesce(1))
    val eight = run(d.repartition(8))
    assert(one.nonEmpty)
    assert(one === eight)
  }

  test("empty-token docs never simhash-pair (all would share simhash 0)") {
    val s = spark
    import s.implicits._
    val d = docs.unionAll(Seq(
      (200L, "???!!!"), (201L, "¡¿"), (202L, "")).toDF("doc_id", "text"))
    val pairs = Dedup.simhashPairs(d, maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!pairs.exists(p => p._1 >= 200L || p._2 >= 200L),
      s"empty-token docs paired: ${pairs.toSeq}")
  }

  test("quantizeInt8 maps an all-zero vector to all-zero codes, not NaN") {
    val s = spark
    import s.implicits._
    val r = Seq((0L, Array(0f, 0f, 0f)), (1L, Array(1f, -0.5f, 0f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), EmbeddingOps.quantizeInt8(col("embedding")).as("codes"))
      .orderBy("vec_id").collect()
    assert(r(0).getSeq[Long](1) === Seq(0L, 0L, 0L))
    assert(r(1).getSeq[Long](1) === Seq(127L, -64L, 0L))
  }

  test("dupClusters merges chains through pair endpoints absent from docs") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, "a"), (5L, "b")).toDF("doc_id", "text")
    // 1 and 5 connect ONLY through relay id 3, which is not in docs
    val pairs = Seq((1L, 3L), (3L, 5L)).toDF("a_id", "b_id")
    val r = Dedup.dupClusters(d, pairs).orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.toSeq === Seq((1L, 1L, 2L), (5L, 1L, 2L)),
      s"relay chain not merged: ${r.toSeq}")
  }

  test("lsh_bands rejects a band count that does not divide numHashes") {
    intercept[IllegalArgumentException] {
      graft.functions.text.lsh_bands(col("sig"), numHashes = 64, bands = 12)
    }
  }

  test("jacobiEigen recovers a known symmetric eigensystem") {
    // [[2,1],[1,2]] has eigenvalues 3 and 1
    val (vals, vecs) = EmbeddingOps.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(vals.sorted.zip(Seq(1.0, 3.0)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    // columns are orthonormal
    val dot = vecs(0)(0) * vecs(0)(1) + vecs(1)(0) * vecs(1)(1)
    assert(math.abs(dot) < 1e-12)
  }

  test("whitening from exact moments drives the sample covariance to identity") {
    val s = spark
    import s.implicits._
    // anisotropic synthetic embeddings: correlated dims, distinct scales
    val rnd = new scala.util.Random(31)
    val rows = (0 until 400).map { i =>
      val a = rnd.nextGaussian(); val b = rnd.nextGaussian(); val c = rnd.nextGaussian()
      (i.toLong, Array((2 * a).toFloat, (a + 0.5 * b).toFloat, (0.2 * c + 1).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val moments = EmbeddingOps.momentsFixedPoint(df)
    val (w, mean) = EmbeddingOps.whiteningTransform(moments)
    val d = 3
    // apply W(x - mean) to the raw rows and measure the sample covariance
    val white = rows.map { case (_, v) =>
      Array.tabulate(d)(i =>
        (0 until d).map(k => w(i)(k) * (v(k) - mean(k))).sum)
    }
    val n = white.length.toDouble
    val mu = Array.tabulate(d)(i => white.map(_(i)).sum / n)
    for (i <- 0 until d; j <- 0 until d) {
      val cov = white.map(x => (x(i) - mu(i)) * (x(j) - mu(j))).sum / n
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(cov - want) < 0.05, s"cov($i,$j)=$cov")
    }
  }

  test("distributed whitenEmbeddings matches the driver-side transform") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(37)
    val rows = (0 until 100).map { i =>
      val a = rnd.nextGaussian()
      (i.toLong, Array((2 * a).toFloat, (a + rnd.nextGaussian()).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val (w, mean) = EmbeddingOps.whiteningTransform(
      EmbeddingOps.momentsFixedPoint(df))
    val got = EmbeddingOps.whitenEmbeddings(df)
      .orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).toArray)
    rows.zip(got).foreach { case ((_, v), g) =>
      for (i <- 0 until 2) {
        val want = (0 until 2).map(k => w(i)(k) * (v(k) - mean(k))).sum.toFloat
        assert(math.abs(g(i) - want) < 1e-6f, s"row ${v.toSeq}: got ${g.toSeq}")
      }
    }
  }

  test("hard negatives exclude same-label vectors and self, rank by distance") {
    val s = spark
    import s.implicits._
    val vecs = randomVectors(60, 8, seed = 21)
    val corpus = vecs.map { case (id, v) => (id, v, (id % 3).toInt) }
      .toDF("id", "vec", "label")
    val queries = vecs.take(3).map { case (id, v) => (id, v, (id % 3).toInt) }
      .toDF("qid", "qvec", "q_label")
    val got = Similarity.hardNegatives(queries, corpus, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.length === 12) // 3 queries x k
    got.foreach { case (qid, id, _, _) =>
      assert(id !== qid)
      assert(id % 3 !== qid % 3, s"same-label negative: q$qid -> $id")
    }
    // per-query ranks are 1..k by ascending distance
    got.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1 to 4))
      assert(sorted.map(_._3).toSeq === sorted.map(_._3).sorted.toSeq)
    }
  }

  test("count-filter bound: hist L1 <= 2x levenshtein on random string pairs") {
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(13)
    def randStr(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (_ <- 0 until 200) {
      val a = randStr(5 + rnd.nextInt(40)); val b = randStr(5 + rnd.nextInt(40))
      val l1 = graft.functions.TextKernels.histL1(
        graft.functions.TextKernels.charHist(UTF8String.fromString(a)),
        graft.functions.TextKernels.charHist(UTF8String.fromString(b)))
      assert(l1 <= 2 * lev(a, b), s"bound violated: '$a' vs '$b' l1=$l1 lev=${lev(a, b)}")
    }
  }

  test("edit-distance count filter keeps non-ASCII near-dups (per-char bins)") {
    val s = spark
    import s.implicits._
    // one edit swaps a 3-byte Euro sign for 'x': a BYTE histogram moves 4
    // bins and a 2d bound would drop the pair; per-character bins move 2
    val d = Seq(
      (0L, "€abcdefgh", "en"),
      (1L, "xabcdefgh", "en"))
      .toDF("doc_id", "text", "lang")
    val pairs = Dedup.editDistancePairs(d, maxDist = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs((0L, 1L)) === 1L, s"non-ASCII near-dup dropped: $pairs")
  }

  test("edit-distance maxDist=0 finds exact-duplicate pairs") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (0L, "identical text", "en"),
      (1L, "identical text", "en"),
      (2L, "different body", "en"))
      .toDF("doc_id", "text", "lang")
    val pairs = Dedup.editDistancePairs(d, maxDist = 0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    assert(pairs.toSeq === Seq(((0L, 1L), 0L)))
  }

  test("keep-best dedup ranks a null source LAST, matching the oracle") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (5L, "same text", null: String),
      (9L, "same text", "srcA"))
      .toDF("doc_id", "text", "source")
    val r = Dedup.exactKeepBest(d).collect()
    assert(r.length === 1)
    assert(r.head.getLong(0) === 9L, "null source must not win")
    assert(r.head.getString(1) === "srcA")
  }

  test("moments guard throws on out-of-range components and dirty rows") {
    val s = spark
    import s.implicits._
    val big = Seq((0L, Array(100f, 0f))).toDF("vec_id", "embedding")
    val e1 = intercept[org.apache.spark.SparkException] {
      EmbeddingOps.momentsFixedPoint(big).collect()
    }
    assert(e1.getMessage.contains("exact fixed-point range")
      || Option(e1.getCause).exists(_.getMessage.contains("exact fixed-point range")))
    val dirty = Seq((0L, Array(1f, 2f)), (1L, Array(1f))).toDF("vec_id", "embedding")
    val e2 = intercept[org.apache.spark.SparkException] {
      EmbeddingOps.momentsFixedPoint(dirty).collect()
    }
    assert(e2.getMessage.contains("wrong-length")
      || Option(e2.getCause).exists(_.getMessage.contains("wrong-length")))
  }

  test("edit-distance pairs match a brute-force levenshtein join") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val alphabet = "abcd"
    def randStr(n: Int) = (0 until n).map(_ => alphabet(rnd.nextInt(4))).mkString
    val base = (0L until 60L).map(i => (i, randStr(8 + rnd.nextInt(12)), "en"))
    val d = base.toDF("doc_id", "text", "lang")
    val got = Dedup.editDistancePairs(d, maxDist = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val brute = d.select(col("doc_id").as("a_id"), col("text").as("a_text"))
      .crossJoin(d.select(col("doc_id").as("b_id"), col("text").as("b_text")))
      .filter(col("a_id") < col("b_id"))
      .withColumn("dist", levenshtein(col("a_text"), col("b_text")).cast("long"))
      .filter(col("dist") <= 5)
      .select("a_id", "b_id", "dist")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got === brute)
  }
}

object PipelineSpec {
  /** Evaluation counter for the snapshot-once test: bumped by each pass
    * over the non-deterministic query RDD (local mode — tasks share the
    * JVM, so the object is the shared state). */
  val evalCount = new java.util.concurrent.atomic.AtomicInteger(0)
}
