package graft.index

import org.apache.spark.sql.functions._

import graft.{Metric, SparkSpec}
import graft.functions.VectorKernels

class RangeSearchSpec extends SparkSpec {

  private val dim = 16
  private lazy val corpus = randomVectors(300, dim, seed = 5)
  private lazy val queries = randomVectors(4, dim, seed = 9)

  private def brute(radius: Double, metric: Metric.Value) =
    (for {
      (qid, qv) <- queries
      (id, v) <- corpus
      d = VectorKernels.distance(qv, v, metric.id)
      if d <= radius
    } yield ((qid, id), d)).toMap

  test("range search returns exactly the pairs within the radius, all metrics") {
    for (m <- Seq(Metric.L2, Metric.InnerProduct, Metric.Cosine)) {
      // per-metric radius near each distribution's low tail
      val allD = for { (_, qv) <- queries; (_, v) <- corpus }
        yield VectorKernels.distance(qv, v, m.id)
      val radius = allD.sorted.apply(allD.size / 20) // ~5% selectivity
      val got = Knn.range(queriesDF(queries), vectorsDF(corpus), radius, m)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(got === brute(radius, m), s"metric $m radius $radius")
    }
  }

  test("null query vectors and null stored vectors yield no rows") {
    val s = spark
    import s.implicits._
    val qs = Seq((0L, queries.head._2), (1L, null: Array[Float])).toDF("qid", "qvec")
    val vs = Seq((0L, corpus.head._2), (1L, null: Array[Float])).toDF("id", "vec")
    val got = Knn.range(qs, vs, Double.MaxValue).collect()
    assert(got.length === 1) // only the (0, 0) live pair
    assert(got.head.getLong(0) === 0L && got.head.getLong(1) === 0L)
  }

  test("the distance kernel appears once in the join condition (no conjunct substitution)") {
    val plan = Knn.range(queriesDF(queries), vectorsDF(corpus), 1.0)
      .queryExecution.executedPlan.toString
    val joinLine = plan.linesIterator.find(_.contains("NestedLoopJoin")).getOrElse("")
    val kernelCount = "l2_distance".r.findAllIn(joinLine).size
    assert(kernelCount === 1, s"distance evaluated $kernelCount times per pair:\n$plan")
  }

  test("IVF range search is bit-identical to the brute-force scan") {
    val index = IvfFlatIndex.build(spark, vectorsDF(corpus), nlist = 8)
    val allD = for { (_, qv) <- queries; (_, v) <- corpus }
      yield VectorKernels.distance(qv, v, Metric.L2.id)
    val radius = allD.sorted.apply(allD.size / 20)
    val got = index.rangeSearch(queriesDF(queries), radius)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got === brute(radius, Metric.L2))
  }

  test("IVF range search keeps a member at exactly the radius (near-collinear triple)") {
    // one list with centroid c and member v; q nearly collinear with
    // them; the radius is q's exact distance to v. In doubles the
    // unwidened covering-ball test exceeded its right side by 1.8e-15 and
    // pruned the list, so the index returned nothing where Knn.range
    // returns the pair
    val c = Array(-0.35221314f, -3.2634487f)
    val v = Array(-6.136591f, -0.77524078f)
    val q = Array(-12.065843f, 1.7752861f)
    val radius = VectorKernels.l2(q, v)
    val bc = IvfFlatIndex.broadcastCentroids(spark, Array(c))
    val index = new IvfFlatIndex(spark,
      IvfFlatIndex.assign(vectorsDF(Seq((1L, v))), bc), bc, Metric.L2)
    val want = Knn.range(queriesDF(Seq((7L, q))), vectorsDF(Seq((1L, v))), radius)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(want === Seq((7L, 1L, radius)))
    val got = index.rangeSearch(queriesDF(Seq((7L, q))), radius)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === want)
  }

  test("IP range search via the Cauchy-Schwarz ball bound: exact, prunes a far cluster, negative radii valid") {
    // round 16: IP is not a metric, but the L2 covering ball bounds the
    // dot exactly (c.q + R*||q|| >= -r keeps a list) — exact vs brute
    val idx = IvfFlatIndex.build(spark, vectorsDF(corpus), nlist = 8,
      metric = Metric.InnerProduct)
    val allD = for { (_, qv) <- queries; (_, v) <- corpus }
      yield VectorKernels.distance(qv, v, Metric.InnerProduct.id)
    val radius = allD.sorted.apply(allD.size / 20) // ~5%, typically < 0
    val got = idx.rangeSearch(queriesDF(queries), radius)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got === brute(radius, Metric.InnerProduct))
    // pruning: two well-separated clusters; queries near cluster A with a
    // bound only A's dots can meet must never probe B's lists
    val rnd = new scala.util.Random(11)
    def around(c: Float) = Array.fill(dim)(c + rnd.nextFloat() * 0.1f)
    val a = (0L until 100L).map(i => (i, around(2f)))
    val b = (100L until 200L).map(i => (i, around(-2f)))
    val cidx = IvfFlatIndex.build(spark, vectorsDF(a ++ b), nlist = 4,
      metric = Metric.InnerProduct)
    val qs = (0L until 3L).map(i => (i, around(2f))).toArray
    // dots: A ~ +4*dim, B ~ -4*dim — demand dot >= 2*dim (radius -2*dim)
    val ipRadius = -2.0 * dim
    val probed = cidx.rangeProbe(qs, ipRadius).map(_._2).toSet
    val bLists = cidx.vectors.filter(col("id") >= 100L)
      .select("list_id").distinct().collect().map(_.getInt(0)).toSet
    assert(probed.intersect(bLists).isEmpty,
      s"anti-correlated cluster's lists $bLists not pruned: probed $probed")
    val hits = cidx.rangeSearch(queriesDF(qs.toSeq), ipRadius)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (qid, qv) <- qs.toSeq; (id, v) <- a ++ b
      if VectorKernels.ip(qv, v) <= ipRadius
    } yield (qid, id)).toSet
    assert(hits === want && hits.nonEmpty)
  }

  test("covering-ball pruning skips lists that cannot intersect the query ball") {
    // two tight, well-separated clusters: queries sit in cluster A, so
    // cluster B's lists must be pruned from the probe pairs
    val rnd = new scala.util.Random(3)
    def jitter(center: Float) = Array.fill(dim)(center + rnd.nextFloat() * 0.1f)
    val a = (0L until 100L).map(i => (i, jitter(0f)))
    val b = (100L until 200L).map(i => (i, jitter(50f)))
    val index = IvfFlatIndex.build(spark, vectorsDF(a ++ b), nlist = 4)
    val qs = (0L until 3L).map(i => (i, jitter(0f))).toArray
    val radius = 4.0 // squared — tiny vs the ~(50*sqrt(dim))^2 gap
    val probed = index.rangeProbe(qs, radius).map(_._2).toSet
    val bLists = index.vectors.filter(col("id") >= 100L)
      .select("list_id").distinct().collect().map(_.getInt(0)).toSet
    assert(probed.intersect(bLists).isEmpty,
      s"far cluster's lists $bLists not pruned: probed $probed")
    // and the pruned search still finds every in-radius pair
    val got = index.rangeSearch(queriesDF(qs.toSeq), radius)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (qid, qv) <- qs.toSeq; (id, v) <- a ++ b
      if VectorKernels.l2(qv, v) <= radius
    } yield (qid, id)).toSet
    assert(got === want)
  }

  test("covering-radii table round-trips and presets without a corpus pass") {
    val index = IvfFlatIndex.build(spark, vectorsDF(corpus), nlist = 8)
    val radii = index.listRadii
    val path = java.nio.file.Files.createTempDirectory("graft-radii").toString + "/radii"
    IvfFlatIndex.writeListRadiiTable(spark, radii, path)
    val back = IvfFlatIndex.readListRadiiTable(spark, path, nlist = 8)
    assert(back.toSeq === radii.toSeq)
    val fresh = IvfFlatIndex.build(spark, vectorsDF(corpus), nlist = 8)
    fresh.presetListRadii(back)
    assert(fresh.listRadii eq back) // preset short-circuits the compute
  }

  test("appendBoundsDelta: lock-free concurrent writers commute, the fold loses no contribution") {
    // round 20 (r19 verdict #1): the cross-process safety argument rests
    // entirely on this op — a writer lands its batch maxes as a NEW file
    // and never reads shared state, so any interleaving of writers (two
    // threads here; two JVM processes in production — the filesystem is
    // the only shared state either way, and NO lock is taken anywhere in
    // this test) folds to the same per-list max. The pre-r20 in-place
    // read-merge-write would lose the loser's batch under exactly this
    // schedule.
    val nlist = 8
    val base = Array.tabulate(nlist)(_ / 10.0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-delta").toString + "/radii"
    IvfFlatIndex.writeListRadiiTable(spark, base, dir)
    val writers = 8
    val contrib: Seq[Array[Double]] = (0 until writers).map { w =>
      Array.tabulate(nlist)(l => if (l == w % nlist) 10.0 + w else 0.0)
    }
    val errs = new java.util.concurrent.CopyOnWriteArrayList[Throwable]()
    val threads = contrib.zipWithIndex.map { case (c, w) =>
      new Thread(() => {
        try IvfFlatIndex.appendBoundsDelta(spark, c, ("list_id", "radius"), dir)
        catch { case e: Throwable => errs.add(e); () }
      }, s"bounds-writer-$w")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(threads.forall(!_.isAlive), "a delta writer hung")
    assert(errs.isEmpty, s"concurrent delta writers failed: $errs")
    val folded = IvfFlatIndex.readListRadiiTable(spark, dir, nlist)
    val expect = Array.tabulate(nlist)(l =>
      (base(l) +: contrib.map(_(l))).max)
    assert(folded.toSeq === expect.toSeq,
      "the fold must see every writer's contribution")
    // poisons ride the fold: +Inf (the meta pass's out-of-tolerance
    // marker) survives any later, larger-looking delta
    IvfFlatIndex.appendBoundsDelta(spark,
      Array.fill(nlist)(0.0).updated(3, Double.PositiveInfinity),
      ("list_id", "radius"), dir)
    IvfFlatIndex.appendBoundsDelta(spark,
      Array.fill(nlist)(0.0).updated(3, 99.0), ("list_id", "radius"), dir)
    assert(IvfFlatIndex.readListRadiiTable(spark, dir, nlist)(3).isPosInfinity)
  }

  test("epoch-backed range search: persisted radii, append MERGES them, no false dismissal") {
    import graft.api.VectorDB
    import graft.{IndexConfig, Metric}
    val s = spark
    import s.implicits._
    val db = new VectorDB(spark,
      java.nio.file.Files.createTempDirectory("graft-range").toString)
    db.createIndex(IndexConfig("rng", dimension = dim, metric = Metric.L2, nlist = 4))
    val epoch = db.buildEpoch("rng", vectorsDF(corpus))
    db.activateEpoch("rng", epoch)
    db.loadIndex("rng")
    // radii table written at build time
    val path = s"${db.dataPath}/rng/epochs/$epoch/radii"
    assert(new java.io.File(path).exists, s"no radii table at $path")
    val radius = 2.0
    val got = db.rangeSearch("rng", queriesDF(queries), radius)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (qid, qv) <- queries; (id, v) <- corpus
      if VectorKernels.l2(qv, v) <= radius
    } yield (qid, id)).toSet
    assert(got === want)
    // append a vector that duplicates a query: it MUST appear in-range
    // even though it may grow its list beyond the build-time radius.
    // Round 19: the append MAINTAINS the persisted table (max(old,
    // batch) is exact for the union) instead of dropping it — the table
    // survives, carries the merged (possibly grown) bounds, and the
    // search stays pruned AND exact
    val preRadii = IvfFlatIndex.readListRadiiTable(spark, path, 4)
    val dupOfQuery = Seq((9000L, queries.head._2)).toDF("id", "vec")
    db.addVectors("rng", dupOfQuery)
    assert(new java.io.File(path).exists,
      "append must MAINTAIN the radii table, not drop it (round 19)")
    val postRadii = IvfFlatIndex.readListRadiiTable(spark, path, 4)
    assert(postRadii.zip(preRadii).forall { case (po, pr) => po >= pr },
      "merged radii can only grow")
    val after = db.rangeSearch("rng", queriesDF(queries.take(1)), radius)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after.contains((queries.head._1, 9000L)),
      s"appended in-radius vector falsely dismissed: $after")
  }

  test("facade rangeSearch on a non-L2 index reports InvalidArgumentException") {
    import graft.api.VectorDB
    import graft.{IndexConfig, InvalidArgumentException, Metric}
    val db = new VectorDB(spark,
      java.nio.file.Files.createTempDirectory("graft-range-cos").toString)
    db.createIndex(IndexConfig("cosrng", dimension = dim, metric = Metric.Cosine, nlist = 2))
    val epoch = db.buildEpoch("cosrng", vectorsDF(corpus.take(50)))
    db.activateEpoch("cosrng", epoch)
    db.loadIndex("cosrng")
    // no radii table was written for the cosine index (wasted pass guard)
    assert(!new java.io.File(s"${db.dataPath}/cosrng/epochs/$epoch/radii").exists)
    intercept[InvalidArgumentException] {
      db.rangeSearch("cosrng", queriesDF(queries.take(1)), 1.0)
    }
  }

  test("facade rangeSearch on an IP index: radii persisted, negative radius accepted, exact") {
    import graft.api.VectorDB
    import graft.{IndexConfig, InvalidArgumentException}
    val db = new VectorDB(spark,
      java.nio.file.Files.createTempDirectory("graft-range-ip").toString)
    db.createIndex(IndexConfig("iprng", dimension = dim,
      metric = Metric.InnerProduct, nlist = 2))
    val sub = corpus.take(50)
    val epoch = db.buildEpoch("iprng", vectorsDF(sub))
    db.activateEpoch("iprng", epoch)
    db.loadIndex("iprng")
    // round 16: IP epochs persist covering radii too (the ball bound
    // reads the same table the L2 path does)
    assert(new java.io.File(s"${db.dataPath}/iprng/epochs/$epoch/radii").exists,
      "IP epoch must persist the radii table")
    val qs = queries.take(2)
    val allD = for { (_, qv) <- qs; (_, v) <- sub }
      yield VectorKernels.distance(qv, v, Metric.InnerProduct.id)
    val radius = allD.sorted.apply(allD.size / 10)
    assert(radius < 0, s"fixture sanity: a selective IP radius is negative ($radius)")
    val got = db.rangeSearch("iprng", queriesDF(qs), radius)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val want = (for {
      (qid, qv) <- qs; (id, v) <- sub
      d = VectorKernels.ip(qv, v)
      if d <= radius
    } yield ((qid, id), d)).toMap
    assert(got === want && got.nonEmpty)
    // NaN is still rejected everywhere
    intercept[InvalidArgumentException] {
      db.rangeSearch("iprng", queriesDF(qs), Double.NaN)
    }
    db.close()
  }

  test("range_search driver-gate query is non-empty and radius-bounded on sf0.001") {
    val df = graft.queries.VectorQueries
      .queries("range_search")(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getDouble(2) <= 1.35))
  }
}
