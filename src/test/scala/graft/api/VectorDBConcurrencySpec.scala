package graft.api

import org.apache.spark.sql.functions._

import graft.{IndexConfig, SparkSpec}

/**
 * Two facades in one SparkSession driving full lifecycles CONCURRENTLY —
 * the multi-tenant serving shape `close()` exists for. Asserts: both
 * lifecycles complete against their own data, a closed facade's searches
 * stop recording while the survivor's keep recording and serving, and
 * both indices' epoch state files come out of the concurrent run
 * uncorrupted (re-loadable by a fresh EpochManager with the right active
 * pointer).
 */
class VectorDBConcurrencySpec extends SparkSpec {

  private val Dim = 8

  test("two facades build/search/close concurrently: no cross-talk, no leaks, clean state") {
    val base = java.nio.file.Files.createTempDirectory("graft-mt").toString
    val dbs = new Array[VectorDB](2)
    val tops = new Array[Long](2)
    val errs = new java.util.concurrent.CopyOnWriteArrayList[Throwable]()

    // ids are disjoint per facade (t*1000 offset): a search result from
    // the wrong index is unmistakable
    def lifecycle(t: Int): Unit = {
      val db = new VectorDB(spark, s"$base/tenant$t")
      dbs(t) = db
      db.createIndex(IndexConfig(s"idx$t", Dim, nlist = 4))
      val vecs = vectorsDF(randomVectors(200, Dim, seed = 42 + t)
        .map { case (i, v) => (i + t * 1000L, v) })
      val ep = db.buildEpoch(s"idx$t", vecs)
      db.activateEpoch(s"idx$t", ep)
      db.loadIndex(s"idx$t")
      val probe = randomVectors(1, Dim, seed = 42 + t).head._2
      (0 until 5).foreach { _ =>
        val hits = db.search(s"idx$t", queriesDF(Seq(7L -> probe)),
          topk = 5, nprobe = 4).collect()
        assert(hits.length === 5)
        hits.foreach(h => assert(h.getLong(1) / 1000L === t.toLong,
          s"facade $t got id ${h.getLong(1)} from the other tenant's index"))
      }
      tops(t) = db.search(s"idx$t", queriesDF(Seq(7L -> probe)),
        topk = 1, nprobe = 4).collect().head.getLong(1)
    }

    val threads = (0 until 2).map { t =>
      new Thread(() => {
        try lifecycle(t)
        catch { case e: Throwable => errs.add(e); () }
      }, s"facade-$t")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    // a hung lifecycle must be reported AS a hang, not surface later as a
    // null-facade NPE or a half-charged counter assertion
    assert(threads.forall(!_.isAlive),
      s"lifecycle thread(s) still running after 300s: " +
        threads.filter(_.isAlive).map(_.getName).mkString(","))
    assert(errs.isEmpty, s"concurrent lifecycles failed: ${errs}")

    // close facade 0 with searches of both facades built but not run: a
    // resident batch and a flood above MaxStaticBatch. The closed facade's
    // searches still answer but record nothing; the survivor's record
    // each execution and it KEEPS SERVING
    val flood = queriesDF(randomVectors(
      graft.index.IvfFlatIndex.MaxStaticBatch + 76, Dim, seed = 44))
    val pending = (0 until 2).map { t =>
      val probe = randomVectors(1, Dim, seed = 42 + t).head._2
      Seq(dbs(t).search(s"idx$t", queriesDF(Seq(7L -> probe)), topk = 5, nprobe = 4),
        dbs(t).search(s"idx$t", flood, topk = 5, nprobe = 4))
    }
    def recorded(t: Int): (Any, Long) = {
      org.apache.spark.sql.graftshims.drainListenerBus(spark)
      (dbs(t).metrics(s"idx$t")("searches_total"),
        dbs(t).hotLists(s"idx$t", topN = 1000).map(_._2).sum)
    }
    val before = (0 until 2).map(recorded)
    dbs(0).close()
    pending.flatten.foreach(df => assert(df.collect().nonEmpty))
    assert(recorded(0) === before(0), "a closed facade's searches still recorded")
    val (n1, hits1) = before(1)
    assert(recorded(1) === ((n1.asInstanceOf[Long] + 2L, hits1 + 4L)),
      "the open facade must record both of its searches")
    val probe1 = randomVectors(1, Dim, seed = 43).head._2
    val after = dbs(1).search("idx1", queriesDF(Seq(9L -> probe1)),
      topk = 1, nprobe = 4).collect().head.getLong(1)
    assert(after === tops(1), "the surviving facade must serve identically after the peer's close")
    dbs(1).close()

    // epoch state files survived the concurrent run: a FRESH manager per
    // index loads them, lists exactly one epoch, and the active pointer
    // names it (the EpochManager lock's real-world shape)
    for (t <- 0 until 2) {
      val em = new graft.storage.EpochManager(s"$base/tenant$t/idx$t/epochs")
      assert(em.listEpochs.size === 1, s"tenant $t epoch list corrupted")
      assert(em.activeEpoch === Some(em.listEpochs.head),
        s"tenant $t active pointer corrupted")
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(em.epochPath(em.listEpochs.head))))
    }
  }

  test("two facades over ONE dataPath: interleaved appends never lose a bounds contribution") {
    // round 20 (r19 verdict #1, the two-writer criterion): both facades
    // append far-out batches in interleaved rounds; the persisted bounds
    // are maintained as commutative per-list-max DELTA files
    // (IvfFlatIndex.appendBoundsDelta), so the final fold must equal the
    // TRUE per-list max over build + every batch from both writers — a
    // lost contribution would leave an under-sized bound and the range
    // query below would falsely dismiss a far appended row.
    val base = java.nio.file.Files.createTempDirectory("graft-xw").toString
    val db1 = new VectorDB(spark, base)
    val db2 = new VectorDB(spark, base)
    db1.createIndex(IndexConfig("xw", Dim, nlist = 4))
    val ep = db1.buildEpoch("xw",
      vectorsDF(randomVectors(200, Dim, seed = 11)))
    db1.activateEpoch("xw", ep)
    db1.loadIndex("xw")
    db2.loadIndex("xw")
    val errs = new java.util.concurrent.CopyOnWriteArrayList[Throwable]()
    // facade t appends 3 rounds of rows pushed progressively FARTHER out
    // (distance grows with round and differs per facade, so each batch's
    // max is distinguishable and the true final max needs BOTH writers)
    def appender(t: Int, db: VectorDB): Unit = (0 until 3).foreach { r =>
      val far = (0 until 4).map { j =>
        val v = Array.fill(Dim)(0f)
        v(j % Dim) = 20f + 10f * r + 5f * t
        (9000L + t * 100L + r * 10L + j, v)
      }
      val n = db.addVectors("xw", vectorsDF(far))
      assert(n === 4L)
    }
    val threads = Seq((0, db1), (1, db2)).map { case (t, db) =>
      new Thread(() => {
        try appender(t, db)
        catch { case e: Throwable => errs.add(e); () }
      }, s"appender-$t")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(threads.forall(!_.isAlive), "an appender hung")
    assert(errs.isEmpty, s"interleaved appends failed: $errs")
    // ground truth: per-list max member-to-centroid L2 over EVERYTHING
    // that landed, vs the folded persisted table
    val epPath = new graft.storage.EpochManager(s"$base/xw/epochs").epochPath(ep)
    val cents = graft.index.IvfFlatIndex.readCentroidTable(spark, s"$epPath/centroids")
    val want = Array.fill(4)(0.0)
    spark.read.parquet(s"$epPath/vectors")
      .select("id", "vec", "list_id").collect().foreach { r =>
        val v = r.getSeq[Float](1).toArray
        val l = r.getInt(2)
        want(l) = math.max(want(l),
          math.sqrt(graft.functions.VectorKernels.l2(v, cents(l))))
      }
    val got = graft.index.IvfFlatIndex.readListRadiiTable(spark, s"$epPath/radii", 4)
    (0 until 4).foreach { l =>
      assert(got(l) >= want(l) - 1e-4,
        s"list $l folded radius ${got(l)} under-covers true max ${want(l)} " +
          "— a writer's contribution was lost")
      assert(got(l) <= want(l) + math.max(1e-4, want(l) * 1e-6),
        s"list $l folded radius ${got(l)} exceeds true max ${want(l)} " +
          "— the fold must be exact when every append succeeded")
    }
    // functional check through BOTH facades: the farthest row of EACH
    // writer is found by an exact range query (radius slightly above its
    // distance; rangeSearch is exact via the covering-ball bound, so a
    // lost bound contribution would dismiss it)
    for ((db, t) <- Seq((db1, 0), (db2, 1))) {
      val probe = Array.fill(Dim)(0f)
      probe(3 % Dim) = 20f + 10f * 2 + 5f * t
      val hits = db.rangeSearch("xw", queriesDF(Seq(1L -> probe)), radius = 1.0)
        .collect().map(_.getLong(1)).toSet
      assert(hits.contains(9000L + t * 100L + 2 * 10L + 3),
        s"writer $t's farthest appended row was falsely dismissed")
    }
    db1.close(); db2.close()
  }
}
