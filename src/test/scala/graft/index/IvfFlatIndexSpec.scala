package graft.index

import org.apache.spark.sql.functions._

import graft.{Metric, SearchParams, SparkSpec}
import graft.kmeans.Lloyd

class IvfFlatIndexSpec extends SparkSpec {

  private lazy val data = randomVectors(1000, 16)
  private lazy val queries = randomVectors(10, 16, seed = 12345)
  private lazy val index = IvfFlatIndex.build(spark, vectorsDF(data), nlist = 8)

  test("Lloyd training is deterministic across runs (seed 42)") {
    val sample = data.map(_._2).toArray
    val c1 = Lloyd.train(sample, 8)
    val c2 = Lloyd.train(sample, 8)
    assert(c1.map(_.toSeq) === c2.map(_.toSeq))
  }

  test("empty clusters keep their previous centroid") {
    // two far groups, k=3 -> at least one centroid may starve; never NaN
    val sample = (Array.fill(50)(Array(0f, 0f)) ++ Array.fill(50)(Array(10f, 10f)))
    val cents = Lloyd.train(sample, 3)
    assert(cents.forall(_.forall(x => !x.isNaN)))
    assert(cents.length === 3)
  }

  test("assign puts every vector in a valid list") {
    val assigned = index.vectors
    assert(assigned.filter(col("list_id") < 0 || col("list_id") >= 8).count() === 0)
    assert(assigned.count() === 1000)
  }

  test("IVF search with nprobe = nlist equals exact brute force (the §5.1 differential)") {
    val q = queriesDF(queries)
    val ivf = index.search(q, SearchParams(k = 10, nprobe = 8)).collect()
    val exact = index.searchExact(q, 10).collect()
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getInt(3))
    assert(ivf.map(r => (key(r), r.getLong(1), r.getDouble(2))).sortBy(_._1) ===
      exact.map(r => (key(r), r.getLong(1), r.getDouble(2))).sortBy(_._1))
  }

  test("IVF search recall@10 vs exact oracle is high at nprobe=4/8 lists") {
    val q = queriesDF(queries)
    val ivf = index.search(q, SearchParams(k = 10, nprobe = 4)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = index.searchExact(q, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall@10 was $recall")
  }

  test("per-request metric override wins over the index default (SURVEY §3.4)") {
    val q = queriesDF(queries.take(2))
    val l2 = index.search(q, SearchParams(k = 5, nprobe = 8))
    val ip = index.search(q, SearchParams(k = 5, nprobe = 8, metric = Some(Metric.InnerProduct)))
    val l2d = l2.collect().map(_.getDouble(2))
    val ipd = ip.collect().map(_.getDouble(2))
    assert(l2d.forall(_ >= 0.0)) // squared L2 is non-negative
    assert(ipd.exists(_ < 0.0)) // negated dot products go negative
  }

  test("search results are (dist, id)-ordered with rank 1..k") {
    val q = queriesDF(queries.take(3))
    val rows = index.search(q, SearchParams(k = 10, nprobe = 8))
      .orderBy("qid", "rank").collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val ranks = rs.map(_.getInt(3)).toSeq
      assert(ranks === (1 to ranks.size))
      val pairs = rs.map(r => (r.getDouble(2), r.getLong(1))).toSeq
      assert(pairs === pairs.sorted)
    }
  }

  test("mergeResults dedups by id keeping the best distance (S5)") {
    val s = spark
    import s.implicits._
    val cands = Seq(
      (1L, 10L, 0.5), (1L, 10L, 0.3), (1L, 11L, 0.4), (1L, 12L, 0.6))
      .toDF("qid", "id", "dist")
    val merged = Knn.mergeResults(cands, k = 2).orderBy("rank").collect()
    assert(merged.map(r => (r.getLong(1), r.getDouble(2))).toSeq ===
      Seq((10L, 0.3), (11L, 0.4)))
  }

  test("static path plans the list-scan top-k operator; flood path the broadcast-probe one") {
    val q = queriesDF(queries)
    // small batch -> static path: the pruned scan feeds the per-list scan
    // + top-k operator directly — no candidate join exists in the plan
    val plan = index.search(q, SearchParams(k = 10, nprobe = 2))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ListScanTopK"), s"static path missing operator:\n$plan")
    assert(!plan.contains("Join"), s"static path should be join-free:\n$plan")
    assert(!plan.startsWith("!") && !plan.contains("\n!"),
      s"plan contains an invalid (!) node:\n$plan")
    // distributed flood path (round 7): below the gate the probed side
    // ships through the lazy broadcast exchange into the stable scan
    // operator — no candidate join, no cartesian blowup, corpus unshuffled
    val joinPlan = index.searchWhere(q, SearchParams(k = 10, nprobe = 2), None,
      IvfFlatIndex.ForceJoin).queryExecution.executedPlan.toString
    assert(joinPlan.contains("BroadcastProbeTopK"),
      s"flood path missing the broadcast-probe operator:\n$joinPlan")
    assert(joinPlan.contains("BroadcastExchange IdentityBroadcastMode"),
      s"flood path should broadcast the probed rows via the exchange:\n$joinPlan")
    assert(!joinPlan.contains("Join"), s"flood path should be join-free:\n$joinPlan")
    assert(!joinPlan.contains("CartesianProduct"))
    assert(!joinPlan.startsWith("!") && !joinPlan.contains("\n!"),
      s"plan contains an invalid (!) node:\n$joinPlan")
  }

  test("distance kernel evaluates ONCE per candidate — never inside a join condition") {
    // a `filter(dist.isNotNull)` above the scoring Project used to be
    // substituted into the probe join's condition by predicate pushdown,
    // running the whole distance expression twice per candidate row; the
    // null skip now lives inside PartialTopKExec instead
    val q = queriesDF(queries)
    for ((df, label) <- Seq(
        (index.search(q, SearchParams(k = 10, nprobe = 2)), "static"),
        (index.searchWhere(q, SearchParams(k = 10, nprobe = 2), None,
          IvfFlatIndex.ForceJoin), "join"))) {
      val plan = df.queryExecution.executedPlan.toString
      for (kernel <- Seq("distance_to_query", "l2_distance", "vectordistance"))
        assert(!plan.toLowerCase.contains(s"isnotnull($kernel"),
          s"$label plan re-evaluates the distance kernel in a null check:\n$plan")
    }
    // brute-force exact, bounded batch: the kernel moved INSIDE the
    // list-scan operator (one virtual list) — no distance expression may
    // appear in the plan at all
    val exactPlan = index.searchExact(q, 5).queryExecution.executedPlan.toString
    assert(exactPlan.contains("ListScanTopK"), s"static exact plan:\n$exactPlan")
    assert(!exactPlan.toLowerCase.contains("_distance("),
      s"static exact plan should carry no distance expression:\n$exactPlan")
    // unbounded fallback, below the gate (round 7): the batch ships
    // through the broadcast exchange into the stable scan operator — no
    // distance expression in the plan at all
    val wide = queriesDF(randomVectors(IvfFlatIndex.MaxStaticBatch + 8, 16, seed = 321))
    val bcPlan = Knn.exact(wide, index.vectors.select("id", "vec"), 5)
      .queryExecution.executedPlan.toString
    assert(bcPlan.contains("BroadcastProbeTopK"), s"bounded-flood exact plan:\n$bcPlan")
    assert("_distance\\(".r.findAllIn(bcPlan).isEmpty,
      s"bounded-flood exact plan should carry no distance expression:\n$bcPlan")
    // unbounded fallback ABOVE the gate (r21: the salted co-partition
    // scan, one virtual list): the kernel lives inside the scalac scoring
    // loop, so NO distance expression may appear in the plan — and no
    // per-pair candidate rows through a join either (the r20 cross-join
    // shape materialized every (query, vector) pair in generated code).
    // With Spark's own auto-broadcast disabled too, any BroadcastExchange
    // in the plan could only come from a planted hint — there must be none
    val conf = spark.conf
    val autoKey = "spark.sql.autoBroadcastJoinThreshold"
    val oldGate = conf.getOption(IvfFlatIndex.BroadcastGateKey)
    val oldAuto = conf.getOption(autoKey)
    try {
      conf.set(IvfFlatIndex.BroadcastGateKey, "1")
      conf.set(autoKey, "-1")
      val joinPlan = Knn.exact(wide, index.vectors.select("id", "vec"), 5)
        .queryExecution.executedPlan.toString
      assert("_distance\\(".r.findAllIn(joinPlan).isEmpty,
        s"above-gate exact plan should carry no distance expression:\n$joinPlan")
      assert(!joinPlan.contains("NestedLoop") && !joinPlan.contains("CartesianProduct"),
        s"above-gate exact plan must not materialize per-pair rows:\n$joinPlan")
      assert(!joinPlan.contains("BroadcastExchange"),
        s"above-gate exact plan must not broadcast the query set:\n$joinPlan")
    } finally {
      oldGate.fold(conf.unset(IvfFlatIndex.BroadcastGateKey))(
        conf.set(IvfFlatIndex.BroadcastGateKey, _))
      oldAuto.fold(conf.unset(autoKey))(conf.set(autoKey, _))
    }
  }

  test("epoch write + read roundtrip preserves list partitioning") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-epoch").toString
    IvfFlatIndex.writeEpoch(index.vectors, s"$tmp/vectors")
    val back = IvfFlatIndex.readEpoch(spark, s"$tmp/vectors")
    assert(back.count() === 1000)
    assert(back.columns.toSet === Set("id", "vec", "list_id"))
    // pruned read touches only the probed partition directories
    val pruned = back.filter(col("list_id") === 3)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") || pruned.count() ==
      index.vectors.filter(col("list_id") === 3).count())

    // the driver-side listing must open exactly what spark.read.parquet
    // opens: over an appended epoch, and past the leftovers a finished,
    // crashed or in-flight write leaves (_SUCCESS, .crc, _temporary/)
    val root = new java.io.File(s"$tmp/vectors")
    IvfFlatIndex.appendToEpoch(
      index.vectors.filter(col("id") < 50).withColumn("id", col("id") + 5000L),
      root.getPath)
    val list1 = new java.io.File(root, "list_id=1")
    val part = list1.listFiles().find(_.getName.endsWith(".parquet")).get
    val stale = new java.io.File(root, "_temporary/0/list_id=1")
    assert(stale.mkdirs())
    java.nio.file.Files.copy(part.toPath, new java.io.File(stale, "part-x.parquet").toPath)
    java.nio.file.Files.write(new java.io.File(root, "_SUCCESS").toPath, Array.emptyByteArray)
    java.nio.file.Files.copy(part.toPath, new java.io.File(list1, ".part-x.parquet.crc").toPath)

    val epoch = IvfFlatIndex.readEpoch(spark, root.getPath)
    val old = spark.read.parquet(root.getPath)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "list_id", "vec").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2))).sortBy(_._1).toSeq
    assert(rows(epoch).length === 1050)
    assert(rows(epoch) === rows(old))
    assert(epoch.inputFiles.sorted.toSeq === old.inputFiles.sorted.toSeq)
    assert(!epoch.inputFiles.exists(f => f.contains("_temporary") || f.endsWith(".crc")))
    assert(epoch.schema("list_id").dataType === org.apache.spark.sql.types.IntegerType)
    val relation = epoch.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
    }.get.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
    assert(relation.partitionSchema.fieldNames.toSeq === Seq("list_id"))
    val inFilter = epoch.filter(col("list_id").isin(1, 3))
    val inPlan = inFilter.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*list_id".r.findFirstIn(inPlan).isDefined, inPlan)
    assert(inFilter.count() === old.filter(col("list_id").isin(1, 3)).count())
    // refresh() re-lists (through Spark, the pre-filled listing is dropped)
    IvfFlatIndex.appendToEpoch(
      index.vectors.filter(col("id") < 7).withColumn("id", col("id") + 6000L),
      root.getPath)
    assert(epoch.count() === 1050)
    relation.location.refresh()
    assert(epoch.count() === 1057)
  }

  test("null vectors never enter the top-k (nulls would win an ascending sort)") {
    val s = spark
    import s.implicits._
    val withNulls = data.take(50).map { case (i, v) => (i, v) }
      .toDF("id", "vec")
      .unionAll(Seq((999L, null.asInstanceOf[Array[Float]])).toDF("id", "vec"))
    val res = Knn.exact(queriesDF(queries.take(2)), withNulls, 5)
    assert(res.filter(col("id") === 999L).count() === 0)
    assert(res.count() === 10)
  }

  test("exactManaged release destroys the batch broadcast after consumption") {
    // managed contract: consume the result, then release(); the released
    // plan must not be the caller's problem afterwards, and release must
    // be a no-op-safe call on the unbounded paths too
    val (res, release) = Knn.exactManaged(queriesDF(queries.take(2)), vectorsDF(data), 5)
    val rows = res.collect()
    assert(rows.length === 10)
    release() // bounded-batch path: destroys the query broadcast
    val exact = Knn.exact(queriesDF(queries.take(2)), vectorsDF(data), 5)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    assert(rows.map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet === exact)
  }

  test("a null qid in a bounded batch drops the row like the flood paths, never NPEs") {
    val s = spark
    import s.implicits._
    val qs2 = Seq((java.lang.Long.valueOf(1L), queries.head._2),
      (null.asInstanceOf[java.lang.Long], queries(1)._2))
      .toDF("qid", "qvec")
    // bounded path (2 rows << MaxStaticBatch): must serve qid 1 and drop
    // the null-qid row — Row.getLong on a null previously threw a raw
    // NPE here while the >1024-row flood silently skipped it
    val res = index.search(qs2, SearchParams(k = 3, nprobe = 2)).collect()
    assert(res.nonEmpty)
    assert(res.forall(_.getLong(0) == 1L))
  }

  test("pathological skew: every vector in one list still searches correctly") {
    // centroids far from all data -> argmin sends everything to list 0
    val far = Array.fill(16)(1000f)
    val near = Array.fill(16)(1001f)
    val cents = IvfFlatIndex.broadcastCentroids(spark, Array(far, near))
    val skewed = new IvfFlatIndex(
      spark, IvfFlatIndex.assign(vectorsDF(data), cents), cents, Metric.L2)
    val lists = skewed.vectors.select("list_id").distinct().collect().map(_.getInt(0))
    assert(lists.toSeq === Seq(0)) // total skew
    val res = skewed.search(queriesDF(queries.take(3)), SearchParams(k = 5, nprobe = 1))
    assert(res.count() === 15)
    // matches exact since everything lives in the probed list
    val exact = skewed.searchExact(queriesDF(queries.take(3)), 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = res.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === exact)
  }

  test("static and join probe strategies return bit-identical results") {
    val q = queriesDF(queries)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2))
    val static = index.searchWhere(q, SearchParams(k = 7, nprobe = 3), None,
      IvfFlatIndex.ForceStatic).collect().map(key).sortBy(x => (x._1, x._2))
    val join = index.searchWhere(q, SearchParams(k = 7, nprobe = 3), None,
      IvfFlatIndex.ForceJoin).collect().map(key).sortBy(x => (x._1, x._2))
    assert(static === join)
  }

  test("ForceStatic snapshots the whole batch (no silent truncation above the threshold)") {
    // all 1000 vectors as queries with ForceStatic: results must cover
    // every qid, proving the snapshot wasn't cut at MaxStaticBatch+1
    val q = queriesDF(data.map { case (i, v) => (i, v) })
    val res = index.searchWhere(q, SearchParams(k = 1, nprobe = 8), None,
      IvfFlatIndex.ForceStatic)
    assert(res.select("qid").distinct().count() === 1000)
  }

  test("filtered ANN: predicate + probe pruning in one plan, exhaustive probe == filtered exact") {
    val s = spark
    import s.implicits._
    // corpus with a label column riding alongside (id, vec)
    val labeled = data.map { case (i, v) => (i, v, (i % 3).toInt) }
      .toDF("id", "vec", "label")
    val cents = IvfFlatIndex.train(spark, labeled.select("id", "vec"), 8)
    val bc = IvfFlatIndex.broadcastCentroids(spark, cents)
    val idx = new IvfFlatIndex(spark, IvfFlatIndex.assign(labeled, bc), bc, Metric.L2)
    val q = queriesDF(queries)
    val filtered = idx.searchWhere(q, SearchParams(k = 5, nprobe = 8), Some(col("label") === 1))
      .collect().map(r => ((r.getLong(0), r.getInt(3)), r.getLong(1))).toMap
    val exact = Knn.exact(q,
      labeled.filter(col("label") === 1).select("id", "vec"), 5, Metric.L2)
      .collect().map(r => ((r.getLong(0), r.getInt(3)), r.getLong(1))).toMap
    assert(filtered === exact)
    // every hit respects the predicate
    assert(filtered.values.forall(_ % 3 == 1))
  }

  test("small-batch search over an epoch table prunes partitions statically") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-epoch2").toString
    IvfFlatIndex.writeEpoch(index.vectors, s"$tmp/vectors")
    val epochIdx = new IvfFlatIndex(
      spark, IvfFlatIndex.readEpoch(spark, s"$tmp/vectors"), index.centroids, Metric.L2)
    val res = epochIdx.search(queriesDF(queries.take(4)), SearchParams(k = 5, nprobe = 2))
    res.collect()
    val plan = res.queryExecution.executedPlan.toString
    // the probe's list ids must reach the parquet scan as a partition IN-filter
    assert(plan.contains("PartitionFilters: [list_id"), s"no static pruning in:\n$plan")
    assert(plan.contains(" IN ("), s"no IN filter in:\n$plan")
  }
}
