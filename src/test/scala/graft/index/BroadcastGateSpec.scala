package graft.index

import org.apache.spark.sql.DataFrame

import graft.{SearchParams, SparkSpec}

/**
 * The broadcast size-gate contract for BOTH distributed flood paths
 * (flat [[IvfFlatIndex.searchJoinPruned]] and PQ [[IvfPqIndex.searchJoin]]):
 * below the gate the probed side ships through the lazy broadcast
 * exchange into [[BroadcastProbeTopK]] (the corpus scan stays
 * unshuffled); above it NOTHING is broadcast — the flood co-partitions
 * through [[CoGroupTopK]] instead of forcing an unbounded query set
 * through a driver-side broadcast. The PQ flood follows the same rule
 * for its ADC stage (broadcast-probing the codes scan below the gate,
 * co-partitioning it above), and the gate also governs its rerank
 * candidate join-back. Results are identical either way (plan-string
 * assert + hash equality).
 */
class BroadcastGateSpec extends SparkSpec {

  private val dim = 16
  private val nOver = IvfFlatIndex.MaxStaticBatch + 76 // a genuine flood batch
  private lazy val corpus = randomVectors(400, dim)
  private lazy val floodQueries = randomVectors(nOver, dim, seed = 777)
  private lazy val flat = IvfFlatIndex.build(spark, vectorsDF(corpus), nlist = 8)
  private lazy val pqIndex =
    IvfPqIndex.build(spark, vectorsDF(corpus), nlist = 8, m = 4, nbits = 6)

  private val GateKey = Sizing.BroadcastGateKey
  private val AutoKey = "spark.sql.autoBroadcastJoinThreshold"

  /** Run `body` with the gate and Spark's auto-broadcast threshold set,
    * restoring both afterwards (suites share one session). */
  private def withConf(gate: String, auto: String)(body: => Unit): Unit = {
    val conf = spark.conf
    val oldGate = conf.getOption(GateKey)
    val oldAuto = conf.getOption(AutoKey)
    try {
      conf.set(GateKey, gate)
      conf.set(AutoKey, auto)
      body
    } finally {
      oldGate.fold(conf.unset(GateKey))(conf.set(GateKey, _))
      oldAuto.fold(conf.unset(AutoKey))(conf.set(AutoKey, _))
    }
  }

  /** The initial (pre-AQE) physical plan — where an explicit hint always
    * surfaces as a BroadcastHashJoin and, with autoBroadcastJoinThreshold
    * disabled, its absence proves no hint was planted (AQE may still
    * re-promote at runtime with validation, which is the designed escape). */
  private def initialPlan(df: DataFrame): String = df.queryExecution.sparkPlan.toString

  private def key(r: org.apache.spark.sql.Row) =
    (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2))
  private def sortedKeys(df: DataFrame) = df.collect().map(key).sortBy(x => (x._1, x._2))

  test("flat flood co-partitions above the gate, broadcast-probes below it") {
    val qdf = queriesDF(floodQueries)
    val params = SearchParams(k = 5, nprobe = 4)
    withConf(gate = "1", auto = "-1") {
      val plan = initialPlan(flat.search(qdf, params)) // nOver > MaxStaticBatch -> flood path
      assert(!plan.contains("BroadcastProbeTopK") && !plan.contains("BroadcastExchange"),
        s"above-gate flood must not broadcast the probed side:\n$plan")
      assert(plan.contains("CoGroup"),
        s"above-gate flood should co-partition queries and corpus:\n$plan")
    }
    withConf(gate = (1L << 40).toString, auto = "-1") {
      val plan = initialPlan(flat.search(qdf, params))
      assert(plan.contains("BroadcastProbeTopK"),
        s"below-gate flood should take the broadcast-probe operator:\n$plan")
      assert(!plan.contains("CoGroup"),
        s"below-gate flood must not shuffle the corpus:\n$plan")
    }
  }

  test("flat flood results are identical above and below the gate, and match static") {
    val qdf = queriesDF(floodQueries)
    // k past the heap threshold (and past the 400-row corpus) sends the
    // co-partition scorer down TopKBuf's heap side
    for (k <- Seq(5, PartialTopK.HeapThreshold + 1)) {
      val params = SearchParams(k = k, nprobe = 8) // nprobe = nlist -> exact, fully determined
      val static = sortedKeys(flat.searchBatch(floodQueries.toArray, params))
      withConf(gate = "1", auto = "-1") {
        assert(sortedKeys(flat.search(qdf, params)) === static, s"k=$k")
        assert(sortedKeys(Knn.exact(qdf, vectorsDF(corpus), k)) === static, s"k=$k")
      }
      withConf(gate = (1L << 40).toString, auto = "-1") {
        assert(sortedKeys(flat.search(qdf, params)) === static, s"k=$k")
      }
    }
  }

  test("duplicated qids score exactly one qvec on every path (no cross-qvec top-k mixing)") {
    // two rows share each qid but carry DIFFERENT vectors; every path must
    // score exactly ONE qvec per qid (first-entry-wins) — the co-group
    // flood scorers previously buffered both and merged two different
    // query vectors' candidates into one top-k
    val dupes = floodQueries ++ floodQueries.take(200)
      .map { case (qid, v) => (qid, v.reverse) } // same scale, different direction
    val qdf = queriesDF(dupes)
    // nprobe < nlist: the two duplicates of a qid probe DIFFERENT list
    // sets, so a per-group dedup inside the co-group scorer cannot
    // prevent the mixing — only a global one-row-per-qid before the
    // probe explosion can
    val params = SearchParams(k = 5, nprobe = 2)
    def perQid(df: DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    // the reference answer: dedup to the FIRST qvec per qid, exact search
    val firstOnly = dupes.groupBy(_._1).map { case (_, vs) => vs.head }.toSeq
    val expected = perQid(flat.searchBatch(
      firstOnly.sortBy(_._1).toArray, params))
    withConf(gate = "1", auto = "-1") { // above-gate co-group flood
      val got = perQid(flat.search(qdf, params))
      // every qid's result set must equal SOME single-qvec answer; with
      // first-wins it equals the first occurrence in group order — assert
      // at minimum it never MIXES (result must match one of the two pure
      // answers per qid, and sizes stay k)
      val altOnly = dupes.reverse.groupBy(_._1).map { case (_, vs) => vs.head }.toSeq
      val altExpected = perQid(flat.searchBatch(altOnly.sortBy(_._1).toArray, params))
      got.foreach { case (q, ids) =>
        assert(ids == expected(q) || ids == altExpected(q),
          s"qid $q merged candidates from two different qvecs")
      }
    }
    // the static (bounded-batch) paths: each qid repeated with its reversed
    // vector must answer exactly as its first qvec alone — the probe index,
    // the PQ rerank map and the range query map all see one qvec per qid
    val first = floodQueries.take(200).toArray
    val staticDupes = first ++ first.map { case (qid, v) => (qid, v.reverse) }
    assert(sortedKeys(flat.searchBatch(staticDupes, params)) ===
      sortedKeys(flat.searchBatch(first, params)), "static flat searchBatch")
    for (rerank <- Seq(0, 20))
      assert(sortedKeys(pqIndex.searchBatch(staticDupes, params, rerank)) ===
        sortedKeys(pqIndex.searchBatch(first, params, rerank)),
        s"static pq searchBatch rerankK=$rerank")
    def rangeKeys(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(x => (x._1, x._2)).toSeq
    val radius = 4.0
    val rangeFirst = rangeKeys(flat.rangeSearch(queriesDF(first.toSeq), radius))
    assert(rangeFirst.nonEmpty, "radius too small to exercise the range path")
    assert(rangeKeys(flat.rangeSearch(queriesDF(staticDupes.toSeq), radius)) === rangeFirst,
      "static rangeSearch")
  }

  test("pq flood broadcast-probes below the gate, co-partitions above it") {
    val qdf = queriesDF(floodQueries)
    val params = SearchParams(k = 5, nprobe = 4)
    withConf(gate = "1", auto = "-1") {
      for (rerank <- Seq(0, 20)) {
        val plan = initialPlan(pqIndex.search(qdf, params, rerank))
        assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastProbeTopK"),
          s"above-gate PQ flood (rerankK=$rerank) must not broadcast:\n$plan")
        assert(plan.contains("CoGroup"),
          s"above-gate PQ flood (rerankK=$rerank) should co-partition the codes scan:\n$plan")
      }
    }
    withConf(gate = (1L << 40).toString, auto = "-1") {
      // ADC-only: probed rows through the lazy exchange into the stable
      // scan operator — the codes scan never shuffles, no candidate join
      val adcPlan = initialPlan(pqIndex.search(qdf, params, 0))
      assert(adcPlan.contains("BroadcastProbeTopK") && !adcPlan.contains("CoGroup"),
        s"below-gate ADC-only PQ flood should broadcast-probe the codes scan:\n$adcPlan")
      assert(!adcPlan.contains("Join"), s"below-gate ADC-only should be join-free:\n$adcPlan")
      // rerank: the id-only ADC winners broadcast into the raw-payload
      // join-back so the (100 TB) raw scan stays unshuffled
      val rrDf = pqIndex.search(qdf, params, 20)
      val rrPlan = initialPlan(rrDf)
      assert(rrPlan.contains("BroadcastProbeTopK") && rrPlan.contains("BroadcastHashJoin"),
        s"below-gate PQ rerank should broadcast-probe ADC and hint the join-back:\n$rrPlan")
      // the broadcast rerank join leaves the merge exchange in the plan,
      // so no round-robin materialization barrier is added on top of it
      assert(roundRobinExchanges(rrDf) === 0,
        s"below-gate PQ rerank must not add the round-robin barrier:\n$rrPlan")
    }
    withConf(gate = "1", auto = "-1") {
      // above the gate the shuffled-hash rerank join can satisfy the
      // merge's clustering, so the barrier stays
      val rrDf = pqIndex.search(qdf, params, 20)
      assert(roundRobinExchanges(rrDf) >= 1,
        s"above-gate PQ rerank must keep the round-robin barrier:\n${initialPlan(rrDf)}")
    }
  }

  /** Round-robin materialization barriers in the initial physical plan:
    * shuffles directly on top of the final merge (a one-partition
    * round robin plans as SinglePartition). */
  private def roundRobinExchanges(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.child.isInstanceOf[RankTopKExec] => e
    }.size

  test("pq flood results are bit-identical above/below the gate and vs static") {
    val qdf = queriesDF(floodQueries)
    for {
      rerank <- Seq(0, 20)
      metric <- Seq(None, Some(graft.Metric.InnerProduct), Some(graft.Metric.Cosine))
    } {
      val params = SearchParams(k = 5, nprobe = 4, metric = metric)
      val static = sortedKeys(pqIndex.searchBatch(floodQueries.toArray, params, rerank))
      withConf(gate = "1", auto = "-1") {
        assert(sortedKeys(pqIndex.search(qdf, params, rerank)) === static,
          s"above-gate diverges at rerankK=$rerank metric=$metric")
      }
      withConf(gate = (1L << 40).toString, auto = "-1") {
        assert(sortedKeys(pqIndex.search(qdf, params, rerank)) === static,
          s"below-gate diverges at rerankK=$rerank metric=$metric")
      }
    }
  }

  test("flood co-partition salting is lossless across salt values (flat + pq)") {
    // above-gate floods split every list into S sub-buckets (corpus rows
    // by id hash, queries replicated) so a skewed hot list becomes S
    // tasks; each candidate lands in exactly ONE sub-bucket, so results
    // must be bit-identical at any salt — including salt 1 (no split)
    val uniq = IvfFlatIndex.onePerQid(queriesDF(floodQueries))
    val params = SearchParams(k = 5, nprobe = 8) // nprobe = nlist -> fully determined
    val flatStatic = sortedKeys(flat.searchBatch(floodQueries.toArray, params))
    val flatProbed = IvfFlatIndex.probeRows(uniq, flat.centroids, params.nprobe, flat.metric)
    val pqParams = SearchParams(k = 5, nprobe = 4)
    val pqStatic = sortedKeys(pqIndex.searchBatch(floodQueries.toArray, pqParams))
    val pqProbed =
      IvfFlatIndex.probeRows(uniq, pqIndex.centroids, pqParams.nprobe, pqIndex.metric)
    for (salt <- Seq(1, 4, 13)) {
      assert(sortedKeys(CoGroupTopK.flatSearch(flatProbed, flat.vectors, params.k,
        flat.metric.id, flat.nlist, salt)) === flatStatic,
        s"flat flood diverged at salt=$salt")
      assert(sortedKeys(CoGroupTopK.pqSearch(pqProbed, pqIndex.codes, pqIndex.codebooks,
        pqIndex.metric.id, pqParams.k, pqIndex.nlist, salt)) === pqStatic,
        s"pq flood diverged at salt=$salt")
    }
  }

  test("derived flood salt is scale-adaptive: 1 at bench scale, more at scale") {
    // r20: the salt is a corpus-bytes derivation instead of a constant — a
    // KB-sized corpus must take salt 1 (no query replication, no empty
    // sub-bucket tasks) and the derived value must scale with
    // bytes-per-list, capped by the session's shuffle parallelism
    val bytes = Sizing.bytes(flat.vectors) // tiny test corpus, well under 4 MB/list
    assert(Sizing.salt(spark, bytes, nlist = 8) === 1)
    // nlist=1 concentrates all bytes in one list; still tiny here -> 1
    assert(Sizing.salt(spark, bytes, nlist = 1) === 1)
    // derivation math at scale (pure function of bytes/nlist/cap): a
    // 1 GiB list wants 256 x 4 MB buckets, capped by parallelism
    val parts = spark.sessionState.conf.numShufflePartitions
    val bigPerList = (1L << 30) / Sizing.TargetBucketBytes // 256
    assert(Sizing.groupParts(spark, nlist = 4, salt = 1) === math.min(parts, 4))
    assert(Sizing.groupParts(spark, nlist = 1 << 20, salt = 64) === parts)
    assert(bigPerList === 256L)
    assert(Sizing.salt(spark, BigInt(1L << 30), nlist = 1) === parts)
    // r21 (r20 advice): the formula applies 4x skew headroom on the mean
    // bytes-per-list, and an UNKNOWN nlist (the Int.MaxValue sentinel)
    // prices the whole corpus as one potential hot list instead of
    // dividing the estimate to zero and silently disabling salting
    val t = BigInt(Sizing.TargetBucketBytes)
    def clamp(v: BigInt) = v.min(BigInt(parts)).max(BigInt(1)).toInt
    assert(Sizing.salt(spark, bytes, nlist = 8) ===
      clamp((bytes / 8 * 4 + t - 1) / t))
    assert(Sizing.salt(spark, bytes, nlist = Int.MaxValue) ===
      clamp((bytes * 4 + t - 1) / t))
  }

  test("gate decision pins to the plan-stats estimate boundary") {
    val qdf = queriesDF(floodQueries.take(64))
    val nprobe = 4
    val qB = Sizing.bytes(qdf)
    val est = qB * nprobe
    assert(est > 0)
    withConf(gate = est.toString, auto = "-1") {
      assert(Sizing.fitsBroadcastGate(spark, qB, nprobe), "estimate == gate must fit")
    }
    withConf(gate = (est - 1).toString, auto = "-1") {
      assert(!Sizing.fitsBroadcastGate(spark, qB, nprobe), "estimate > gate must not fit")
    }
  }

  test("building a search runs no optimizer pass over a graft top-k plan or an Aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
    import org.apache.spark.sql.catalyst.rules.Rule
    // every plan an optimizer pass sees while the searches are BUILT (not
    // run): sizing must read only the input frames, never price a plan
    // graft has just assembled on top of them
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    object Spy extends Rule[LogicalPlan] {
      override def apply(plan: LogicalPlan): LogicalPlan = { seen.add(plan); plan }
    }
    def offenders(plan: LogicalPlan): Seq[String] = plan.collect {
      case _: ListScanTopKNode => "ListScanTopKNode"
      case _: BroadcastProbeTopKNode => "BroadcastProbeTopKNode"
      case _: PartialTopKNode => "PartialTopKNode"
      case _: RankTopKNode => "RankTopKNode"
      case _: Aggregate => "Aggregate"
    }
    val (flatIdx, pq) = (flat, pqIndex) // built before counting
    val static = queriesDF(floodQueries.take(64))
    val flood = queriesDF(floodQueries)
    val corpusDf = vectorsDF(corpus)
    val params = SearchParams(k = 5, nprobe = 4)
    val searches = Seq[(String, () => DataFrame)](
      "static 64-query search" -> (() => flatIdx.search(static, params)),
      "flat flood" -> (() => flatIdx.search(flood, params)),
      "pq flood with rerank 20" -> (() => pq.search(flood, params, 20)),
      "Knn.exact flood" -> (() => Knn.exact(flood, corpusDf, 5)))
    val exp = spark.experimental
    val before = exp.extraOptimizations
    val bad = try {
      exp.extraOptimizations = before :+ Spy
      searches.flatMap { case (name, build) =>
        seen.clear()
        build()
        val hit = seen.toArray(Array.empty[LogicalPlan]).flatMap(offenders).distinct
        if (hit.isEmpty) None else Some(s"$name: ${hit.mkString(", ")}")
      }
    } finally exp.extraOptimizations = before
    assert(bad.isEmpty, s"optimizer passes over graft-built plans during construction: $bad")
  }

  test("pq flood scorer is bit-identical across list orderings and the table cutover") {
    import graft.functions.PqKernels
    val books = IvfPqIndex.trainCodebooks(corpus.map(_._2).toArray, m = 4, nbits = 6)
    val qs = floodQueries.take(4).toArray
    def encoded(rows: Seq[(Long, Array[Float])]) = rows.map { case (id, v) =>
      (id, new org.apache.spark.sql.catalyst.util.GenericArrayData(
        PqKernels.encode(v, books)))
    }
    val codeRows = encoded(corpus.take(200))
    val longRows = encoded(corpus)
    final class CollectSink extends TopKSink {
      val rows = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
      override def insert(qid: Long, id: Long, dist: Double): Unit =
        rows += ((qid, id, dist))
    }
    for (metricId <- Seq(graft.functions.VectorKernels.METRIC_L2,
        graft.functions.VectorKernels.METRIC_IP,
        graft.functions.VectorKernels.METRIC_COSINE)) {
      // every query probes both lists; corpus rows split across them
      val pi = PqFloodIndex(
        qids = qs.map(_._1),
        prepped = qs.map(q => PqKernels.prepQuery(q._2, metricId)),
        listPos = Array(qs.indices.toArray, qs.indices.toArray))
      // ground truth: full-table lookup-sum per (query, candidate)
      val tables = qs.map(q => PqKernels.adcTableRaw(q._2, books, metricId))
      def truth(rows: Seq[(Long, org.apache.spark.sql.catalyst.util.GenericArrayData)]) =
        (for ((id, c) <- rows; (qi, t) <- qs.zip(tables))
          yield (qi._1, id, PqKernels.adcDistanceRaw(t, c))).toSet
      val expected = truth(codeRows)
      // clustered order: list 0's 200 rows then list 1's — both runs cross
      // an explicit buildAfter=32 cutover, so the prefix scores DIRECT and
      // the rest by table; bits must not change at the seam
      val clustered = new PqLocalListScorer(pi, books, metricId, buildAfter = Some(32))
      val cSink = new CollectSink
      for (list <- Seq(0, 1); (id, c) <- codeRows) clustered.scoreInto(list, c, id, cSink)
      assert(cSink.rows.size === 2 * codeRows.size * qs.length)
      assert(cSink.rows.toSet === expected, s"clustered diverged, metric=$metricId")
      // the default cutover (the codebooks' break-even) crossed by 400-row runs
      assert(PqLocalListScorer.breakEvenRows(books) < longRows.size)
      val byDefault = new PqLocalListScorer(pi, books, metricId)
      val dSink = new CollectSink
      for (list <- Seq(0, 1); (id, c) <- longRows) byDefault.scoreInto(list, c, id, dSink)
      assert(dSink.rows.size === 2 * longRows.size * qs.length)
      assert(dSink.rows.toSet === truth(longRows), s"default cutover diverged, metric=$metricId")
      // adversarial order: the list flaps every row -> the run counter
      // never reaches the cutover, everything scores direct — same bits
      val flapping = new PqLocalListScorer(pi, books, metricId, buildAfter = Some(32))
      val fSink = new CollectSink
      for (((id, c), i) <- codeRows.zipWithIndex) flapping.scoreInto(i % 2, c, id, fSink)
      assert(fSink.rows.toSet === expected, s"flapping diverged, metric=$metricId")
      // a list hotter than the table budget also stays direct — same bits
      val capped = new PqLocalListScorer(pi, books, metricId, buildAfter = Some(32),
        tableBudgetBytes = 1)
      val capSink = new CollectSink
      for ((id, c) <- codeRows) capped.scoreInto(0, c, id, capSink)
      assert(capSink.rows.toSet === expected, s"budget-capped diverged, metric=$metricId")
    }
  }
}
