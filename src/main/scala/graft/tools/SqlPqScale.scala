package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.IvfPqIndex
import graft.plans.SqlAnn
import graft.storage.LocalWrites._

/**
 * Scale evidence for the PQ-accelerated SQL top-k (`sql_pq_topk`): at
 * N = 500k x 128d the flat probe-pruned plan reads 4·dim = 512 bytes of
 * vector per probed row; the PQ two-scan pipeline reads m = 16 code
 * bytes per probed row plus (id, vec) of ONLY the lists the top-candK
 * candidates live in (the rerank scan's dynamic candidate-list prune).
 * Clustered corpus (families, center + noise) so candidates genuinely
 * concentrate — the geometry ANN serving exists for.
 *
 * Prints, for the same `ORDER BY l2_distance(vec, lit) LIMIT k` SQL:
 *  - naive (unregistered) full-scan time — the honest denominator;
 *  - flat registration at nprobe: time + probed-scan partitions/bytes;
 *  - PQ registration at the same nprobe: time + BOTH scans'
 *    partitions/bytes (codes scan vs rerank scan);
 *  - recall@k of flat and PQ against the exact brute-force top-k.
 *
 * Usage: SqlPqScale [n] [dim] [nlist] [m] [nprobe] [rerankK]
 */
object SqlPqScale {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 500000
    val dim = if (args.length > 1) args(1).toInt else 128
    val nlist = if (args.length > 2) args(2).toInt else 256
    val m = if (args.length > 3) args(3).toInt else 16
    val nprobe = if (args.length > 4) args(4).toInt else 16
    // one build, many rerankK points: the candidate-pool size is the
    // recall/bytes tradeoff knob, the expensive build is not
    val rerankKs = if (args.length > 5) args.drop(5).map(_.toInt) else Array(100)
    val k = 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftExtensions.register(spark)

    // clustered corpus (same construction as SqlSelfJoinScale): family
    // centers on a grid, members = center + small noise
    val nFam = n / 50 // ~50 members per family
    def hash(c: org.apache.spark.sql.Column) =
      pmod((c + 1L) * lit(2654435761L), lit(1000000007L))
    val fam = (col("id") % nFam).as("fam")
    val corpus = spark.range(n).select(col("id"), fam)
      .select(col("id"), transform(sequence(lit(0), lit(dim - 1)), d => {
        val ctr = (pmod(hash(col("fam") * lit(dim.toLong) + d.cast("long")), lit(200L)) / 100.0 - 1.0) * 4.0
        val noise = (pmod(hash(col("id") * lit(dim.toLong) + d.cast("long") + lit(777L)), lit(100L)) / 100.0 - 0.5) * 0.05
        (ctr + noise).cast("float")
      }).as("vec"))

    val t0 = System.nanoTime()
    val idx = IvfPqIndex.build(spark, corpus, nlist, m)
    val dir = java.nio.file.Files.createTempDirectory("graft-pqscale").toString
    idx.codes.join(idx.rawVectors, "id")
      .select(col("id"), col("vec"), col("codes"), col("list_id"))
      .graftWrite.partitionBy("list_id").mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("pq_t")
    println(f"[pqscale] corpus n=$n dim=$dim nlist=$nlist m=$m " +
      f"built+encoded+written in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // query: family 0's center replayed exactly (the SQL literal and the
    // oracle probe see the same float32 values)
    val qv = (0 until dim).map { d =>
      val h = ((0L * dim + d + 1L) * 2654435761L) % 1000000007L
      ((((h % 200) + 200) % 200) / 100.0 - 1.0) * 4.0
    }
    val lit32 = qv.map(_.toFloat)
    val litSql = s"CAST(array(${lit32.map(_.toDouble).mkString(", ")}) AS ARRAY<FLOAT>)"
    val sql =
      s"""SELECT id, l2_distance(vec, $litSql) AS dist
         |FROM pq_t ORDER BY dist, id LIMIT $k""".stripMargin

    def timeIt(label: String): (Seq[Long], Double, org.apache.spark.sql.DataFrame) = {
      val t = System.nanoTime()
      val df = spark.sql(sql)
      val ids = df.collect().map(_.getLong(0)).toSeq
      val sec = (System.nanoTime() - t) / 1e9
      println(f"[pqscale] $label%-6s $sec%7.2f s top-$k ids=${ids.take(5)}...")
      (ids, sec, df)
    }
    // per-COLUMN on-disk bytes from the parquet footers (filesSize on the
    // scan metric counts whole files; what a column-pruned scan actually
    // decodes is the selected column CHUNKS — vec vs codes is the ratio
    // the PQ pipeline exists for)
    val colBytes: Map[String, Long] = {
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(conf)
      val it = fs.listFiles(root, true)
      val acc = scala.collection.mutable.Map.empty[String, Long]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) {
          val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
          try {
            rd.getFooter.getBlocks.forEach(b => b.getColumns.forEach { c =>
              val top = c.getPath.toDotString.split('.').head
              acc(top) = acc.getOrElse(top, 0L) + c.getTotalSize
            })
          } finally rd.close()
        }
      }
      acc.toMap
    }
    println(s"[pqscale] on-disk column bytes: " +
      colBytes.map { case (c, b) => f"$c=${b / 1e6}%.1f MB" }.mkString(" "))

    def scanStats(df: org.apache.spark.sql.DataFrame): Unit =
      SqlAnn.fileSourceScans(df).foreach { s =>
        val cols = s.output.map(_.name)
        val parts = s.metrics.get("numPartitions").map(_.value).getOrElse(-1L)
        val files = s.metrics.get("numFiles").map(_.value).getOrElse(-1L)
        val totalParts = nlist.toLong
        // decoded-bytes estimate: the selected columns' on-disk chunks,
        // scaled by the fraction of partitions the scan actually read
        val decoded = cols.flatMap(colBytes.get).sum * parts / totalParts
        println(f"[pqscale]   scan(${cols.mkString(",")}): partitions=$parts " +
          f"files=$files decodedCols~${decoded / 1e6}%.1f MB")
      }

    // 1. naive full scan (nothing registered)
    val (bruteIds, _, bruteDf) = timeIt("brute")
    scanStats(bruteDf)

    // 2. flat registration at nprobe
    SqlAnn.registerIndex(spark, dir, idx.centroids.value, nprobe = nprobe,
      centroidsBc = Some(idx.centroids))
    val (flatIds, _, flatDf) = timeIt("flat")
    scanStats(flatDf)
    SqlAnn.unregisterIndex(spark, dir)

    // 3. PQ registration at the same nprobe, one run per rerankK point
    def recall(got: Seq[Long]): Double =
      got.toSet.intersect(bruteIds.toSet).size.toDouble / k
    rerankKs.foreach { rerankK =>
      SqlAnn.registerIndex(spark, dir, idx.centroids.value, nprobe = nprobe,
        centroidsBc = Some(idx.centroids),
        pq = Some(new SqlAnn.PqInfo(idx.codebooks, rerankK = rerankK)))
      val (pqIds, _, pqDf) = timeIt(s"pq$rerankK")
      val pqScans = SqlAnn.fileSourceScans(pqDf)
      require(pqScans.exists(s => s.output.exists(_.name == "codes") &&
        !s.output.exists(_.name == "vec")),
        "the PQ pipeline must fire (codes-only candidate scan)")
      scanStats(pqDf)
      println(f"[pqscale]   recall@$k vs exact at rerankK=$rerankK: ${recall(pqIds)}%.2f")
      SqlAnn.unregisterIndex(spark, dir)
    }
    println(f"[pqscale] recall@$k vs exact: flat=${recall(flatIds)}%.2f")

    // 4. the BATCH flavor (round 17, `sql_pq_batch`): a literal batch of
    // family-center queries through the window-rank shape — brute
    // (unregistered) vs flat probe join vs the batch PQ candidate
    // pipeline, same scan-stats accounting
    val nq = 16
    def centerOf(f: Int): Array[Float] = (0 until dim).map { d =>
      val h = ((f.toLong * dim + d + 1L) * 2654435761L) % 1000000007L
      (((((h % 200) + 200) % 200) / 100.0 - 1.0) * 4.0).toFloat
    }.toArray
    val list = new java.util.ArrayList[org.apache.spark.sql.Row]()
    (0 until nq).foreach { f =>
      list.add(org.apache.spark.sql.Row(f.toLong, centerOf(f).toSeq))
    }
    import org.apache.spark.sql.types._
    spark.createDataFrame(list, StructType(Seq(
      StructField("qid", LongType), StructField("qvec", ArrayType(FloatType)))))
      .createOrReplaceTempView("pq_q")
    val bSql =
      s"""SELECT qid, id, dist, rank FROM (
         |  SELECT q.qid, t.id, l2_distance(t.vec, q.qvec) AS dist,
         |    CAST(row_number() OVER (PARTITION BY q.qid
         |      ORDER BY l2_distance(t.vec, q.qvec), t.id) AS INT) AS rank
         |  FROM pq_q q, pq_t t)
         |WHERE rank <= $k ORDER BY qid, rank""".stripMargin
    def timeBatch(label: String): (Map[Long, Seq[Long]], Double, org.apache.spark.sql.DataFrame) = {
      val t = System.nanoTime()
      val df = spark.sql(bSql)
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      val sec = (System.nanoTime() - t) / 1e9
      println(f"[pqscale] batch-$label%-6s $sec%7.2f s (${rows.length} rows, $nq queries)")
      (rows.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap, sec, df)
    }
    val (bruteB, _, bruteBDf) = timeBatch("brute")
    scanStats(bruteBDf)
    def meanRecall(got: Map[Long, Seq[Long]]): Double =
      (0 until nq).map { f =>
        got.getOrElse(f.toLong, Nil).toSet
          .intersect(bruteB.getOrElse(f.toLong, Nil).toSet).size.toDouble / k
      }.sum / nq
    SqlAnn.registerIndex(spark, dir, idx.centroids.value, nprobe = nprobe,
      centroidsBc = Some(idx.centroids))
    val (flatB, _, flatBDf) = timeBatch("flat")
    scanStats(flatBDf)
    SqlAnn.unregisterIndex(spark, dir)
    rerankKs.foreach { rerankK =>
      SqlAnn.registerIndex(spark, dir, idx.centroids.value, nprobe = nprobe,
        centroidsBc = Some(idx.centroids),
        pq = Some(new SqlAnn.PqInfo(idx.codebooks, rerankK = rerankK)))
      val (pqB, _, pqBDf) = timeBatch(s"pq$rerankK")
      require(SqlAnn.fileSourceScans(pqBDf).exists(s =>
        s.output.exists(_.name == "codes") && !s.output.exists(_.name == "vec")),
        "the batch PQ pipeline must fire (codes-only candidate scan)")
      scanStats(pqBDf)
      println(f"[pqscale]   batch mean recall@$k at rerankK=$rerankK: ${meanRecall(pqB)}%.2f")
      SqlAnn.unregisterIndex(spark, dir)
    }
    println(f"[pqscale] batch mean recall@$k: flat=${meanRecall(flatB)}%.2f")

    // 5. the RANGE flavor (round 18, `sql_pq_range`): the EXACT range
    // scan — covering-ball prune alone (radii) vs the codes-scan
    // candidate-list refinement (radii + per-list max quantization
    // errs). Radius sized to one family's spread, so the ball prune
    // keeps the lists whose COVERING BALL intersects while the ADC
    // bound keeps only lists with a plausible row. Results must be
    // IDENTICAL (both exact).
    val rangeR = 2.0 // family noise is ±0.025/dim -> members well inside
    val rSql =
      s"""SELECT id, l2_distance(vec, $litSql) AS dist
         |FROM pq_t WHERE l2_distance(vec, $litSql) <= $rangeR
         |ORDER BY id""".stripMargin
    def timeRange(label: String): (Seq[Long], org.apache.spark.sql.DataFrame) = {
      val t = System.nanoTime()
      val df = spark.sql(rSql)
      val ids = df.collect().map(_.getLong(0)).toSeq
      val sec = (System.nanoTime() - t) / 1e9
      println(f"[pqscale] range-$label%-9s $sec%7.2f s (${ids.length} rows)")
      (ids, df)
    }
    val (bruteR, bruteRDf) = timeRange("brute")
    scanStats(bruteRDf)
    val metaT = System.nanoTime()
    val (radiiArr, errArr) = SqlAnn.computePqRangeMeta(
      spark, dir, idx.centroids.value, idx.codebooks.value)
    println(f"[pqscale] range meta pass (radii + errs): " +
      f"${(System.nanoTime() - metaT) / 1e9}%.1f s, " +
      f"maxErr median=${errArr.sorted.apply(nlist / 2)}%.3f")
    SqlAnn.registerIndex(spark, dir, idx.centroids.value, nprobe = nprobe,
      centroidsBc = Some(idx.centroids), radii = Some(radiiArr))
    val (ballR, ballRDf) = timeRange("ball")
    scanStats(ballRDf)
    SqlAnn.unregisterIndex(spark, dir)
    SqlAnn.registerIndex(spark, dir, idx.centroids.value, nprobe = nprobe,
      centroidsBc = Some(idx.centroids), radii = Some(radiiArr),
      pq = Some(new SqlAnn.PqInfo(idx.codebooks, rerankK = rerankKs.head)),
      pqRangeErrs = Some(errArr))
    val (refR, refRDf) = timeRange("refined")
    require(SqlAnn.fileSourceScans(refRDf).exists(s =>
      s.output.exists(_.name == "codes") && !s.output.exists(_.name == "vec")),
      "the range refinement must fire (codes-only DPP build scan)")
    scanStats(refRDf)
    SqlAnn.unregisterIndex(spark, dir)
    require(ballR == bruteR && refR == bruteR,
      s"range flavors must be EXACT: brute=${bruteR.size} " +
        s"ball=${ballR.size} refined=${refR.size}")
    println(s"[pqscale] range rows: ${bruteR.size} (all three flavors identical)")
    // DEGRADED-RADII regime — the refinement's reason to exist: covering
    // radii rot under outliers/appends (a single far row inflates its
    // list's ball until every query intersects it), while the per-row
    // ADC bound keeps seeing individual candidates. Simulated by
    // inflating every radius; both flavors must STILL be exact.
    val fat = radiiArr.map(_ => 1e6)
    SqlAnn.registerIndex(spark, dir, idx.centroids.value, nprobe = nprobe,
      centroidsBc = Some(idx.centroids), radii = Some(fat))
    val (fatBallR, fatBallDf) = timeRange("fatball")
    scanStats(fatBallDf)
    SqlAnn.unregisterIndex(spark, dir)
    SqlAnn.registerIndex(spark, dir, idx.centroids.value, nprobe = nprobe,
      centroidsBc = Some(idx.centroids), radii = Some(fat),
      pq = Some(new SqlAnn.PqInfo(idx.codebooks, rerankK = rerankKs.head)),
      pqRangeErrs = Some(errArr))
    val (fatRefR, fatRefDf) = timeRange("fatrefined")
    scanStats(fatRefDf)
    SqlAnn.unregisterIndex(spark, dir)
    require(fatBallR == bruteR && fatRefR == bruteR,
      "degraded-radii flavors must stay EXACT")

    // §6 (round 19, r18 verdict #3): the JOIN-shape refinement — a
    // parquet query table against the corpus, degraded radii, so every
    // list survives the ball and any pruning is the per-pair codes
    // screen's work. The screen's build must be a codes-only scan.
    val qjDir = java.nio.file.Files.createTempDirectory("graft-pqscale-qj").toString
    corpus.filter(col("id") % lit(n.toLong / 8) === 0)
      .select(col("id").as("qid"), col("vec").as("qvec"))
      .graftWrite.mode("overwrite").parquet(qjDir)
    spark.read.parquet(qjDir).createOrReplaceTempView("pq_qj")
    val jSql =
      s"""SELECT q.qid, t.id FROM pq_qj q, pq_t t
         |WHERE l2_distance(t.vec, q.qvec) <= $rangeR
         |ORDER BY qid, id""".stripMargin
    def timeJoin(label: String): (Seq[(Long, Long)], org.apache.spark.sql.DataFrame) = {
      val t = System.nanoTime()
      val df = spark.sql(jSql)
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val sec = (System.nanoTime() - t) / 1e9
      println(f"[pqscale] join-$label%-10s $sec%7.2f s (${rows.length} pairs)")
      (rows, df)
    }
    val (bruteJ, bruteJDf) = timeJoin("brute")
    scanStats(bruteJDf)
    SqlAnn.registerIndex(spark, dir, idx.centroids.value, nprobe = nprobe,
      centroidsBc = Some(idx.centroids), radii = Some(fat))
    val (ballJ, ballJDf) = timeJoin("fatball")
    scanStats(ballJDf)
    SqlAnn.unregisterIndex(spark, dir)
    SqlAnn.registerIndex(spark, dir, idx.centroids.value, nprobe = nprobe,
      centroidsBc = Some(idx.centroids), radii = Some(fat),
      pq = Some(new SqlAnn.PqInfo(idx.codebooks, rerankK = rerankKs.head)),
      pqRangeErrs = Some(errArr))
    val (refJ, refJDf) = timeJoin("fatrefined")
    require(SqlAnn.fileSourceScans(refJDf).exists(s =>
      s.output.exists(_.name == "codes") && !s.output.exists(_.name == "vec") &&
        !s.output.exists(_.name == "id")),
      "the join refinement must build from a (codes, list_id)-only scan")
    scanStats(refJDf)
    SqlAnn.unregisterIndex(spark, dir)
    require(ballJ == bruteJ && refJ == bruteJ,
      s"join flavors must be EXACT: brute=${bruteJ.size} " +
        s"ball=${ballJ.size} refined=${refJ.size}")
    println(s"[pqscale] join pairs: ${bruteJ.size} (all three flavors identical)")
    spark.stop()
  }
}
