package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.IvfFlatIndex
import graft.plans.SqlAnn
import graft.storage.LocalWrites._

/**
 * Scale evidence for the SQL self-join dedup shape (`sql_selfjoin_dedup`):
 * at N = 200k x 64d the naive plan is a 2x10^10-pair cartesian; the
 * range-join rewrite must turn it into the intersecting-lists equi-join
 * and finish in seconds. Clustered corpus (nFam families, center + noise)
 * so the blocking genuinely bounds candidate pairs — the corpus shape
 * near-dup detection exists for.
 *
 * Prints:
 *  - rewrite wall time + output pair count at the full N;
 *  - a brute-force run on a SUBSET (default 5k rows -> 12.5M pairs) with
 *    its pairs/sec, and the extrapolated full-N cartesian time from that
 *    rate — the honest denominator (running the full cartesian would take
 *    hours by construction);
 *  - exactness: rewrite == brute force on that same subset (both through
 *    SQL; the subset table is registered separately).
 *
 * Usage: SqlSelfJoinScale [n] [dim] [nlist] [subsetN]
 */
object SqlSelfJoinScale {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 200000
    val dim = if (args.length > 1) args(1).toInt else 64
    val nlist = if (args.length > 2) args(2).toInt else 256
    val subsetN = if (args.length > 3) args(3).toInt else 5000
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftExtensions.register(spark)

    // clustered corpus: nFam family centers on a +-1 grid, members =
    // center + small deterministic noise; near pairs exist WITHIN a
    // family (noise diameter), none across families (grid spacing)
    val nFam = n / 20 // ~20 members per family
    def hash(c: org.apache.spark.sql.Column) =
      pmod((c + 1L) * lit(2654435761L), lit(1000000007L))
    val fam = (col("id") % nFam).as("fam")
    val corpus = spark.range(n).select(col("id"), fam)
      .select(col("id"), transform(sequence(lit(0), lit(dim - 1)), d => {
        val ctr = (pmod(hash(col("fam") * lit(dim.toLong) + d.cast("long")), lit(200L)) / 100.0 - 1.0) * 4.0
        val noise = (pmod(hash(col("id") * lit(dim.toLong) + d.cast("long") + lit(777L)), lit(100L)) / 100.0 - 0.5) * 0.02
        (ctr + noise).cast("float")
      }).as("vec"))

    val t0 = System.nanoTime()
    val idx = IvfFlatIndex.build(spark, corpus, nlist)
    val dir = java.nio.file.Files.createTempDirectory("graft-sjscale").toString
    idx.vectors.graftWrite.partitionBy("list_id").mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("sj_t")
    println(f"[sjscale] corpus n=$n dim=$dim nlist=$nlist built+written in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // radius: inside-family noise ball (diameter^2 across dim) with margin
    val radius = 0.02 * 0.02 * dim * 1.5
    def pairSql(view: String) =
      s"""SELECT a.id AS a_id, b.id AS b_id
         |FROM $view a, $view b
         |WHERE l2_distance(b.vec, a.vec) <= $radius AND a.id < b.id""".stripMargin

    // subset brute force first (unregistered -> cartesian), for the rate.
    // COALESCE to a handful of partitions: CartesianProductExec's task
    // count is left x right partitions, and a 256-file table would make
    // the "small" subset cartesian a 65,536-task stage of nothing
    val sub = spark.read.parquet(dir).filter(col("id") < subsetN)
      .select("id", "vec").coalesce(4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sub.count()
    sub.createOrReplaceTempView("sj_sub")
    val tb0 = System.nanoTime()
    val bruteSub = spark.sql(pairSql("sj_sub")).count()
    val bruteSec = (System.nanoTime() - tb0) / 1e9
    val subPairs = subsetN.toLong * (subsetN - 1) / 2
    val rate = subPairs / bruteSec
    val fullPairs = n.toLong * (n - 1) / 2
    println(f"[sjscale] brute subset: $subsetN rows / $subPairs pairs in $bruteSec%.1f s " +
      f"(${rate / 1e6}%.1f M pairs/s) -> full cartesian estimate ${fullPairs / rate / 60}%.0f min")

    SqlAnn.registerIndex(spark, dir, idx.centroids.value,
      nprobe = nlist, radii = Some(idx.listRadii))
    try {
      // exactness on the subset through the REWRITTEN plan: register the
      // subset as its own table (same geometry, its own radii)
      val subIdx = IvfFlatIndex.build(spark, sub.select("id", "vec"), 32)
      val subDir = java.nio.file.Files.createTempDirectory("graft-sjscale-sub").toString
      subIdx.vectors.graftWrite.partitionBy("list_id").mode("overwrite").parquet(subDir)
      spark.read.parquet(subDir).createOrReplaceTempView("sj_subr")
      SqlAnn.registerIndex(spark, subDir, subIdx.centroids.value,
        nprobe = 32, radii = Some(subIdx.listRadii))
      val rewSub = spark.sql(pairSql("sj_subr")).count()
      require(rewSub == bruteSub,
        s"rewritten subset pairs $rewSub != brute $bruteSub")
      println(s"[sjscale] exactness: rewritten subset == brute force ($bruteSub pairs)")
      SqlAnn.unregisterIndex(spark, subDir)

      // the full-N rewritten self-join — TWICE: the first run pays scan
      // caching + DPP subquery cold start, the second is the steady state
      // a repeated dedup pass sees; both are reported (SJSCALE_PLAN=1
      // additionally dumps the executed plan for strategy forensics)
      (1 to 2).foreach { iter =>
        val tr0 = System.nanoTime()
        val df = spark.sql(pairSql("sj_t"))
        val pairs = df.count()
        val rewSec = (System.nanoTime() - tr0) / 1e9
        val phys = df.queryExecution.executedPlan.toString
        require(!phys.contains("CartesianProduct") && !phys.contains("NestedLoop"),
          "full-N plan must be the equi-join")
        println(f"[sjscale] REWRITTEN full self-join (iter$iter): n=$n -> $pairs near pairs in $rewSec%.1f s " +
          f"(cartesian estimate ${fullPairs / rate / 60}%.0f min -> ${fullPairs / rate / rewSec}%.0fx speedup)")
        if (sys.env.contains("SJSCALE_PLAN")) println(phys.take(6000))
      }
    } finally SqlAnn.unregisterIndex(spark, dir)
    spark.stop()
  }
}
