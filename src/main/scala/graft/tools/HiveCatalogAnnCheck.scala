package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.IvfFlatIndex
import graft.plans.SqlAnn
import graft.storage.LocalWrites._

/**
 * Pins the HIVE-format catalog flavor of the SQL ANN surface — the one
 * shape the shared test JVM cannot cover (its session is built on the
 * in-memory catalog, and `spark.sql.catalogImplementation` is fixed per
 * SparkContext): a table created with Hive syntax (`STORED AS PARQUET`,
 * partitioned) over a registered epoch path, read through Spark's
 * metastore-parquet CONVERSION (`spark.sql.hive.convertMetastoreParquet`,
 * default true → `LogicalRelation(HadoopFsRelation(CatalogFileIndex))`,
 * the same relation shape [[SqlAnn.lookup]] resolves by rootPath).
 *
 * Checks, each printed as a CHECK/PASS line and enforced with require:
 *   1. top-k SQL through the Hive table plans the list_id partition
 *      filter (the rewrite fires through the converted relation);
 *   2. results equal brute force at nprobe = nlist (computed BEFORE
 *      registration, through the same Hive table);
 *   3. the range shape fires and reads fewer partitions than the table
 *      has, staying exact;
 *   4. with conversion DISABLED the relation is a HiveTableRelation, the
 *      rewrite (correctly) does not fire, and results still come back —
 *      the documented unsupported-but-safe shape.
 *
 * Run (own JVM, derby metastore in a temp dir):
 *   java <add-opens> -cp "target/scala-2.13/classes:<spark jars dir>/ALL"
 *     graft.tools.HiveCatalogAnnCheck
 */
object HiveCatalogAnnCheck {

  private val Dim = 8
  private val NList = 8
  private val K = 5

  private def corner(k: Int): Array[Float] =
    (0 until Dim).map(d => if (((k >> (d % 3)) & 1) == 1) 4.0f else -4.0f).toArray

  private def lit(v: Array[Float]): String =
    s"CAST(array(${v.map(_.toDouble).mkString(", ")}) AS ARRAY<FLOAT>)"

  def main(args: Array[String]): Unit = {
    val work = java.nio.file.Files.createTempDirectory("graft-hive").toString
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-hive-catalog-check")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$work/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    require(spark.conf.get("spark.sql.catalogImplementation") == "hive",
      "this check must run against the Hive catalog")

    // clustered fixture (the SqlAnnSpec geometry): tight corner clusters,
    // so a 2.0 ball provably prunes below nlist partitions
    val rnd = new scala.util.Random(7)
    val rows = (0L until 200L).map { i =>
      val c = corner((i % 8).toInt)
      (i, c.map(x => x + rnd.nextFloat() * 0.2f - 0.1f))
    }
    import spark.implicits._
    val idx = IvfFlatIndex.build(spark, rows.toDF("id", "vec"), NList)
    val dir = s"$work/epoch_vectors"
    idx.vectors.graftWrite.partitionBy("list_id").mode("overwrite").parquet(dir)

    // HIVE-format table over the epoch path (partition column OUTSIDE the
    // column list — Hive DDL), partitions recovered from the directory
    spark.sql(
      s"""CREATE TABLE graft_hive_ann (id BIGINT, vec ARRAY<FLOAT>)
         |PARTITIONED BY (list_id INT) STORED AS PARQUET
         |LOCATION '$dir'""".stripMargin)
    spark.sql("MSCK REPAIR TABLE graft_hive_ann")
    val nParts = spark.sql("SHOW PARTITIONS graft_hive_ann").count()
    println(s"[hive-check] table created, $nParts partitions recovered")
    require(nParts == NList, s"expected $NList partitions, got $nParts")

    def topkSql =
      s"""SELECT id, l2_distance(vec, ${lit(corner(0))}) AS dist
         |FROM graft_hive_ann ORDER BY dist, id LIMIT $K""".stripMargin
    def rangeSql =
      s"""SELECT id, l2_distance(vec, ${lit(corner(0))}) AS dist
         |FROM graft_hive_ann
         |WHERE l2_distance(vec, ${lit(corner(0))}) <= 2.0 ORDER BY id""".stripMargin

    // brute force FIRST (nothing registered): same table, cartesian plan
    graft.GraftExtensions.register(spark)
    val bruteTopk = spark.sql(topkSql).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val bruteRange = spark.sql(rangeSql).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    SqlAnn.registerIndex(spark, dir, idx.centroids.value,
      nprobe = NList, radii = Some(idx.listRadii))

    def pf(df: org.apache.spark.sql.DataFrame): String =
      SqlAnn.fileSourceScan(df)
        .flatMap(_.metadata.get("PartitionFilters")).getOrElse("")

    // 1 + 2: top-k fires through the converted Hive relation, exact
    val tk = spark.sql(topkSql)
    require(pf(tk).contains("list_id"),
      s"CHECK 1 FAILED: top-k rewrite did not fire through the Hive table (PartitionFilters: ${pf(tk)})")
    println("[hive-check] CHECK 1 PASS: top-k partition filter fired through hive-converted relation")
    val gotTopk = tk.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    require(gotTopk == bruteTopk, s"CHECK 2 FAILED: $gotTopk != $bruteTopk")
    println(s"[hive-check] CHECK 2 PASS: top-$K exact vs brute force ($gotTopk)")

    // 3: range fires, prunes, exact
    val rg = spark.sql(rangeSql)
    require(pf(rg).contains("list_id"),
      s"CHECK 3 FAILED: range rewrite did not fire (PartitionFilters: ${pf(rg)})")
    val scan = SqlAnn.fileSourceScan(rg).get
    val read = scan.relation.location.listFiles(scan.partitionFilters, Nil).size
    require(read > 0 && read < NList,
      s"CHECK 3 FAILED: expected < $NList partitions read, got $read")
    val gotRange = rg.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    require(gotRange.nonEmpty && gotRange == bruteRange,
      s"CHECK 3 FAILED: range results diverge (${gotRange.size} vs ${bruteRange.size} rows)")
    println(s"[hive-check] CHECK 3 PASS: range pruned to $read/$NList partitions, ${gotRange.size} rows exact")

    // 4: conversion OFF -> HiveTableRelation -> no LogicalRelation for
    // lookup to match: the rewrite must NOT fire, the query must still
    // answer (the safe unsupported shape, pinned not silent)
    spark.conf.set("spark.sql.hive.convertMetastoreParquet", "false")
    try {
      val raw = spark.sql(topkSql)
      require(SqlAnn.fileSourceScan(raw).isEmpty,
        "CHECK 4 FAILED: expected a Hive scan (no FileSourceScanExec) with conversion off")
      val gotRaw = raw.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      require(gotRaw == bruteTopk, s"CHECK 4 FAILED: $gotRaw != $bruteTopk")
      println("[hive-check] CHECK 4 PASS: conversion off -> unrewritten HiveTableRelation, results intact")
    } finally spark.conf.set("spark.sql.hive.convertMetastoreParquet", "true")

    SqlAnn.unregisterIndex(spark, dir)
    println("[hive-check] ALL CHECKS PASS")
    spark.stop()
  }
}
