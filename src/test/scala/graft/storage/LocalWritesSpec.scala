package graft.storage

import java.io.File
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.index.IvfFlatIndex
import graft.storage.LocalWrites._

class LocalWritesSpec extends SparkSpec {

  private def tmpDir(tag: String) = Files.createTempDirectory(s"graft-lw-$tag")

  private def mode(p: JPath) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Every file and directory under `root` (root included), keyed so two
    * writes of the same frame compare: part-file names carry a random
    * job id, so a file is keyed by its directory and its kind. */
  private def modes(root: JPath): Map[String, Set[String]] =
    Files.walk(root).iterator().asScala.toSeq.groupBy { p =>
      val rel = root.relativize(p).toString
      if (Files.isDirectory(p)) s"dir:$rel"
      else {
        val name = p.getFileName.toString
        val kind = if (name.endsWith(".crc")) "crc" else if (name.startsWith("_")) name else "data"
        s"${Option(root.relativize(p).getParent).fold("")(_.toString)}:$kind"
      }
    }.map { case (k, ps) => k -> ps.map(mode).toSet }

  private def unixMode(p: JPath) = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def dataFiles(dir: File) =
    dir.listFiles().filter(f => f.isFile && !f.getName.startsWith(".") &&
      !f.getName.startsWith("_")).map(_.getName).toSet

  test("a helper write has a plain df.write's modes and .crc files; the session keeps its filesystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    val implBefore = conf.get("fs.file.impl")
    val stockBefore = FileSystem.get(new java.net.URI("file:///"), conf).getClass
    val df = spark.range(0, 200).withColumn("list_id", (col("id") % 5).cast("int"))
      .withColumn("x", col("id") * 2)
    val viaHelper = tmpDir("helper")
    val viaPlain = tmpDir("plain")
    df.repartition(3).graftWrite.mode("overwrite").partitionBy("list_id")
      .parquet(viaHelper.toString)
    df.repartition(3).write.mode("overwrite").partitionBy("list_id")
      .parquet(viaPlain.toString)

    val helperModes = modes(viaHelper)
    assert(helperModes === modes(viaPlain))
    assert(helperModes.keySet.count(_.startsWith("dir:list_id=")) === 5)
    // every data file has its checksum sibling, as on the stock filesystem
    Files.walk(viaHelper).iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }.foreach { p =>
      assert(Files.exists(p.resolveSibling(s".${p.getFileName}.crc")), s"no .crc beside $p")
    }
    assert(spark.read.parquet(viaHelper.toString).count() === 200)

    // the options route file: paths to the NIO filesystem, fresh per conf
    val withOptions = spark.sessionState.newHadoopConfWithOptions(LocalWrites.Options)
    assert(new Path(viaHelper.toUri).getFileSystem(withOptions).isInstanceOf[NioLocalFileSystem])
    // and the session itself never saw them
    assert(conf.get("fs.file.impl") === implBefore)
    assert(FileSystem.get(new java.net.URI("file:///"), conf).getClass === stockBefore)
    assert(stockBefore !== classOf[NioLocalFileSystem])
  }

  test("the NIO setPermission sets the exact rwx mode and hands the sticky bit to the stock call") {
    val dir = tmpDir("perm")
    val fs = new NioLocalFileSystem
    fs.initialize(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val file = dir.resolve("f")
    Files.write(file, Array[Byte](1, 2, 3))
    for (m <- Seq("600", "640", "754", "000", "777")) {
      fs.setPermission(new Path(file.toUri), new FsPermission(m))
      assert(unixMode(file) === Integer.parseInt(m, 8))
    }
    val sub = dir.resolve("d")
    assert(fs.mkdirs(new Path(sub.toUri), new FsPermission("750")))
    assert(mode(sub) === "rwxr-x---")
    // the sticky bit is beyond NIO's 9 bits: the stock call sets it
    fs.setPermission(new Path(sub.toUri), new FsPermission("1755"))
    assert(unixMode(sub) === Integer.parseInt("1755", 8))
    fs.close()
  }

  test("an epoch written and appended through the helper reads back as spark.read.parquet does") {
    val s = spark
    import s.implicits._
    val implBefore = spark.sparkContext.hadoopConfiguration.get("fs.file.impl")
    val root = tmpDir("epoch").resolve("vectors").toString
    val rows = (0L until 300L).map(i => (i, Array.fill(4)(i.toFloat), (i % 6).toInt))
    IvfFlatIndex.writeEpoch(rows.toDF("id", "vec", "list_id"), root)
    val before = (0 until 6).map(l => l -> dataFiles(new File(root, s"list_id=$l"))).toMap
    // the append touches lists 1 and 4 only
    val added = (1000L until 1040L).map(i => (i, Array.fill(4)(-i.toFloat), if (i % 2 == 0) 1 else 4))
    IvfFlatIndex.appendToEpoch(added.toDF("id", "vec", "list_id"), root)

    for (l <- 0 until 6) {
      val now = dataFiles(new File(root, s"list_id=$l"))
      val grew = now -- before(l)
      assert(before(l).subsetOf(now))
      assert(grew.size === (if (l == 1 || l == 4) 1 else 0), s"list $l gained $grew")
      now.foreach(f => assert(new File(root, s"list_id=$l/.$f.crc").isFile, s"no .crc for $f"))
    }
    val epoch = IvfFlatIndex.readEpoch(spark, root)
    val plain = spark.read.parquet(root)
    def collected(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "list_id", "vec").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2))).sortBy(_._1).toSeq
    assert(collected(epoch).length === 340)
    assert(collected(epoch) === collected(plain))
    assert(epoch.inputFiles.sorted.toSeq === plain.inputFiles.sorted.toSeq)
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") === implBefore)
  }
}
