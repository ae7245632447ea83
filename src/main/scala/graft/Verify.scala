package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

import graft.storage.LocalWrites._

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Per-query timeout: one hung query (e.g. a runaway kernel loop) must
    // not take the whole correctness dump down with it — cancel its job
    // group and move on.
    val timeoutMs = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_MS", "300000").toLong
    // Optional local-iteration filter: run only the named queries. A
    // set-but-blank variable means NO filter — an empty dump + empty
    // oracle json would let the compare pass vacuously.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val worker = new Thread(() =>
        try {
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          fn(spark, sfDir).coalesce(1).graftWrite.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        } finally spark.sparkContext.clearJobGroup())
      worker.setDaemon(true)
      worker.start()
      worker.join(timeoutMs)
      if (worker.isAlive) {
        System.err.println(s"[verify] $name TIMED OUT after ${timeoutMs}ms; cancelling")
        spark.sparkContext.cancelJobGroup(name)
        worker.join(30000)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      // keep the SQL dump consistent with the dumped queries — a filtered
      // run must not leave the compare pointing at missing/stale dirs
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // streaming state first: the StateStore maintenance thread outlives
    // spark.stop() otherwise, and logs "SparkEnv not active" errors
    spark.streams.active.foreach(_.stop())
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.stop()
  }
}
