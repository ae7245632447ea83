package graft.tools

import org.apache.spark.sql.SparkSession

/** Scratch: run one SparkEntry query N times and print timings. */
object OneQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val iters = if (args.length > 1) args(1).toInt else 6
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // mirror Bench's conf EXACTLY (tmpfs shuffle dir, shared codegen class
    // names): a timing read from this tool must be comparable to the
    // bench, and disk-backed shuffle on the sandbox disk adds hundreds of
    // ms of per-stage I/O wait the bench never pays
    val localDir = sys.env.get("SPARK_GRAFT_LOCAL_DIR").orElse(
      Some("/dev/shm/graft-onequery")
        .filter(_ => new java.io.File("/dev/shm").isDirectory))
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
    val spark = localDir.fold(builder)(d => builder.config("spark.local.dir", d))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = graft.SparkEntry.queries(name)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val perStage = sys.env.contains("ONEQUERY_STAGES")
    // task run times per (stage, attempt), for the skew columns: the bus
    // delivers a stage's task ends before its completion
    val taskRuns = scala.collection.mutable.HashMap[(Int, Int), scala.collection.mutable.ArrayBuffer[Long]]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (perStage && t.taskMetrics != null)
          taskRuns.getOrElseUpdate((t.stageId, t.stageAttemptId),
            scala.collection.mutable.ArrayBuffer[Long]()) += t.taskMetrics.executorRunTime
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        taskMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
        if (perStage) {
          val m = s.stageInfo.taskMetrics
          // busiest and median task: a stage bound by one task shows as
          // max >> median without an event log
          val runs = taskRuns.remove((s.stageInfo.stageId, s.stageInfo.attemptNumber()))
            .map(_.sorted).getOrElse(Seq.empty[Long])
          val (maxT, medT) =
            if (runs.isEmpty) (0L, 0L) else (runs.last, runs(runs.length / 2))
          println(f"[stage] ${m.executorRunTime}%5d ms " +
            f"cpu=${m.executorCpuTime / 1000000}%5d deser=${m.executorDeserializeTime}%5d " +
            f"serRes=${m.resultSerializationTime}%4d gc=${m.jvmGCTime}%4d " +
            f"shufR=${m.shuffleReadMetrics.totalBytesRead >> 10}%6dK shufW=${m.shuffleWriteMetrics.bytesWritten >> 10}%6dK " +
            f"tasks=${s.stageInfo.numTasks}%3d taskMax=$maxT%5d taskMed=$medT%5d " +
            f"${s.stageInfo.name.takeWhile(_ != '\n').take(60)}")
        }
      }
    })
    // ONEQUERY_CODEGEN_DEBUG: log every codegen cache-miss compilation
    // (source included, DEBUG level) so per-run recompiles can be diffed.
    if (sys.env.contains("ONEQUERY_CODEGEN_DEBUG"))
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
        org.apache.logging.log4j.Level.DEBUG)
    def codegenN: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // ONEQUERY_PRETOUCH_DIR: run the SAME entry once against another
    // (tiny) sf dir before the timed loop — the cold-start attribution
    // probe: identical plan shapes over the same schema hit the Janino
    // source cache and walk the Catalyst paths, so iter1's residual is
    // the part a serving-process plan warmup could NOT absorb.
    sys.env.get("ONEQUERY_PRETOUCH_DIR").foreach { d =>
      val cg0 = codegenN
      val t0 = System.nanoTime()
      fn(spark, d).queryExecution.toRdd.foreach(_ => ())
      println(f"[onequery] $name pretouch($d) ${(System.nanoTime() - t0) / 1e9}%7.3f s " +
        f"codegen+${codegenN - cg0}")
    }
    // ONEQUERY_PLANWARMUP: exercise the serving-grade warmup instead —
    // the r19 cold-start fix the bench pre-touch and serving startups use
    if (sys.env.contains("ONEQUERY_PLANWARMUP")) {
      val cg0 = codegenN
      val t0 = System.nanoTime()
      graft.index.PlanWarmup.warmPqFlood(spark)
      graft.index.PlanWarmup.warmSqlAnn(spark)
      println(f"[onequery] $name planwarmup ${(System.nanoTime() - t0) / 1e9}%7.3f s " +
        f"codegen+${codegenN - cg0}")
    }
    (1 to iters).foreach { i =>
      jobs.set(0); stages.set(0); taskMs.set(0)
      val cg0 = codegenN
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      // toRdd, not count(): count() lets Catalyst prune non-grouping
      // aggregates (and their scan columns), so an agg-terminated query
      // would be timed as a keys-only scan — must measure what Bench does
      val n = df.queryExecution.toRdd.count()
      val t2 = System.nanoTime()
      // drain the async listener bus before reading the counters: stage
      // events land asynchronously, so without this the tail of iter i's
      // stages is misattributed to iter i+1 after the reset above
      org.apache.spark.sql.graftshims.drainListenerBus(spark)
      println(f"[onequery] $name iter$i ${(t2 - t0) / 1e9}%7.3f s " +
        f"(build ${(t1 - t0) / 1e9}%6.3f, exec ${(t2 - t1) / 1e9}%6.3f) rows=$n " +
        f"jobs=${jobs.get} stages=${stages.get} taskSec=${taskMs.get / 1e3}%.2f " +
        f"codegen+${codegenN - cg0}")
    }
    if (sys.env.contains("ONEQUERY_METRICS")) {
      val df = fn(spark, sfDir)
      df.queryExecution.toRdd.count() // full consumption, same as the timing loop
      def walk(p: org.apache.spark.sql.execution.SparkPlan, d: Int): Unit = {
        val m = p.metrics.map { case (k, v) => s"$k=${v.value}" }.mkString(" ")
        println(s"[metrics] ${"  " * d}${p.nodeName} $m")
        p.children.foreach(walk(_, d + 1))
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan, d + 1)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            walk(q.plan, d + 1)
          case _ =>
        }
      }
      walk(df.queryExecution.executedPlan, 0)
    }
    if (sys.env.contains("ONEQUERY_CODEGEN")) {
      import org.apache.spark.sql.execution.debug._
      val df = fn(spark, sfDir)
      df.queryExecution.toRdd.count() // finalize AQE stages so codegen subtrees exist
      df.debugCodegen()
    }
    if (sys.env.contains("ONEQUERY_EXPLAIN")) {
      val df = fn(spark, sfDir)
      df.queryExecution.toRdd.count()
      println("[onequery-plan-begin]")
      println(df.queryExecution.executedPlan.toString)
      println("[onequery-plan-end]")
    }
    spark.stop()
  }
}
