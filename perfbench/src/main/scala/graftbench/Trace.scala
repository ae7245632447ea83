package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Wall-clock nanoseconds since the epoch, the time base shared by the
  * benchmark's own spans and the listener's (millisecond) Spark events. */
object Clock {
  private val baseWallNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now(): Long = baseWallNs + (System.nanoTime() - baseNano)
}

final case class Span(id: Int, parent: Int, op: Int, name: String, t0: Long, t1: Long)

/**
 * In-memory span recorder for the benchmark's own calls into each layer.
 * Spans nest by call: the enclosing span is the parent. Disabled, a span
 * is just the call.
 */
final class Tracer(var enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String, op: Int)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = Clock.now()
      try f
      finally {
        spans += Span(id, parent, op, name, t0, Clock.now())
        stack = stack.tail
      }
    }
}

/** One Spark job or stage as the listener saw it (times in epoch ms). */
final case class JobEvent(id: Int, group: String, start: Long, var end: Long)

final class StageEvent(val id: Int, val attempt: Int, val job: Int, val group: String,
    val submitted: Long) {
  var completed = 0L
  var tasks = 0
  var failedTasks = 0
  var busyMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleBlocks = 0L
}

/**
 * Records every job, stage and task the benchmark causes. The benchmark
 * sets a job group per op, so each event carries the op that caused it.
 */
final class SparkEvents extends SparkListener {
  val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobEvent]
  val stages = scala.collection.mutable.LinkedHashMap.empty[(Int, Int), StageEvent]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  // ops run with tracing off mark their job group "u-<op>": skipped, so
  // the overhead comparison sees the recording cost
  private def skipped(p: java.util.Properties): Boolean = group(p).startsWith("u-")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (skipped(e.properties)) return
    jobs(e.jobId) = JobEvent(e.jobId, group(e.properties), e.time, 0L)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (skipped(e.properties)) return
    val i = e.stageInfo
    stages((i.stageId, i.attemptNumber())) = new StageEvent(i.stageId, i.attemptNumber(),
      stageJob.getOrElse(i.stageId, -1), group(e.properties),
      i.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { s =>
      s.completed = i.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.tasks += 1
      val info = e.taskInfo
      if (info != null) {
        if (info.failed || info.killed) s.failedTasks += 1
        s.busyMs += info.finishTime - info.launchTime
      }
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleBlocks += m.shuffleReadMetrics.totalBlocksFetched
      }
    }
  }
}
