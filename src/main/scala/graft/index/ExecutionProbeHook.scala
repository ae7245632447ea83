package graft.index

import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Fires a search's callbacks when its plan EXECUTES, not when it is
 * built. The reference counts a list access when a query runs against it
 * (engine/ivf_flat_index.cpp:227-229) and records search latency per
 * executed request (MetricsCollector::record_search_latency); a
 * constructed-but-never-run DataFrame must heat no hot-list stats and
 * record no latency.
 *
 * The callbacks ride in the plan: [[arm]] puts a pass-through
 * [[ProbedNode]] above the search (or adds to the one already there), and
 * ONE listener per session, on each successful execution, finds every
 * [[ProbedExec]] in the executed plan and calls its callbacks with the
 * action's wall time in ns. So every successful execution fires once,
 * re-executing a DataFrame fires again, a failed action fires nothing,
 * and a callback lives exactly as long as the DataFrame holding it. The
 * callbacks run on the listener bus thread, after the action returns.
 */
private[graft] object ExecutionProbeHook {

  /** `df` with `fire` called (with the execution's duration in ns) on each
    * successful execution of the result. */
  def arm(df: DataFrame, fire: Long => Unit): DataFrame = {
    val spark = df.sparkSession
    GraftSqlBridge.ensureStrategy(spark, ProbedStrategy)
    ensureListener(spark)
    val plan = df.queryExecution.analyzed match {
      case ProbedNode(callbacks, child) => ProbedNode(callbacks :+ fire, child)
      case other => ProbedNode(Seq(fire), other)
    }
    GraftSqlBridge.ofRows(spark, plan)
  }

  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  private def ensureListener(spark: SparkSession): Unit =
    registered.synchronized {
      if (registered.get(spark) == null) {
        registered.put(spark, java.lang.Boolean.TRUE)
        spark.listenerManager.register(Listener)
      }
    }

  private object Listener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      collect(qe.executedPlan) { case p: ProbedExec => p }.foreach(_.callbacks.foreach { cb =>
        try cb(durationNs)
        catch { case NonFatal(e) => System.err.println(s"[graft] search callback failed: $e") }
      })
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}

/** A search's execution callbacks, carried above its plan
  * ([[ExecutionProbeHook.arm]]). Transient: the driver alone fires them. */
case class ProbedNode(@transient callbacks: Seq[Long => Unit], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): ProbedNode = copy(child = c)
}

/** Executes a [[ProbedNode]] as its child: every entry point hands over,
  * so a resident collect stays one job. */
case class ProbedExec(@transient callbacks: Seq[Long => Unit], child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override def executeCollect(): Array[InternalRow] = child.executeCollect()
  override def executeTake(n: Int): Array[InternalRow] = child.executeTake(n)
  override def executeTail(n: Int): Array[InternalRow] = child.executeTail(n)
  override protected def withNewChildInternal(c: SparkPlan): ProbedExec = copy(child = c)
}

/** Plans [[ProbedNode]]; injected additively per session. */
object ProbedStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ProbedNode(callbacks, child) => ProbedExec(callbacks, planLater(child)) :: Nil
    case _ => Nil
  }
}
