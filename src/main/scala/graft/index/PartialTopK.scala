package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.GraftSqlBridge

/**
 * Map-side partial top-k as a first-class physical operator — the
 * partial/final shape of the reference's per-thread top-32 insertion
 * buffers feeding a k-way merge (reference engine/kernels.cuh:120-170,
 * ivf_flat_index.cpp:474-518), expressed as a narrow Catalyst node so the
 * surrounding plan (probe join, partition-pruned scan) stays visible in
 * `explain` instead of vanishing behind an opaque RDD boundary.
 *
 * Each partition's candidate stream `(qid LONG, id LONG, dist DOUBLE)` is
 * reduced to at most `distinct(qid) x k` rows in one pass, reading the
 * child's InternalRows with primitive getters and keying a primitive-long
 * open-addressing map ([[LongTopKMap]]): the per-candidate hot loop
 * allocates nothing. The typed-Dataset `mapPartitions` shape this replaces
 * paid a Tuple3 + two boxed Longs + a boxed Double (encoder decode) plus a
 * boxed HashMap key for every candidate — at tens of millions of
 * candidates per serving batch that allocation traffic, not the distance
 * kernel, dominated the profile.
 *
 * Memory stays bounded at any query cardinality: when a partition holds
 * more than `maxKeys` distinct qids the map drains to the output stream
 * and restarts (the final merge re-combines the fragments).
 */
case class PartialTopKNode(k: Int, maxKeys: Int, child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  // consumes every child column — blocks column pruning from deleting the
  // pass-through attributes
  override def references: AttributeSet = child.outputSet
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): PartialTopKNode =
    copy(child = newChild)
}

case class PartialTopKExec(k: Int, maxKeys: Int, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val maxLocal = maxKeys
    require(output.map(_.dataType) == Seq(LongType, LongType, DoubleType),
      s"PartialTopKExec needs (LONG, LONG, DOUBLE) input, got ${output.map(_.dataType)}")
    val outRows = longMetric("numOutputRows")
    child.execute().mapPartitions({ rows =>
      // null skip lives here, NOT as a Catalyst filter upstream: an
      // isnotnull on a computed distance column would be substituted into
      // the probe join's condition by predicate pushdown and the distance
      // kernel would evaluate twice per candidate
      new PartialTopKCombine(rows, kLocal, maxLocal, outRows, None)((r, sink) =>
        if (!(r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)))
          sink.insert(r.getLong(0), r.getLong(1), r.getDouble(2)))
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PartialTopKExec =
    copy(child = newChild)
}

/**
 * The per-task partial top-k combine that [[PartialTopKExec]] and
 * [[TopKScanIterator]] feed: `feed` routes each input row into this sink
 * (one candidate, or one corpus row scored against its list's queries),
 * which keeps one [[TopKBuf]] per qid in a [[LongTopKMap]] and emits the
 * buffers as `(qid, id, dist)` rows. Memory stays bounded at any query
 * cardinality: once `maxKeys` distinct qids are held the map drains to
 * the output stream and restarts (the final merge re-combines the
 * fragments). `cands`, when given, counts every inserted candidate.
 */
final class PartialTopKCombine(
    rows: Iterator[InternalRow],
    k: Int,
    maxKeys: Int,
    outRows: SQLMetric,
    cands: Option[SQLMetric])(
    feed: (InternalRow, TopKSink) => Unit) extends Iterator[InternalRow] with TopKSink {

  private val bufs = new LongTopKMap(1 << 10, maxKeys)
  // fixed 3-primitive schema -> hand-rolled UnsafeRow writer; an
  // UnsafeProjection.create here would re-run source generation +
  // codegen-cache lookup in EVERY task, which dominated small-batch
  // serving latency (measured ~2x task time at 100-query batches)
  private val writer = new UnsafeRowWriter(3)
  private var out: Iterator[InternalRow] = Iterator.empty
  private var scored = 0L

  override def insert(qid: Long, id: Long, dist: Double): Unit = {
    scored += 1
    var buf = bufs.get(qid)
    if (buf == null) { buf = new TopKBuf(k); bufs.put(qid, buf) }
    buf.insert(dist, id)
  }

  override def hasNext: Boolean = {
    while (!out.hasNext && rows.hasNext) advance()
    out.hasNext
  }
  override def next(): InternalRow = { hasNext; out.next() }

  private def advance(): Unit = {
    while (rows.hasNext && bufs.size < maxKeys) feed(rows.next(), this)
    cands.foreach(_ += scored)
    scored = 0L
    // the writer's UnsafeRow buffer is reused per row — fine for every
    // consumer (exchanges and object-deserializers copy eagerly), same
    // contract as codegen'd operators
    out = bufs.drain().iterator.flatMap { case (qid, buf) =>
      buf.drain()
      Iterator.range(0, buf.size).map { j =>
        writer.reset()
        writer.write(0, qid)
        writer.write(1, buf.id(j))
        writer.write(2, buf.dist(j))
        outRows += 1
        writer.getRow
      }
    }
  }
}

/** Plans [[PartialTopKNode]]; injected additively per session. */
object PartialTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PartialTopKNode(k, maxKeys, child) =>
      PartialTopKExec(k, maxKeys, planLater(child)) :: Nil
    case _ => Nil
  }
}

object PartialTopK {

  /** k above which [[TopKBuf]] keeps a max-heap instead of its sorted
    * array — one step past the reference's serving topk cap
    * (1 <= topk <= 1000, server/query_service.cpp:77), so every
    * serving-shaped search keeps the one-compare-reject buffer and only
    * rerank-all style exhaustive searches pay the heap's extra compare per
    * accept. */
  val HeapThreshold = 1024

  /** Wrap `candidates` — already shaped (qid LONG, id LONG, dist DOUBLE);
    * rows with a null slot are skipped inside the operator — in the
    * partial top-k operator. */
  def apply(candidates: DataFrame, k: Int, maxKeys: Int): DataFrame = {
    val spark: SparkSession = candidates.sparkSession
    GraftSqlBridge.ensureStrategy(spark, PartialTopKStrategy)
    GraftSqlBridge.ofRows(spark,
      PartialTopKNode(k, maxKeys, candidates.queryExecution.analyzed))
  }
}
