package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/**
 * FINAL top-k merge + rank as a physical operator: consumes a partial
 * candidate stream `(qid LONG, id LONG, dist DOUBLE)` that is
 * co-partitioned on qid and sorted by qid within partitions, walks each
 * qid's run with ONE live bounded buffer, and emits the ranked rows
 * `(qid, id, dist, rank)` directly — the k-way merge of the reference's
 * per-thread partial buffers (ivf_flat_index.cpp:474-518) as the merge
 * half of [[PartialTopKExec]].
 *
 * The stream crosses the exchange as 24-byte UnsafeRows (no encoder
 * boxing, no top-k buffers serialized across the partial/final shuffle),
 * the run walk reads primitive getters, and nothing allocates per
 * candidate.
 *
 * Memory is one [[TopKBuf]] regardless of query cardinality (the sort
 * that groups runs is Spark's spillable UnsafeExternalSorter); semantics
 * are the buffer's: (dist, id) ascending ties, NaN never ranks, exact
 * (dist, id) duplicates collapse. Null slots are skipped.
 *
 * Callers provide the clustering + in-partition sort explicitly
 * (`repartition(n, qid)` + `sortWithinPartitions(qid)`) so the exchange
 * carries an explicit partition count: flood merging is compute-heavy per
 * byte and an EnsureRequirements-inserted exchange would be fair game for
 * AQE's byte-based coalescing (the starvation [[CoGroupTopK]] documents).
 * The operator still DECLARES its requirements, so a caller that forgets
 * gets a correct (if coalescible) plan, not a wrong answer.
 */
// output rides as a constructor param so plan rewrites (copy /
// withNewChildren) preserve the attribute expr-ids downstream operators
// already reference
case class RankTopKNode(k: Int, override val output: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
  // consumes every child column — blocks column pruning from deleting the
  // positionally-read (qid, id, dist) inputs
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = outputSet
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): RankTopKNode =
    copy(child = newChild)
}

case class RankTopKExec(k: Int, override val output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override def producedAttributes: AttributeSet = outputSet

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(child.output.head)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(child.output.head, Ascending)))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    require(child.output.map(_.dataType) == Seq(LongType, LongType, DoubleType),
      s"RankTopKExec needs (LONG, LONG, DOUBLE) input, got ${child.output.map(_.dataType)}")
    val outRows = longMetric("numOutputRows")
    child.execute().mapPartitions({ rows =>
      new Iterator[InternalRow] {
        // fresh buffer per run: the drained iterator reads the RETIRED
        // buffer lazily while the next run fills a new one
        private var buf: TopKBuf = null
        private var curQid = 0L
        private var haveRun = false
        private var exhausted = false
        private val writer = new UnsafeRowWriter(4)
        private var out: Iterator[InternalRow] = Iterator.empty

        override def hasNext: Boolean = {
          while (!out.hasNext && !exhausted) advance()
          out.hasNext
        }
        override def next(): InternalRow = { hasNext; out.next() }

        private def newRun(qid: Long): Unit = {
          curQid = qid
          haveRun = true
          buf = new TopKBuf(kLocal)
        }

        /** Retire the current run's buffer into an output iterator. The
          * writer's UnsafeRow is reused per row — consumers (exchanges,
          * object converters) copy eagerly, the codegen contract. */
        private def drainRun(): Iterator[InternalRow] = {
          if (!haveRun) return Iterator.empty
          val qid = curQid
          @inline def emit(id: Long, dist: Double, rank: Int): InternalRow = {
            writer.reset()
            writer.write(0, qid)
            writer.write(1, id)
            writer.write(2, dist)
            writer.write(3, rank)
            outRows += 1
            writer.getRow
          }
          val b = buf.drain()
          Iterator.range(0, b.size).map(j => emit(b.id(j), b.dist(j), j + 1))
        }

        private def advance(): Unit = {
          while (rows.hasNext) {
            val r = rows.next()
            if (!(r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2))) {
              val qid = r.getLong(0)
              if (!haveRun) newRun(qid)
              else if (qid != curQid) {
                out = drainRun()
                newRun(qid)
                buf.insert(r.getDouble(2), r.getLong(1))
                return
              }
              buf.insert(r.getDouble(2), r.getLong(1))
            }
          }
          exhausted = true
          out = drainRun()
          haveRun = false
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): RankTopKExec =
    copy(child = newChild)
}

/** Plans [[RankTopKNode]]; injected additively per session. */
object RankTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RankTopKNode(k, output, child) =>
      RankTopKExec(k, output, planLater(child)) :: Nil
    case _ => Nil
  }
}

object RankTopK {

  private[index] def outputAttrs: Seq[Attribute] = Seq(
    AttributeReference("qid", LongType)(),
    AttributeReference("id", LongType)(),
    AttributeReference("dist", DoubleType)(),
    AttributeReference("rank", IntegerType)())

  /** Wrap `partial` — already shaped (qid LONG, id LONG, dist DOUBLE),
    * co-partitioned on the first column and sorted by it within
    * partitions — in the final rank operator. */
  def apply(partial: DataFrame, k: Int): DataFrame = {
    val spark: SparkSession = partial.sparkSession
    GraftSqlBridge.ensureStrategy(spark, RankTopKStrategy)
    GraftSqlBridge.ofRows(spark,
      RankTopKNode(k, outputAttrs, partial.queryExecution.analyzed))
  }
}
