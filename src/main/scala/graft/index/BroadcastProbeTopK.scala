package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.functions.PqKernels

/**
 * Deopt-immune BOUNDED flood search: [[ListScanTopK]] with the probe index
 * delivered through Spark's own lazy broadcast exchange instead of a
 * driver-built `SparkContext.broadcast`. The probed query rows
 * `(qid, qvec, list_id)` — one per (query, probe), computed DISTRIBUTED by
 * the probe expression — arrive as this operator's broadcast child
 * ([[IdentityBroadcastMode]]); each executor folds them ONCE (memoized on
 * the broadcast value) into the scorer's probe index and the corpus scan
 * runs the exact [[TopKScanIterator]] loop of the static path.
 *
 * Why this exists (round-7 task 1): the join-path shape it replaces
 * (`corpus join broadcast(probed)` → distance-per-candidate-row →
 * [[PartialTopK]]) ran all per-candidate work inside whole-stage-generated
 * glue, which rounds 3–6 measured intermittently executing 10–18×
 * slower when the per-plan generated class deoptimized (the exposure
 * [[ListScanTopK]] shed for the static path). Here generated code touches
 * only corpus rows; per-candidate work is the distance kernel plus a
 * buffer insert in scalac-compiled classes.
 *
 * Scale properties (the reason this is the BELOW-gate path):
 *  - the corpus NEVER shuffles — same single-pass scan-in-place as the
 *    broadcast equi-join it replaces, the property that matters at 100 TB
 *    (for PQ the unshuffled artifact is the codes table — reading it in
 *    place beats even the compact-codes shuffle of [[CoGroupTopK]]);
 *  - the broadcast ships each query vector ONCE (the equi-join's exchange
 *    shipped one copy per probe row, nprobe× more);
 *  - plan construction stays lazy (no driver jobs) — the ForceJoin /
 *    streaming-serve contract; the exchange collects the probed side only
 *    at execution, exactly like the hint-based join did internally.
 * Callers gate entry by [[Sizing.fitsBroadcastGate]]; above the gate
 * the flood goes through [[CoGroupTopK]] (co-partitioned, nothing
 * broadcast). Reference semantics unchanged: engine/kernels.cuh:84-185
 * per-list scan into per-thread insertion buffers; kernels.cuh:226-312
 * for the PQ lookup-sum.
 *
 * Output: partial rows `(_1 qid, _2 id, _3 dist)` for
 * [[TopKAggregator.finalizePartial]].
 */
case class BroadcastProbeTopKNode(
    k: Int,
    maxKeys: Int,
    factory: ProbeScorerFactory,
    override val output: Seq[Attribute],
    probed: LogicalPlan,
    corpus: LogicalPlan) extends BinaryNode {
  override def left: LogicalPlan = probed
  override def right: LogicalPlan = corpus
  // consumes every child column — blocks column pruning from deleting the
  // positionally-read (qid, qvec, list_id) / (id, list_id, payload) inputs
  override def references: AttributeSet = left.outputSet ++ right.outputSet
  override def producedAttributes: AttributeSet = outputSet
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): BroadcastProbeTopKNode =
    copy(probed = newLeft, corpus = newRight)
}

case class BroadcastProbeTopKExec(
    k: Int,
    maxKeys: Int,
    factory: ProbeScorerFactory,
    override val output: Seq[Attribute],
    probed: SparkPlan,
    corpus: SparkPlan) extends BinaryExecNode {

  override def left: SparkPlan = probed
  override def right: SparkPlan = corpus
  override def producedAttributes: AttributeSet = outputSet

  /** The probed side materializes as one executor-shared row array; the
    * corpus side scans wherever it already lives (no shuffle). */
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(BroadcastDistribution(IdentityBroadcastMode), UnspecifiedDistribution)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numCandidates" -> SQLMetrics.createMetric(sparkContext, "candidates scored"))

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val maxLocal = maxKeys
    val factoryLocal = factory
    val corpusTypes = corpus.output.map(_.dataType)
    require(corpusTypes.take(2) == Seq(LongType, IntegerType),
      s"BroadcastProbeTopKExec needs (LONG id, INT list_id, payload) corpus, got $corpusTypes")
    val probedTypes = probed.output.map(_.dataType)
    require(probedTypes.head == LongType && probedTypes(2) == IntegerType,
      s"BroadcastProbeTopKExec needs (LONG qid, qvec, INT list_id) probed side, got $probedTypes")
    val outRows = longMetric("numOutputRows")
    val cands = longMetric("numCandidates")
    val bcRows = probed.executeBroadcast[Array[InternalRow]]()
    corpus.execute().mapPartitions({ rows =>
      // the factory memoizes the heavy per-executor fold; the scorer
      // itself is per-task (it may hold mutable scan state)
      TopKScanIterator(rows, factoryLocal.scorer(bcRows.value),
        kLocal, maxLocal, outRows, cands)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastProbeTopKExec =
    copy(probed = newLeft, corpus = newRight)
}

/** Builds one [[ListScorer]] per TASK from the broadcast probed rows —
  * ships to executors inside the exec, so implementations hold only
  * serializable config (metric ids, broadcast handles) and fold the rows
  * through the memoizing helpers in [[BroadcastProbeTopK]]. */
trait ProbeScorerFactory extends Serializable {
  def scorer(rows: Array[InternalRow]): ListScorer
}

/** Flat-vector factory: fold rows → [[ProbeIndex]] (memoized), score with
  * the stateless executor-local flat scorer. */
final class FlatProbeScorerFactory(metric: Int) extends ProbeScorerFactory {
  override def scorer(rows: Array[InternalRow]): ListScorer =
    new LocalFlatScorer(BroadcastProbeTopK.probeIndexFor(rows), metric)
}

/** PQ factory: fold rows → [[PqFloodIndex]] (prepped queries, memoized);
  * each task gets its own [[PqLocalListScorer]] (mutable per-list table
  * cache). */
final class PqProbeScorerFactory(
    codebooks: Broadcast[Array[Array[Array[Float]]]],
    metric: Int) extends ProbeScorerFactory {
  override def scorer(rows: Array[InternalRow]): ListScorer =
    new PqLocalListScorer(
      BroadcastProbeTopK.pqFloodIndexFor(rows, metric), codebooks.value, metric)
}

/**
 * Per-executor fold of a PQ flood: queries PREPPED for ADC (doubles,
 * cosine-normalized per [[PqKernels.prepQuery]]) instead of raw floats,
 * plus the per-list probe positions. ADC tables are NOT precomputed here —
 * flood × 32 KB (m=16, ks=256) would be GBs; [[PqLocalListScorer]] builds
 * them per probed LIST on the scan, bounded by queries-per-list.
 */
case class PqFloodIndex(
    qids: Array[Long],
    prepped: Array[Array[Double]],
    listPos: Array[Array[Int]])

object PqLocalListScorer {
  /** ceil(ks / (1 - m/dim)) rows: one query's table costs ks x dim
    * multiply-adds and then m lookups a row, against dim a row direct, so
    * it pays once r x dim >= ks x dim + r x m. Never (Int.MaxValue) when
    * dim <= m: a one-dimension subspace looks up as dearly as it scores. */
  private[index] def breakEvenRows(books: Array[Array[Array[Float]]]): Int = {
    val m = books.length.toLong
    val ks = books(0).length.toLong
    val dim = books.iterator.map(_(0).length.toLong).sum
    if (dim <= m) Int.MaxValue
    else math.min((ks * dim + dim - m - 1) / (dim - m), Int.MaxValue.toLong).toInt
  }

  /** Per-task byte cap for one list's table block (queriesInList × m × ks
    * × 8 B): a hot list probed by a huge fraction of the flood scores
    * direct instead of allocating GBs. 64 MB ≈ 2k queries at m=16/ks=256. */
  val DefaultTableBudgetBytes: Long = 64L << 20
}

/**
 * PQ ADC scorer over an executor-resident [[PqFloodIndex]]: per corpus row
 * (payload = ARRAY<BYTE> codes), score every query probing the row's list
 * by table lookup-sum when the list is hot enough to justify building its
 * queries' tables (amortized over the list's rows), by direct
 * per-subspace arithmetic otherwise. Both modes are bit-identical by
 * construction ([[PqKernels.adcDistanceDirect]] is the same per-subspace
 * loop and accumulation order as [[PqKernels.adcTableFromPrepped]] +
 * lookup-sum), so the cutover never changes results — pinned by
 * BroadcastGateSpec's order/cutover test. Mutable state is per-task.
 *
 * `buildAfter`: consecutive rows of one list before its tables build
 * (`Some(0)` builds at a list's first row). None, the default, takes the
 * codebooks' [[PqLocalListScorer.breakEvenRows]], where tables pay for
 * themselves. Direct scoring covers the prefix, so a short run (a widened
 * flood hands each task ~1/p of every list) or a list-flapping row order
 * never builds tables at all. A fixed 32-row cutover made every widened
 * slice of a list build every probing query's 32 KB table (m 16, ks
 * 256): on perfbench `offline`'s widened ADC stage (4 cores, first unit,
 * 3 seeds) it took 7.1-8.1 s of task CPU and 2.2-2.5 s, against 3.5-4.8 s
 * and 1.1-1.4 s at the break-even (293 rows at m 16, ks 256, dim 128).
 */
final class PqLocalListScorer(
    pi: PqFloodIndex,
    books: Array[Array[Array[Float]]],
    metric: Int,
    buildAfter: Option[Int] = None,
    tableBudgetBytes: Long = PqLocalListScorer.DefaultTableBudgetBytes) extends ListScorer {

  private val tableBytes = books.length.toLong * books(0).length * 8L
  private val cutover = buildAfter.getOrElse(PqLocalListScorer.breakEvenRows(books))
  private var curList = -1
  private var run = 0
  private var tables: Array[Array[Array[Double]]] = null // aligned with listPos(curList)

  override def scoreInto(listId: Int, payload: ArrayData, id: Long, out: TopKSink): Unit = {
    if (listId < 0 || listId >= pi.listPos.length) return
    val pos = pi.listPos(listId)
    if (pos == null) return
    if (listId != curList) {
      curList = listId
      run = 0
      tables = null
    }
    run += 1
    if (tables == null && run >= cutover && pos.length * tableBytes <= tableBudgetBytes) {
      tables = new Array[Array[Array[Double]]](pos.length)
      var j = 0
      while (j < pos.length) {
        tables(j) = PqKernels.adcTableFromPrepped(pi.prepped(pos(j)), books, metric)
        j += 1
      }
    }
    var j = 0
    if (tables != null) {
      while (j < pos.length) {
        out.insert(pi.qids(pos(j)), id, PqKernels.adcDistanceRaw(tables(j), payload))
        j += 1
      }
    } else {
      while (j < pos.length) {
        out.insert(pi.qids(pos(j)), id,
          PqKernels.adcDistanceDirect(pi.prepped(pos(j)), books, metric, payload))
        j += 1
      }
    }
  }
}

object BroadcastProbeTopK {

  /** Per-executor probe-index memo, keyed on the broadcast's deserialized
    * row-array identity (one instance per executor, held by the block
    * manager): every task of every partition reuses one fold, and the
    * entry dies with the broadcast block. */
  private val piCache = new java.util.WeakHashMap[AnyRef, AnyRef]

  private def memo[T <: AnyRef](rows: Array[InternalRow], key: String)(build: => T): T =
    piCache.synchronized {
      // keyed on the rows array identity with a tiny per-kind map as the
      // value (one broadcast can feed flat AND pq scorers in one plan
      // tree), so every entry still dies with its broadcast block
      var kinds = piCache.get(rows).asInstanceOf[java.util.HashMap[String, AnyRef]]
      if (kinds == null) {
        kinds = new java.util.HashMap[String, AnyRef]
        piCache.put(rows, kinds)
      }
      var v = kinds.get(key)
      if (v == null) {
        v = build
        kinds.put(key, v)
      }
      v.asInstanceOf[T]
    }

  private[index] def probeIndexFor(rows: Array[InternalRow]): ProbeIndex =
    memo(rows, "flat") {
      val (qids, qvecs, perList) = fold(rows, identity[Array[Float]])
      ProbeIndex(qids, qvecs, perList)
    }

  private[index] def pqFloodIndexFor(rows: Array[InternalRow], metric: Int): PqFloodIndex =
    memo(rows, s"pq-$metric") {
      val (qids, prepped, perList) = fold(rows, PqKernels.prepQuery(_, metric))
      PqFloodIndex(qids, prepped, perList)
    }

  /** Fold broadcast probed rows (qid, qvec, list_id): each query's vector
    * decoded and transformed ONCE (the rows repeat it per probe),
    * per-list positions into the batch. */
  private def fold[Q <: AnyRef: scala.reflect.ClassTag](
      rows: Array[InternalRow],
      prep: Array[Float] => Q): (Array[Long], Array[Q], Array[Array[Int]]) = {
    var nlist = 0
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      if (!r.isNullAt(2)) {
        val l = r.getInt(2)
        if (l + 1 > nlist) nlist = l + 1
      }
      i += 1
    }
    val posOf = new java.util.HashMap[java.lang.Long, Integer]()
    val qids = new scala.collection.mutable.ArrayBuffer[Long]
    val qvecs = new scala.collection.mutable.ArrayBuffer[Q]
    val perList = Array.fill(nlist)(new scala.collection.mutable.ArrayBuilder.ofInt)
    i = 0
    while (i < rows.length) {
      val r = rows(i)
      // a null qvec query yields no rows (matches the old join path, where
      // its null distances were dropped inside the top-k)
      if (!(r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2))) {
        val qid = r.getLong(0)
        var p = posOf.get(qid)
        if (p == null) {
          p = Integer.valueOf(qids.length)
          posOf.put(qid, p)
          qids += qid
          qvecs += prep(r.getArray(1).toFloatArray())
        }
        perList(r.getInt(2)) += p.intValue()
      }
      i += 1
    }
    (qids.toArray, qvecs.toArray, perList.map { b =>
      val a = b.result(); if (a.isEmpty) null else a
    })
  }

  /**
   * Wrap a probed query stream and a corpus in the operator. `probed`
   * needs columns (qid, qvec, list_id) — one row per (query, probe);
   * `corpus` needs (id, list_id, <payload>) where payload is the column
   * named by `payloadCol` (flat vectors or PQ codes). Output is the
   * partial-rows contract of [[TopKAggregator.finalizePartial]].
   */
  def apply(probed: DataFrame, corpus: DataFrame, k: Int,
      factory: ProbeScorerFactory,
      payloadCol: String = "vec",
      maxKeys: Int = TopKAggregator.MaxPartialKeys): DataFrame = {
    require(maxKeys > 0, s"maxKeys must be positive, got $maxKeys")
    val spark: SparkSession = probed.sparkSession
    GraftSqlBridge.ensureStrategy(spark, BroadcastProbeTopKStrategy)
    val out = Seq(
      AttributeReference("_1", LongType, nullable = false)(),
      AttributeReference("_2", LongType, nullable = false)(),
      AttributeReference("_3", DoubleType, nullable = false)())
    val probedPlan = probed
      .select(col("qid").cast("long"), col("qvec"), col("list_id").cast("int"))
      .queryExecution.analyzed
    val corpusPlan = corpus
      .select(col("id").cast("long"), col("list_id").cast("int"), col(payloadCol))
      .queryExecution.analyzed
    GraftSqlBridge.ofRows(spark,
      BroadcastProbeTopKNode(k, maxKeys, factory, out, probedPlan, corpusPlan))
  }

  /** Flat-vector flood (corpus payload = ARRAY<FLOAT> `vec`). */
  def flat(probed: DataFrame, corpus: DataFrame, k: Int, metric: Int): DataFrame =
    apply(probed, corpus, k, new FlatProbeScorerFactory(metric))

  /** PQ ADC flood (corpus payload = ARRAY<BYTE> `codes`). */
  def pq(probed: DataFrame, codes: DataFrame, k: Int,
      codebooks: Broadcast[Array[Array[Array[Float]]]], metric: Int): DataFrame =
    apply(probed, codes, k, new PqProbeScorerFactory(codebooks, metric),
      payloadCol = "codes")
}

/** Plans [[BroadcastProbeTopKNode]]; injected additively per session. */
object BroadcastProbeTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BroadcastProbeTopKNode(k, maxKeys, factory, out, probed, corpus) =>
      BroadcastProbeTopKExec(k, maxKeys, factory, out,
        planLater(probed), planLater(corpus)) :: Nil
    case _ => Nil
  }
}
