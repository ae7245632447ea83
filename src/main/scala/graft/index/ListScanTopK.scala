package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.functions.{PqKernels, VectorKernels}

/**
 * The static serving path's per-list scan + partial top-k as ONE physical
 * operator — the closest Spark expression of the reference's search_list
 * kernel feeding per-thread insertion buffers (reference
 * engine/kernels.cuh:83-170, ivf_flat_index.cpp:205-256): each corpus row
 * `(id, list_id, payload)` is scored against every query probing its list
 * (from a driver-built broadcast probe index) and the (qid, id, dist)
 * candidates go STRAIGHT into the per-query top-k buffers, never existing
 * as rows in the plan.
 *
 * This replaces the previous static-path shape
 * `scan -> join(broadcast probe pairs) -> distance-per-candidate-row ->
 * PartialTopK`, which materialized nprobe-ish candidate rows per corpus row
 * through whole-stage-generated glue. Two wins, one of them the fix for a
 * long-standing bench instability:
 *
 *  - **Steady-state**: the row payload decodes ONCE per corpus row (not
 *    once per candidate), and the per-candidate broadcast-map lookup /
 *    boxed-key hashing / join-row copy disappear — the only per-candidate
 *    work left is the distance kernel plus a buffer insert.
 *  - **Deopt immunity**: per-candidate work now lives in stable library
 *    classes (this operator + [[VectorKernels]]/[[PqKernels]]), compiled
 *    once per JVM. The generated glue touches only corpus rows. Rounds
 *    3-6 of the scale bench showed the SAME plan intermittently burning
 *    10-18x CPU on identical input (nmethods of the per-query generated
 *    class went zombie and the 8M-candidate hot loop re-ran
 *    interpreted/deoptimized); a fixed always-hot calibration loop on
 *    another thread stayed flat during those runs, pinning the spikes to
 *    JVM recompilation of per-query codegen, which this operator removes
 *    from the per-candidate path.
 *
 * Output: partial top-k rows `(_1 qid LONG, _2 id LONG, _3 dist DOUBLE)`,
 * at most distinct(qid) x k per partition, ready for
 * [[TopKAggregator.finalizePartial]]'s typed merge. Memory is bounded at
 * any query cardinality: past `maxKeys` distinct qids the buffer map
 * drains to the output stream and restarts (fragments re-merge in the
 * final aggregation).
 */
case class ListScanTopKNode(
    k: Int,
    maxKeys: Int,
    scorer: ListScorer,
    override val output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  // consumes every child column — blocks column pruning from deleting the
  // (id, list_id, payload) inputs the exec reads positionally
  override def references: AttributeSet = child.outputSet
  // the (_1, _2, _3) outputs are minted here, not read from the child
  override def producedAttributes: AttributeSet = outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): ListScanTopKNode =
    copy(child = newChild)
}

case class ListScanTopKExec(
    k: Int,
    maxKeys: Int,
    scorer: ListScorer,
    override val output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def producedAttributes: AttributeSet = outputSet

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numCandidates" -> SQLMetrics.createMetric(sparkContext, "candidates scored"))

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val maxLocal = maxKeys
    val scorerLocal = scorer
    val childTypes = child.output.map(_.dataType)
    require(childTypes.take(2) == Seq(LongType, IntegerType),
      s"ListScanTopKExec needs (LONG id, INT list_id, payload) input, got $childTypes")
    val outRows = longMetric("numOutputRows")
    val cands = longMetric("numCandidates")
    child.execute().mapPartitions({ rows =>
      TopKScanIterator(rows, scorerLocal, kLocal, maxLocal, outRows, cands)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ListScanTopKExec =
    copy(child = newChild)
}

/**
 * THE per-partition scan → score → partial-top-k loop, shared by every
 * deopt-immune operator ([[ListScanTopKExec]] over a driver-built probe
 * broadcast, [[BroadcastProbeTopKExec]] over an in-plan broadcast
 * exchange): pulls corpus rows `(id LONG, list_id INT, payload)` by
 * position and routes each through the scorer into the task's
 * [[PartialTopKCombine]], which drains `(_1 qid, _2 id, _3 dist)` partial
 * rows.
 */
object TopKScanIterator {
  def apply(
      rows: Iterator[InternalRow],
      scorer: ListScorer,
      k: Int,
      maxKeys: Int,
      outRows: SQLMetric,
      cands: SQLMetric): Iterator[InternalRow] =
    new PartialTopKCombine(rows, k, maxKeys, outRows, Some(cands))((r, sink) =>
      // null payload/list (e.g. a predicate-filtered projection) is
      // skipped, as a null candidate is inside PartialTopKExec
      if (!(r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)))
        scorer.scoreInto(r.getInt(1), r.getArray(2), r.getLong(0), sink))
}

/** Candidate receiver for [[ListScorer.scoreInto]] — implemented by the
  * task's [[PartialTopKCombine]]. */
trait TopKSink {
  def insert(qid: Long, id: Long, dist: Double): Unit
}

/**
 * Scores one corpus row against every query probing its list. Implemented
 * over a driver-built broadcast probe index; `scoreInto` runs in stable
 * (non-generated) code on the scan's hot path, so keep it allocation-light.
 */
trait ListScorer extends Serializable {
  def scoreInto(listId: Int, payload: ArrayData, id: Long, out: TopKSink): Unit
}

/**
 * Driver-built probe index for one static batch: the batch's vectors once
 * (never replicated per probe), and per-list positions into the batch.
 * ~(batch x dim x 4)B + 4B per (query, probe) pair — bounded by
 * [[IvfFlatIndex.MaxStaticBatch]], a few MB worst case.
 */
case class ProbeIndex(
    qids: Array[Long],
    qvecs: Array[Array[Float]],
    listPos: Array[Array[Int]])

object ProbeIndex {

  private val EmptyArray = new org.apache.spark.sql.catalyst.util.GenericArrayData(
    new Array[Any](0))

  /**
   * Threshold-pair kernel for the near-dup broadcast fast path
   * ([[graft.pipeline.Dedup.embeddingNearDup]]): all (a_id, dist) pairs of
   * probe-index entries in `listId` with a_id < rowId (each unordered pair
   * emits from exactly one side) and dist <= maxDist. Runs per corpus row
   * from [[graft.functions.NearPairs]] — the payload decodes once and the
   * whole inner loop stays in this stable class.
   */
  def nearPairsInList(
      vec: ArrayData,
      rowId: Long,
      listId: Int,
      pi: ProbeIndex,
      metric: Int,
      maxDist: Double): ArrayData = {
    if (listId < 0 || listId >= pi.listPos.length) return EmptyArray
    val pos = pi.listPos(listId)
    if (pos == null) return EmptyArray
    val v = VecScratch.local().decode(vec)
    var hits: scala.collection.mutable.ArrayBuffer[Any] = null
    var j = 0
    while (j < pos.length) {
      val p = pos(j)
      val q = pi.qids(p)
      if (q < rowId) {
        val d = VectorKernels.distance(v, pi.qvecs(p), metric)
        if (d <= maxDist) {
          if (hits == null) hits = new scala.collection.mutable.ArrayBuffer[Any](4)
          hits += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](q, d))
        }
      }
      j += 1
    }
    if (hits == null) EmptyArray
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(hits.toArray)
  }

  /** Build from a collected batch and its (qid, list_id) probe pairs. */
  def apply(batch: Array[(Long, Array[Float])], pairs: Array[(Long, Int)],
      nlist: Int): ProbeIndex = {
    val qids = new Array[Long](batch.length)
    val qvecs = new Array[Array[Float]](batch.length)
    val posOf = new java.util.HashMap[java.lang.Long, Integer](batch.length * 2)
    var i = 0
    while (i < batch.length) {
      qids(i) = batch(i)._1
      qvecs(i) = batch(i)._2
      // first entry wins on a duplicated qid — matching the flood fold
      // (BroadcastProbeTopK keeps the first qvec). The search paths hand
      // in batches already unique by qid (IvfFlatIndex.firstPerQid); the
      // self-join and near-dup fast paths pass corpora that may still
      // repeat ids
      posOf.putIfAbsent(batch(i)._1, i)
      i += 1
    }
    val perList = Array.fill(nlist)(new scala.collection.mutable.ArrayBuilder.ofInt)
    pairs.foreach { case (qid, list) => perList(list) += posOf.get(qid).intValue() }
    ProbeIndex(qids, qvecs, perList.map { b =>
      val a = b.result(); if (a.isEmpty) null else a
    })
  }
}

/** Per-thread [[VectorKernels.Scratch]] for the scan scorers, which
  * decode every corpus row once: ~500 B x corpus rows x runs of garbage
  * per scan before (multi-second GC spikes on the 200k-row scale-bench
  * scan, runtime 3x its CPU). Separate from `distanceCols`' buffers, so
  * a scorer's decoded row never aliases a kernel operand. */
private[index] object VecScratch {
  private val tl =
    ThreadLocal.withInitial[VectorKernels.Scratch](() => new VectorKernels.Scratch)
  def local(): VectorKernels.Scratch = tl.get()
}

/** Flat-vector scorer: payload is the row's ARRAY<FLOAT> vector, decoded
  * once and scored against all its probing queries in one
  * [[VectorKernels.distancesTo]] call.
  * `excludeSelf` skips qid == id pairs — the self-join reformulation
  * treats every corpus vector as a query and must not rank itself. */
final class FlatListScorer(
    bc: Broadcast[ProbeIndex], metric: Int,
    excludeSelf: Boolean = false) extends ListScorer {
  override def scoreInto(listId: Int, payload: ArrayData, id: Long, out: TopKSink): Unit =
    FlatListScorer.scoreRow(bc.value, metric, excludeSelf, listId, payload, id, out)
}

object FlatListScorer {
  /** One corpus row against every query probing its list — the loop shared
    * by the driver-broadcast scorer above and the executor-local
    * [[LocalFlatScorer]] of the in-plan-broadcast flood path. */
  @inline def scoreRow(
      pi: ProbeIndex, metric: Int, excludeSelf: Boolean,
      listId: Int, payload: ArrayData, id: Long, out: TopKSink): Unit = {
    if (listId >= 0 && listId < pi.listPos.length) {
      val pos = pi.listPos(listId)
      if (pos != null) {
        val scratch = VecScratch.local()
        val dists = scratch.distances(pos.length)
        VectorKernels.distancesTo(scratch.decode(payload), pi.qvecs, pos, metric, dists)
        var j = 0
        while (j < pos.length) {
          val qid = pi.qids(pos(j))
          if (!(excludeSelf && qid == id)) out.insert(qid, id, dists(j))
          j += 1
        }
      }
    }
  }
}

/** [[FlatListScorer]] over an executor-resident [[ProbeIndex]] (built per
  * task from an in-plan broadcast exchange, [[BroadcastProbeTopKExec]]) —
  * never serialized, so it holds the index directly instead of a
  * driver-created Broadcast handle. */
final class LocalFlatScorer(pi: ProbeIndex, metric: Int) extends ListScorer {
  override def scoreInto(listId: Int, payload: ArrayData, id: Long, out: TopKSink): Unit =
    FlatListScorer.scoreRow(pi, metric, excludeSelf = false, listId, payload, id, out)
}

/** PQ ADC scorer: payload is the row's ARRAY<BYTE> codes; each probing
  * query's driver-computed ADC table scores it by lookup-sum
  * (kernels.cuh:280-287). Tables live once per query in the broadcast. */
final class PqListScorer(
    bc: Broadcast[PqProbeIndex]) extends ListScorer {
  override def scoreInto(listId: Int, payload: ArrayData, id: Long, out: TopKSink): Unit = {
    val pi = bc.value
    if (listId >= 0 && listId < pi.listPos.length) {
      val pos = pi.listPos(listId)
      if (pos != null) {
        var j = 0
        while (j < pos.length) {
          val p = pos(j)
          out.insert(pi.qids(p), id, PqKernels.adcDistanceRaw(pi.tables(p), payload))
          j += 1
        }
      }
    }
  }
}

/** [[ProbeIndex]] twin for the PQ static path: per-query ADC tables
  * instead of raw vectors. */
case class PqProbeIndex(
    qids: Array[Long],
    tables: Array[Array[Array[Double]]],
    listPos: Array[Array[Int]])

object PqProbeIndex {
  def apply(batch: Array[(Long, Array[Float])], pairs: Array[(Long, Int)], nlist: Int,
      codebooks: Array[Array[Array[Float]]], metric: Int): PqProbeIndex = {
    val flat = ProbeIndex(batch, pairs, nlist)
    PqProbeIndex(flat.qids,
      flat.qvecs.map(PqKernels.adcTableRaw(_, codebooks, metric)), flat.listPos)
  }
}

object ListScanTopK {

  /** Wrap `corpus` — shaped (id LONG, list_id INT, payload) by POSITION —
    * in the scan-side top-k operator. Output columns are (_1, _2, _3) =
    * (qid, id, dist), the partial-rows contract of
    * [[TopKAggregator.finalizePartial]]. */
  def apply(corpus: DataFrame, scorer: ListScorer, k: Int,
      maxKeys: Int = TopKAggregator.MaxPartialKeys): DataFrame = {
    require(maxKeys > 0, s"maxKeys must be positive, got $maxKeys")
    val spark: SparkSession = corpus.sparkSession
    GraftSqlBridge.ensureStrategy(spark, ListScanTopKStrategy)
    val out = Seq(
      AttributeReference("_1", LongType, nullable = false)(),
      AttributeReference("_2", LongType, nullable = false)(),
      AttributeReference("_3", DoubleType, nullable = false)())
    GraftSqlBridge.ofRows(spark,
      ListScanTopKNode(k, maxKeys, scorer, out, corpus.queryExecution.analyzed))
  }
}

/** Plans [[ListScanTopKNode]]; injected additively per session. */
object ListScanTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ListScanTopKNode(k, maxKeys, scorer, out, child) =>
      ListScanTopKExec(k, maxKeys, scorer, out, planLater(child)) :: Nil
    case _ => Nil
  }
}
