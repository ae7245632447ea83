package graft.index

import org.apache.spark.{OneToOneDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SQLExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructType}
import org.apache.spark.storage.StorageLevel

import graft.functions.VectorKernels

/**
 * One inverted list, packed for scoring: the ids and the rows' vectors,
 * in file order. Rows with a null id or vector are dropped at load, as
 * every scan path skips them.
 */
private[index] final case class ListBlock(listId: Int, ids: Array[Long], vecs: Array[Array[Float]])

/**
 * A served epoch's lists held resident in the block manager — the
 * Spark form of the reference's declared `GpuCache` / `warmup_lists`
 * (lists loaded once for serving, PAPER.md §0).
 *
 * Layout: the lists are grouped into [[Sizing.residentParts]] partitions
 * (about `defaultParallelism`, never one per list), balanced by file
 * bytes. Each partition reads only its own lists' parquet files, so the
 * build needs no shuffle and a bounded search runs at most one task per
 * group, however many files appends have added to each list. A reload
 * after an append keeps the layout and reads only the new files, on top
 * of the previous blocks ([[ResidentLists.build]]).
 *
 * Cost: about n x (4·dim + 24) bytes for n vectors (the floats, an 8-byte
 * id and one array header per row), persisted `MEMORY_ONLY`. A group the
 * block manager evicts, or cannot fit, is re-read from its lists' epoch
 * files by the next search that probes it — the same work the pruned
 * parquet scan does for those lists — so eviction costs latency, never a
 * result. The file list is fixed at build, so a search on superseded
 * blocks (after [[release]]) still reads exactly its own snapshot.
 */
final class ResidentLists private (
    private[index] val blocks: RDD[ListBlock],
    private val root: String,
    private val files: Map[Int, Set[ResidentLists.FileRef]],
    private val partOf: Array[Int],
    private val groupBytes: Array[Long],
    private val depth: Int,
    val vectors: Long,
    dim: Int) {

  /** The cost model above, for the n vectors loaded at build. */
  def bytes: Long = vectors * (4L * dim + 24L)

  /** Drop the cached blocks (non-blocking). Searches already holding this
    * instance keep working: their partitions recompute from the files. */
  def release(): Unit = { blocks.unpersist(blocking = false); () }

  /** Score one probed batch in ONE Spark job over the groups holding its
    * lists; returns each query position's top-k, drained and merged,
    * plus the candidates scored. `listPos(l)` holds the positions into
    * `qvecs` of the queries probing list l (null when none). */
  private[index] def topK(
      qvecs: Array[Array[Float]], listPos: Array[Array[Int]],
      k: Int, metric: Int): (Array[TopKBuf], Long) = {
    val finals = new Array[TopKBuf](qvecs.length)
    val parts = listPos.indices.iterator
      .filter(l => listPos(l) != null && l < partOf.length && partOf(l) >= 0)
      .map(partOf).toArray.distinct.sorted
    if (parts.isEmpty) return (finals, 0L)
    val drained = blocks.sparkContext.runJob(blocks,
      new ResidentLists.Scorer(qvecs, listPos, k, metric), parts.toSeq)
    var candidates = 0L
    drained.foreach { d =>
      candidates += d.candidates
      var i = 0
      while (i < d.pos.length) {
        val p = d.pos(i)
        if (finals(p) == null) finals(p) = new TopKBuf(k)
        val ids = d.ids(i)
        val dists = d.dists(i)
        var j = 0
        while (j < ids.length) { finals(p).insert(dists(j), ids(j)); j += 1 }
        i += 1
      }
    }
    finals.foreach(b => if (b != null) b.drain())
    (finals, candidates)
  }
}

object ResidentLists {

  /** One task's drained buffers: per query position, its ids and
    * distances ascending by (dist, id). */
  private[index] final case class Drained(
      pos: Array[Int], ids: Array[Array[Long]], dists: Array[Array[Double]],
      candidates: Long)

  /** The task function. A named class, not a lambda: `runJob` cleans a
    * lambda by re-reading its enclosing class's bytecode on every search,
    * and this captures only the batch, never the RDD or its owner. Each
    * row is scored against all its list's queries in one
    * [[VectorKernels.distancesTo]] call. */
  private final class Scorer(
      qvecs: Array[Array[Float]], listPos: Array[Array[Int]], k: Int, metric: Int)
      extends (Iterator[ListBlock] => Drained) with Serializable {
    override def apply(blocks: Iterator[ListBlock]): Drained = {
      val bufs = new Array[TopKBuf](qvecs.length)
      var dists: Array[Double] = Array.emptyDoubleArray
      var candidates = 0L
      while (blocks.hasNext) {
        val b = blocks.next()
        val pos = if (b.listId < listPos.length) listPos(b.listId) else null
        if (pos != null && b.ids.nonEmpty) {
          pos.foreach(p => if (bufs(p) == null) bufs(p) = new TopKBuf(k))
          if (dists.length < pos.length) dists = new Array[Double](pos.length)
          var r = 0
          while (r < b.ids.length) {
            VectorKernels.distancesTo(b.vecs(r), qvecs, pos, metric, dists)
            val id = b.ids(r)
            var j = 0
            while (j < pos.length) { bufs(pos(j)).insert(dists(j), id); j += 1 }
            r += 1
          }
          candidates += pos.length.toLong * b.ids.length
        }
      }
      val live = bufs.indices.filter(bufs(_) != null).toArray
      val drained = live.map(bufs(_).drain())
      Drained(live, drained.map(b => Array.tabulate(b.size)(b.id)),
        drained.map(b => Array.tabulate(b.size)(b.dist)), candidates)
    }
  }

  /** Extensions stacked on one full load before the next load re-reads
    * every list: each one adds a lineage level that every search job
    * serializes and an evicted group replays. */
  private val MaxDepth = 8

  /**
   * Load `vectors` resident and materialize it (one Spark job), or None
   * when it is not a list-partitioned parquet relation of (integral `id`,
   * ARRAY<FLOAT> `vec`) — such an index keeps serving from its SQL plan.
   * Lists outside [0, nlist) are never probed, so they are not loaded.
   *
   * When `previous` holds the same epoch directory and every file it
   * loaded is still listed (an append only adds files), the new blocks
   * extend it: same groups, and only the new files are read, merged onto
   * the previous blocks (whose vectors are shared, not copied). Otherwise
   * every list is read.
   */
  private[index] def build(vectors: DataFrame, nlist: Int, dim: Int,
      previous: Option[ResidentLists] = None): Option[ResidentLists] =
    vectors.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation if r.fileFormat.isInstanceOf[ParquetFileFormat] &&
            r.partitionSchema.fieldNames.toSeq == Seq("list_id") &&
            r.partitionSchema.head.dataType == IntegerType &&
            readable(r.dataSchema) =>
          Some(load(vectors.sparkSession, r, nlist, dim, previous))
        case _ => None
      }
      case _ => None
    }

  private def readable(schema: StructType): Boolean = {
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    types.get("id").exists(Set(LongType, IntegerType)) &&
      types.get("vec").exists {
        case ArrayType(FloatType, _) => true
        case _ => false
      }
  }

  /** A data file: (url, length, modification time). */
  private[index] type FileRef = (String, Long, Long)

  private def load(spark: SparkSession, r: HadoopFsRelation, nlist: Int, dim: Int,
      previous: Option[ResidentLists]): ResidentLists = {
    val root = r.location.rootPaths.mkString(",")
    val lists: Map[Int, Array[FileRef]] = r.location.listFiles(Nil, Nil).iterator
      .filter(d => !d.values.isNullAt(0))
      .map(d => (d.values.getInt(0), d.files.map(_.fileStatus).toArray.map(f =>
        (SparkPath.fromFileStatus(f).urlEncoded, f.getLen, f.getModificationTime))))
      .filter { case (l, fs) => l >= 0 && l < nlist && fs.nonEmpty }
      .toMap
    val base = previous.filter(p => p.root == root && p.depth < MaxDepth &&
      p.files.forall { case (l, old) => lists.get(l).exists(fs => old.subsetOf(fs.toSet)) })
    val (partOf, groupBytes) = base match {
      case Some(p) => (p.partOf.clone(), p.groupBytes.clone())
      case None => (Array.fill(nlist)(-1), new Array[Long](Sizing.residentParts(spark, lists.size)))
    }
    // what each group reads: every file on a full load; on an extension,
    // the files the previous blocks lack, with new lists going to the
    // lightest group. Largest lists first, ties by id, so the layout is
    // deterministic
    val toRead = lists.toArray.map { case (l, fs) =>
      val known = base.flatMap(_.files.get(l)).getOrElse(Set.empty)
      (l, fs.filterNot(known))
    }.filter(_._2.nonEmpty).sortBy { case (l, fs) => (-fs.map(_._2).sum, l) }
    val reads = Array.fill(groupBytes.length)(Array.newBuilder[(Int, Array[FileRef])])
    toRead.foreach { case e @ (l, fs) =>
      if (partOf(l) < 0) partOf(l) = groupBytes.indices.minBy(i => (groupBytes(i), i))
      groupBytes(partOf(l)) += fs.map(_._2).sum
      reads(partOf(l)) += e
    }
    val required = StructType(Seq(r.dataSchema("id"), r.dataSchema("vec")))
    // the reader the parquet scan itself builds, returning rows (not
    // columnar batches) of just (id, vec)
    val read = r.fileFormat.buildReaderWithPartitionValues(spark, r.dataSchema,
      new StructType(), required, Nil,
      r.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConfWithOptions(r.options))
    val parent = base.map(_.blocks)
    val groups = reads.zipWithIndex.map { case (g, i) =>
      new ListGroup(i, g.result().sortBy(_._1), parent.map(_.partitions(i)).orNull)
    }
    val rdd = new ListBlockRDD(spark.sparkContext, groups, read,
      required("id").dataType == LongType, parent)
    rdd.setName(s"resident lists $root")
    rdd.persist(StorageLevel.MEMORY_ONLY)
    val n = rdd.sparkContext.runJob(rdd, (it: Iterator[ListBlock]) =>
      it.map(_.ids.length.toLong).sum).sum
    new ResidentLists(rdd, root, lists.map { case (l, fs) => l -> fs.toSet },
      partOf, groupBytes, base.fold(0)(_.depth + 1), n, dim)
  }
}

/** One group of lists: the files each list reads here, and the previous
  * blocks' partition these extend (null on a full load). */
private final class ListGroup(
    override val index: Int,
    val lists: Array[(Int, Array[ResidentLists.FileRef])],
    val base: Partition) extends Partition

/** Reads each group's lists into [[ListBlock]]s with the parquet reader
  * `read`, appended to the previous blocks of the group when `parent`
  * is set. A lost or evicted partition recomputes from its own files
  * (and its parent partition's) only. */
private final class ListBlockRDD(
    sc: SparkContext,
    @transient groups: Array[ListGroup],
    read: PartitionedFile => Iterator[InternalRow],
    longIds: Boolean,
    parent: Option[RDD[ListBlock]])
    extends RDD[ListBlock](sc, parent.map(new OneToOneDependency(_)).toList) {

  override protected def getPartitions: Array[Partition] = groups.map(g => g: Partition)

  override def compute(split: Partition, context: TaskContext): Iterator[ListBlock] = {
    val g = split.asInstanceOf[ListGroup]
    val fresh = g.lists.map { case (l, files) => l -> readList(files) }.toMap
    val old =
      if (g.base == null) Iterator.empty
      else firstParent[ListBlock].iterator(g.base, context)
    val extended = old.map { b =>
      fresh.get(b.listId).fold(b) { case (ids, vecs) => ListBlock(b.listId, b.ids ++ ids, b.vecs ++ vecs) }
    }.toArray
    val seen = extended.map(_.listId).toSet
    (extended.iterator ++ g.lists.iterator.collect {
      case (l, _) if !seen(l) => ListBlock(l, fresh(l)._1, fresh(l)._2)
    })
  }

  private def readList(files: Array[ResidentLists.FileRef]): (Array[Long], Array[Array[Float]]) = {
    val ids = Array.newBuilder[Long]
    val vecs = Array.newBuilder[Array[Float]]
    files.foreach { case (url, len, mtime) =>
      val rows = read(PartitionedFile(InternalRow.empty, SparkPath.fromUrlString(url),
        0L, len, Array.empty[String], mtime, len))
      while (rows.hasNext) {
        val row = rows.next()
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          ids += (if (longIds) row.getLong(0) else row.getInt(0).toLong)
          vecs += row.getArray(1).toFloatArray()
        }
      }
    }
    (ids.result(), vecs.result())
  }
}

/**
 * One bounded batch against [[ResidentLists]]: the deduplicated batch,
 * its per-list probe positions, k and the metric id. `run` is the whole
 * search — one Spark job plus the driver merge — and returns ranked
 * `(qid, id, dist, rank)` rows, qid ascending, then rank.
 */
private[index] final class ResidentQuery(
    lists: ResidentLists,
    qids: Array[Long],
    qvecs: Array[Array[Float]],
    listPos: Array[Array[Int]],
    k: Int,
    metric: Int) {

  def maxRows: Long = qids.length.toLong * k

  def run(): (Array[InternalRow], Long) = {
    val (bufs, candidates) = lists.topK(qvecs, listPos, k, metric)
    val out = Array.newBuilder[InternalRow]
    val writer = new UnsafeRowWriter(4)
    qids.indices.filter(bufs(_) != null).sortBy(qids(_)).foreach { p =>
      val b = bufs(p)
      var j = 0
      while (j < b.size) {
        writer.reset()
        writer.write(0, qids(p))
        writer.write(1, b.id(j))
        writer.write(2, b.dist(j))
        writer.write(3, j + 1)
        out += writer.getRow.copy()
        j += 1
      }
    }
    (out.result(), candidates)
  }
}

/**
 * The resident search as a plan leaf, so `search` stays lazy and returns
 * a DataFrame.
 */
case class ResidentTopKNode(
    @transient query: ResidentQuery,
    override val output: Seq[Attribute]) extends LeafNode with MultiInstanceRelation {
  override def maxRows: Option[Long] = Some(query.maxRows)
  override def computeStats(): Statistics = Statistics(sizeInBytes = BigInt(query.maxRows) * 28)
  override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))
}

/**
 * Executes a [[ResidentTopKNode]]. A collect (or take) runs exactly one
 * Spark job: the scoring job, whose merged rows are returned directly.
 * Any other consumer gets those rows through a one-partition RDD (a
 * second, trivial job). Everything runs on the driver, so the batch is
 * transient: a plan tree that ships inside a task closure (whole-stage
 * codegen captures its subtree) does not carry it.
 */
case class ResidentTopKExec(
    @transient query: ResidentQuery,
    override val output: Seq[Attribute]) extends LeafExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numCandidates" -> SQLMetrics.createMetric(sparkContext, "candidates scored"))

  override def executeCollect(): Array[InternalRow] = {
    val (rows, candidates) = query.run()
    longMetric("numCandidates") += candidates
    longMetric("numOutputRows") += rows.length
    Option(sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY)).foreach(id =>
      SQLMetrics.postDriverMetricUpdates(sparkContext, id, metrics.values.toSeq))
    rows
  }

  override def executeTake(n: Int): Array[InternalRow] = executeCollect().take(n)

  override def executeTail(n: Int): Array[InternalRow] = executeCollect().takeRight(n)

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)
}

/** Plans [[ResidentTopKNode]]; injected additively per session. */
object ResidentTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ResidentTopKNode(query, output) => ResidentTopKExec(query, output) :: Nil
    case _ => Nil
  }
}

object ResidentTopK {

  /** The search of `query` as a DataFrame (qid, id, dist, rank); no job
    * runs until it is executed. */
  private[index] def apply(spark: SparkSession, query: ResidentQuery): DataFrame = {
    GraftSqlBridge.ensureStrategy(spark, ResidentTopKStrategy)
    GraftSqlBridge.ofRows(spark, ResidentTopKNode(query, RankTopK.outputAttrs))
  }
}
