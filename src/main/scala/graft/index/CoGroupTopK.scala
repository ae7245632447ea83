package graft.index

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions.{col, explode, lit, pmod, sequence, xxhash64}

import graft.functions.{PqKernels, VectorKernels}

/**
 * Deopt-immune DISTRIBUTED flood search: the above-gate twin of
 * [[ListScanTopK]]. When a query flood is too large to ship as a
 * driver-built [[ProbeIndex]] broadcast, the probed queries and the corpus
 * are co-partitioned on `list_id` and each list's query x candidate
 * scoring runs inside THIS class's stable loops: the candidate pairs never
 * exist as rows in the plan, and the only per-candidate work is the
 * distance kernel plus a bounded-buffer insert (reference semantics:
 * engine/kernels.cuh:84-185 per-list scan feeding per-thread insertion
 * buffers, merged per query downstream).
 *
 * Rounds 3-6 measured the old join-path shape (equi-join ->
 * distance-per-candidate-row -> partial top-k) intermittently running
 * 10-18x slower on identical input: per-plan whole-stage-generated classes
 * executing at CANDIDATE cardinality went zombie under JIT code-cache
 * churn and the hot loop re-ran interpreted. Here generated code (shuffle
 * writers, encoder deserializers) touches each query row and corpus row
 * ONCE; the quadratic-per-list work lives in scalac-compiled methods,
 * compiled once per JVM — the exact property that fixed the static path.
 *
 * The co-partition is ONE shuffle of a tagged union (small side and big
 * side carry the same `(_skey, _tag, id, payload)` shape), hash-distributed
 * on the salted list key with an EXPLICIT partition count and sorted within
 * partitions on `(_skey, _tag)` so each task streams its groups in order,
 * buffering only the tag-0 side of the current group. The explicit count
 * matters: a typed `Dataset.cogroup` takes two Exchange nodes that AQE
 * coalesces BY BYTES, and flood scoring is compute-heavy per byte — at
 * bench scale AQE folded the scoring stage to 4 tasks (~2.3 s) that the
 * same work spread over `spark.sql.shuffle.partitions` tasks finishes in
 * a fraction of. A `repartition(n, col)` shuffle (REPARTITION_BY_NUM) is
 * exempt from coalescing, so the scoring stage keeps the parallelism the
 * user sized for the cluster.
 *
 * Memory per task is bounded by the buffered side of each list group:
 *  - flat: the QUERIES probing the list (flood x nprobe / nlist rows of
 *    dim floats — a few MB for realistic floods; raise nlist with corpus
 *    size, as the reference's sizing table does);
 *  - PQ: the list's CODES (m+8 bytes per corpus row — the most compact
 *    artifact in the system), so only ONE ADC table is ever resident.
 */
object CoGroupTopK {

  private val PartialEncoder = ExpressionEncoder[(Long, Long, Double)]()

  /** Conf key for the flood co-partition salt (sub-buckets per list).
    * k-means lists are skewed by nature; with salt S every list's CORPUS
    * rows split S ways by id hash (each candidate lands in exactly one
    * sub-bucket — lossless) and the list's probing queries replicate into
    * all S, so one hot list becomes S tasks instead of one quadratic
    * straggler. S multiplies only the shuffled QUERY rows (the small
    * side); corpus data movement is unchanged.
    *
    * Unset (the default), the salt is DERIVED from the corpus size
    * (r20, optimization-guide §2.2/§2.5: partitioning scale-adaptive,
    * not a constant tuned for one scale): buckets target
    * [[TargetBucketBytes]] of corpus payload each, so a bench-sized list
    * (KBs) takes salt 1 — no query replication, no empty sub-bucket
    * tasks — while a 100 TB list (GBs) splits into enough sub-buckets to
    * keep every core busy, capped by the session's shuffle parallelism
    * (more sub-buckets than partitions adds replication without adding
    * parallelism). The r19 constant (8) was wrong at BOTH scales. Set
    * the conf to pin a specific salt (tests, A/B runs). */
  val SaltKey = "spark.graft.flood.salt"

  /** Corpus bytes per sub-bucket the derived salt aims for. A bucket is
    * one task's sequential scan unit; 4 MB keeps tasks in the hundreds of
    * milliseconds even at one-query-per-list floods while staying far
    * above the per-task scheduling constant. */
  val TargetBucketBytes: Long = 4L << 20

  private[index] def saltOf(
      spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame,
      nlist: Int): Int =
    spark.conf.getOption(SaltKey) match {
      case Some(s) =>
        val v = s.toInt
        require(v >= 1, s"$SaltKey must be >= 1, got $v")
        v
      case None =>
        // logical-plan stats: free at plan time (no job), scan-accurate
        // for file sources; an unknown (huge) estimate degrades to the
        // parallelism cap, never below 1
        val bytes = corpus.queryExecution.optimizedPlan.stats.sizeInBytes
        // an UNKNOWN list count (the Int.MaxValue sentinel of callers
        // that skip nlist) must not divide the estimate to zero and
        // silently disable skew protection (r20 advice): with no list
        // information the pessimistic per-list estimate is the whole
        // corpus — one list could hold everything
        val perList =
          if (nlist <= 0 || nlist == Int.MaxValue) bytes
          else bytes / BigInt(nlist)
        // 4x skew headroom (r20 advice): the mean bytes-per-list
        // under-splits a hot k-means list several times the mean in the
        // below-cap regime; above the cap the clamp saturates either way
        val want = (perList * 4 + TargetBucketBytes - 1) / TargetBucketBytes
        want.min(BigInt(numParts(spark))).max(BigInt(1)).toInt
    }

  private def numParts(spark: org.apache.spark.sql.SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions

  /** Partition count for the co-partition shuffle: bounded by the
    * distinct salted-key space — nlist x salt groups spread over MANY
    * more partitions than groups just schedules empty tasks (each paying
    * the shuffle-writer's per-task file fan-out, the dominant fixed cost
    * the r20 stage profiles attributed). The 2x factor compensates hash
    * collisions (r20 advice): hashing g groups into exactly g partitions
    * co-locates ~1/e of them, so realized parallelism lands well under
    * one-group-per-partition; at 2g the expected busy-partition count is
    * ~0.8 g for the cost of g mostly-empty buckets. At scale
    * nlist x salt >> partitions and this is the session parallelism
    * unchanged. */
  private[index] def groupParts(spark: org.apache.spark.sql.SparkSession, nlist: Int, salt: Int): Int =
    math.max(1, math.min(numParts(spark),
      math.min(nlist.toLong * salt * 2, Int.MaxValue.toLong).toInt))

  /** (list_id, salt) composite grouping keys: corpus rows by id hash,
    * query rows replicated to every sub-bucket of their probed list. */
  private def saltedKey(listCol: String, salt: Int) =
    (col(listCol).cast("long") * salt +
      pmod(xxhash64(col("id")), lit(salt))).as("_skey")
  private def explodedSaltKeys(listCol: String, salt: Int) =
    explode(sequence(
      col(listCol).cast("long") * salt,
      col(listCol).cast("long") * salt + (salt - 1))).as("_skey")

  /**
   * Flat-vector flood search. `probed` is (qid LONG, qvec ARRAY<FLOAT>,
   * list_id INT) — one row per (query, probe); `corpus` is (id LONG,
   * list_id INT, vec ARRAY<FLOAT>). Returns (qid, id, dist, rank) with the
   * (dist, id) tie order, bit-identical to the static path (same
   * [[VectorKernels.distance]] kernel, same [[TopKBuf]] keep-set and order).
   *
   * Queries sort FIRST within each group (tag 0: they are the buffered
   * side); corpus rows then stream, each payload decoding once and feeding
   * every probing query's buffer.
   */
  def flatSearch(probed: DataFrame, corpus: DataFrame, k: Int, metricId: Int,
      nlist: Int = Int.MaxValue, saltHint: Int = 0): DataFrame = {
    val spark = probed.sparkSession
    import spark.implicits._
    // saltHint: a caller that knows the real work shape better than the
    // corpus-bytes heuristic (e.g. the exact-kNN flood, whose work is the
    // query x corpus byte PRODUCT over ONE virtual list) pins the
    // sub-bucket count directly; the conf still wins for tests/A-B runs
    val salt =
      if (saltHint > 0 && spark.conf.getOption(SaltKey).isEmpty) saltHint
      else saltOf(spark, corpus, nlist)
    val q = probed
      // uniform null-drop semantics: a null qid would kill the task at
      // the primitive-tuple decode below, where the broadcast path
      // (BroadcastProbeTopK) and the equi-join path skip the row silently
      // — behavior must not flip at the broadcast gate
      .filter(col("qid").isNotNull && col("qvec").isNotNull)
      .select(
        explodedSaltKeys("list_id", salt),
        lit(0).as("_tag"),
        col("qid").cast("long").as("id"),
        col("qvec").as("vec"))
    val c = corpus
      // skip null-keyed/null-payload rows like ListScanTopK/PartialTopK
      // do (e.g. a predicate-filtered projection): a null list_id or id
      // makes _skey null, and the primitive tuple decode below would
      // kill the task where the equi-join this path replaces dropped
      // the row silently
      .filter(col("id").isNotNull && col("list_id").isNotNull && col("vec").isNotNull)
      .select(
        saltedKey("list_id", salt),
        lit(1).as("_tag"),
        col("id").cast("long").as("id"),
        col("vec"))
    val partial = q.unionByName(c)
      .repartition(groupParts(spark, nlist, salt), col("_skey"))
      .sortWithinPartitions("_skey", "_tag")
      .as[(Long, Int, Long, Array[Float])]
      .mapPartitions { rows =>
        groupRuns(rows)(_._1) { group =>
          val qs = new ArrayBuffer[(Long, Long, Array[Float])]
          while (group.hasNext && group.head._2 == 0) {
            val r = group.next()
            qs += ((r._1, r._3, r._4))
          }
          scoreFlatList(qs.iterator, group.map(r => (r._1, r._3, r._4)), k, metricId)
        }
      }(PartialEncoder)
    // merge parallelism tracks the scoring fan-out at a 4:1 compaction
    // ratio (r21): the partial stage already reduced each task's stream
    // to <= qids x k rows, so fewer merge tasks than scorers cuts the
    // maps x reducers shuffle-file matrix (guide §2.2) — but ONE merge
    // task ranking a preK-sized flood serially (measured: 720k partial
    // rows ~1.5 s single-task) is the other ditch. The mapPartitions
    // plan's stats inherit the scan estimate, so finalizePartial's own
    // derivation cannot see the partial compaction.
    TopKAggregator.finalizePartial(partial.toDF("_1", "_2", "_3"), k,
      parts = math.max(1, groupParts(spark, nlist, salt) / 4))
      .select("qid", "id", "dist", "rank")
  }

  /**
   * PQ ADC flood search. `probed` as in [[flatSearch]]; `codes` is
   * (id LONG, list_id INT, codes ARRAY<BYTE>). Per list the CODES buffer
   * (compact, tag 0 — it sorts first and is the buffered side here) is
   * resident and queries stream one at a time — each query derives its ADC
   * table once per probed list (m x ks x dsub madds, noise next to scoring
   * the list) and scans the buffer through [[PqKernels.adcDistanceBytes]],
   * the byte-array twin of the static path's lookup-sum. Returns
   * (qid, id, dist, rank) at `k`.
   */
  def pqSearch(
      probed: DataFrame,
      codes: DataFrame,
      codebooks: Broadcast[Array[Array[Array[Float]]]],
      metricId: Int,
      k: Int,
      nlist: Int = Int.MaxValue): DataFrame = {
    val spark = probed.sparkSession
    import spark.implicits._
    val salt = saltOf(spark, codes, nlist)
    // codes are ARRAY<TINYINT> in the plan (the PQ encoder's type); the
    // Array[Byte] encoder would demand BINARY, so decode as Seq and copy
    // to a primitive array once per row at buffer time (off the hot loop)
    val q = probed
      // null-qid/qvec drop, same rationale as flatSearch
      .filter(col("qid").isNotNull && col("qvec").isNotNull)
      .select(
        explodedSaltKeys("list_id", salt),
        lit(1).as("_tag"),
        col("qid").cast("long").as("id"),
        col("qvec").as("qvec"),
        lit(null).cast("array<byte>").as("codes"))
    val c = codes
      // null-keyed/null-payload skip, same rationale as flatSearch
      .filter(col("id").isNotNull && col("list_id").isNotNull && col("codes").isNotNull)
      .select(
        saltedKey("list_id", salt),
        lit(0).as("_tag"),
        col("id").cast("long").as("id"),
        lit(null).cast("array<float>").as("qvec"),
        col("codes"))
    val books = codebooks
    val partial = q.unionByName(c)
      .repartition(groupParts(spark, nlist, salt), col("_skey"))
      .sortWithinPartitions("_skey", "_tag")
      .as[(Long, Int, Long, Array[Float], scala.collection.Seq[Byte])]
      .mapPartitions { rows =>
        groupRuns(rows)(_._1) { group =>
          val cs = new ArrayBuffer[(Long, Long, scala.collection.Seq[Byte])]
          while (group.hasNext && group.head._2 == 0) {
            val r = group.next()
            cs += ((r._1, r._3, r._5))
          }
          scorePqList(group.map(r => (r._1, r._3, r._4)), cs.iterator, k, metricId,
            books.value)
        }
      }(PartialEncoder)
    // merge parallelism tracks the scoring fan-out at a 4:1 compaction
    // ratio (r21): the partial stage already reduced each task's stream
    // to <= qids x k rows, so fewer merge tasks than scorers cuts the
    // maps x reducers shuffle-file matrix (guide §2.2) — but ONE merge
    // task ranking a preK-sized flood serially (measured: 720k partial
    // rows ~1.5 s single-task) is the other ditch. The mapPartitions
    // plan's stats inherit the scan estimate, so finalizePartial's own
    // derivation cannot see the partial compaction.
    TopKAggregator.finalizePartial(partial.toDF("_1", "_2", "_3"), k,
      parts = math.max(1, groupParts(spark, nlist, salt) / 4))
      .select("qid", "id", "dist", "rank")
  }

  // The distributed exact rerank that lived here through r19 (queries
  // cogrouped with fat (qid, id, vec) candidate rows on qid) was replaced
  // in r20 by a join + codegen'd-distance + TopKAggregator shape at its
  // only call site (IvfPqIndex.searchJoin): the cogroup repartitioned AND
  // sorted ~260 B/candidate payload rows and decoded them through a typed
  // encoder, which the r20 stage profile measured at 3x the join+kernel
  // cost — and below the broadcast gate the join shape moves no candidate
  // payload at all.

  /** Walk a partition's `(key-sorted)` row stream as one lazy iterator per
    * key run. `score` receives a BufferedIterator scoped to the current
    * group (its `hasNext` turns false at the key boundary) and must fully
    * consume it before the next group starts — both scorers do: they
    * buffer one tag side and stream the other to exhaustion. */
  private def groupRuns[R, O](rows: Iterator[R])(key: R => Long)(
      score: BufferedIterator[R] => Iterator[O]): Iterator[O] = new Iterator[O] {
    private val it = rows.buffered
    private var out: Iterator[O] = Iterator.empty
    override def hasNext: Boolean = {
      while (!out.hasNext && it.hasNext) {
        val k = key(it.head)
        val group: BufferedIterator[R] = new Iterator[R] {
          override def hasNext: Boolean = it.hasNext && key(it.head) == k
          override def next(): R = {
            if (!hasNext) throw new NoSuchElementException("group exhausted")
            it.next()
          }
        }.buffered
        out = score(group)
        // a scorer may return lazily over a partially-consumed group; the
        // contract above says it must not, but guard the walk anyway by
        // draining the remainder once `out` is materialized lazily below
        out = out ++ new Iterator[O] {
          override def hasNext: Boolean = { while (group.hasNext) group.next(); false }
          override def next(): O = throw new NoSuchElementException
        }
      }
      out.hasNext
    }
    override def next(): O = { hasNext; out.next() }
  }

  /** One list's query x corpus scoring, flat vectors: queries buffered
    * (flood x nprobe / nlist of them), corpus streamed — each corpus
    * payload decodes once and feeds every probing query's buffer. */
  private def scoreFlatList(
      qs: Iterator[(Long, Long, Array[Float])],
      cs: Iterator[(Long, Long, Array[Float])],
      k: Int,
      metricId: Int): Iterator[(Long, Long, Double)] = {
    if (!qs.hasNext) return Iterator.empty
    val qids = new ArrayBuffer[Long]
    val qvecs = new ArrayBuffer[Array[Float]]
    // ONE qvec per qid (first in group order): every other path enforces
    // first-entry-wins for duplicated qids (ProbeIndex.apply, the
    // broadcast fold, the IvfPqIndex.searchJoin rerank's join +
    // TopKAggregator shape), and scoring BOTH would merge two
    // different query vectors' candidates into one top-k — results would
    // flip at the broadcast gate for the identical query set
    val seen = new java.util.HashSet[java.lang.Long]
    while (qs.hasNext) {
      val (_, qid, qvec) = qs.next()
      if (qvec != null && seen.add(qid)) { qids += qid; qvecs += qvec }
    }
    val n = qids.length
    if (n == 0) return Iterator.empty
    val bufs = Array.fill(n)(new TopKBuf(k))
    while (cs.hasNext) {
      val (_, id, vec) = cs.next()
      if (vec != null) {
        var i = 0
        while (i < n) {
          val d = VectorKernels.distance(vec, qvecs(i), metricId)
          bufs(i).insert(d, id)
          i += 1
        }
      }
    }
    Iterator.range(0, n).flatMap { i =>
      val b = bufs(i).drain()
      Iterator.range(0, b.size).map(j => (qids(i), b.id(j), b.dist(j)))
    }
  }

  /** One list's query x corpus scoring, PQ codes: the list's codes
    * buffered (m+8 B per row), queries streamed with at most one resident
    * ADC table at a time. The table only pays for itself past ~ks bucket
    * rows (build = ks x dim madds vs direct = dim madds per row), and salt
    * subdivision shrinks buckets by design — below the cutover each query
    * scores the bucket directly through the bit-identical per-subspace
    * kernel instead of building a table 10-100x the scan work. */
  private def scorePqList(
      qs: Iterator[(Long, Long, Array[Float])],
      cs: Iterator[(Long, Long, scala.collection.Seq[Byte])],
      k: Int,
      metricId: Int,
      books: Array[Array[Array[Float]]]): Iterator[(Long, Long, Double)] = {
    if (!qs.hasNext) return Iterator.empty
    val ids = new ArrayBuffer[Long]
    val codeRows = new ArrayBuffer[Array[Byte]]
    while (cs.hasNext) {
      val (_, id, code) = cs.next()
      if (code != null) { ids += id; codeRows += code.toArray }
    }
    val nC = ids.length
    if (nC == 0) return Iterator.empty
    // a bucket of nC rows emits at most nC results, so min(k, nC)-capacity
    // buffers are lossless. This matters when k is a rerank preK (e.g.
    // 600): allocating+zeroing a 600-slot heap per (query, bucket) pair at
    // flood cardinality was ~1.5 GB of dead allocation per pass at sf0.1
    // (153k pairs x 16-row buckets), a pure CPU tax the r9 task metrics
    // exposed (PQ flood taskCpu 20x the brute-force exact scan's on the
    // same candidate count)
    val cap = math.min(k, nC)
    val buildTable = nC >= books(0).length // ks — the amortization point
    // first-qvec-wins for duplicated qids, like scoreFlatList (and every
    // static-path peer) — see the comment there
    val seenQ = new java.util.HashSet[java.lang.Long]
    qs.flatMap { case (_, qid, qvec) =>
      if (qvec == null || !seenQ.add(qid)) Iterator.empty
      else {
        val prepped = PqKernels.prepQuery(qvec, metricId)
        val table =
          if (buildTable) PqKernels.adcTableFromPrepped(prepped, books, metricId) else null
        @inline def dist(i: Int): Double =
          if (table != null) PqKernels.adcDistanceBytes(table, codeRows(i))
          else PqKernels.adcDistanceDirectBytes(prepped, books, metricId, codeRows(i))
        val b = new TopKBuf(cap)
        var i = 0
        while (i < nC) { b.insert(dist(i), ids(i)); i += 1 }
        b.drain()
        Iterator.range(0, b.size).map(j => (qid, b.id(j), b.dist(j)))
      }
    }
  }
}
