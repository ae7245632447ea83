package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SearchParams
import graft.index.IvfFlatIndex

/**
 * Streaming query serving — the Spark-native analog of the reference's
 * request-coalescing loop (reference server/query_service.cpp:267-401,
 * 586-636: queue RPCs for <= 2 ms or <= 64 requests, run one batched
 * engine call, scatter results). Structured Streaming's micro-batch IS
 * that coalescing window: each trigger drains the queued query rows and
 * runs ONE batched `search`, so batching comes from the execution model
 * instead of hand-rolled queues/condition variables.
 *
 * Unlike the reference — which applies the FIRST request's params to the
 * whole batch ("Assuming uniform search params", :351-352) — params here
 * are an explicit argument: one serving loop per param profile, with no
 * silent mixing (SURVEY A8: "do NOT replicate the first-params bug").
 */
object StreamingSearch {

  /**
   * Start a serving loop: `queryStream` is a streaming DataFrame of
   * (qid LONG, qvec ARRAY<FLOAT>); each micro-batch is searched as one
   * batch and handed to `sink` with the batch id. A bounded micro-batch
   * scores the index's resident list blocks when it holds them (one
   * Spark job per collect); a flood between triggers stays fully
   * distributed. The per-batch broadcast state (query map; none on the
   * resident path) is released as soon as the sink returns — a serving
   * loop runs for days, and without the release every micro-batch leaks
   * one broadcast into the executors' block managers until a driver GC
   * happens to trigger the ContextCleaner. A bounded batch's probe
   * listener fires once for each execution the sink runs (the callback
   * rides in the search's plan), so a batch the sink never executes
   * records nothing.
   * `admit` runs before any search is built; a batch it rejects is
   * skipped.
   */
  def serve(
      index: IvfFlatIndex,
      queryStream: DataFrame,
      params: SearchParams,
      checkpointPath: String,
      triggerMs: Long = 100L,
      admit: Long => Boolean = _ => true)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    queryStream.writeStream
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // ONE bounded snapshot answers emptiness AND serves as the batch —
        // a separate isEmpty probe would double the per-trigger job count
        // on the serving hot loop
        IvfFlatIndex.snapshotQueries(batch).batch match {
          case Some(b) if b.isEmpty => // idle trigger: nothing to serve
          // admit() runs AFTER the emptiness read but BEFORE any search
          // construction: a load-shedding guard must not pay the probe +
          // broadcast build for a batch it is about to reject
          case _ if !admit(batchId) =>
          case Some(b) =>
            val (res, release) = index.searchBatchManaged(b, params)
            try sink(res, batchId) finally release()
          case None => // flood between triggers: stay fully distributed
            sink(index.searchJoin(batch, params), batchId)
        }
      }
      .start()

  /**
   * [[serve]] wrapped in a [[ServingGuard]] (the reference's LoadBalancer
   * decorator, server/load_balancer.cpp:34-74): each micro-batch is one
   * admission-controlled request against the "search" service. A batch
   * rejected by the guard (circuit open / overload) or failed by the
   * handler goes to `onReject` WITH its error instead of killing the
   * serving loop — the reference returns a status to the caller and keeps
   * the server up; the streaming analog is a loop that keeps triggering.
   * The default `onReject` drops rejected batches silently, exactly like
   * a load-shedding gRPC front end; pass a callback to surface them.
   * (The per-trigger bounded snapshot — driver metadata only — still runs
   * for a rejected batch; it IS the coalescing read. A circuit already
   * OPEN short-circuits before any search construction via the admit
   * hook — an open breaker must not pay the probe + broadcast build per
   * trigger for 30 s of cool-down; the half-open probe batch and all
   * admitted batches run under the full guard, which owns the overload
   * cap and the error accounting.)
   *
   * `maintenanceEvery` > 0 runs [[ServingGuard.maintenanceTick]] every N
   * micro-batches — the reference's health-check loop
   * (load_balancer.cpp:247-269) on the serving cadence instead of a
   * dedicated thread: counters decay so the cumulative breaker rate can
   * recover, and a circuit open past 2x the breaker timeout auto-closes.
   */
  def serveGuarded(
      index: IvfFlatIndex,
      queryStream: DataFrame,
      params: SearchParams,
      checkpointPath: String,
      guard: ServingGuard,
      triggerMs: Long = 100L,
      onReject: (Long, Throwable) => Unit = (_, _) => (),
      maintenanceEvery: Int = 0)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    serve(index, queryStream, params, checkpointPath, triggerMs,
      admit = { batchId =>
        if (maintenanceEvery > 0 &&
          batches.incrementAndGet() % maintenanceEvery == 0) guard.maintenanceTick()
        val open = guard.isCircuitOpen("search")
        if (open) onReject(batchId, new guard.RejectedException("circuit open for search"))
        !open
      }) { (res, batchId) =>
      // NonFatal: an OOM/LinkageError must kill the loop, not be recorded
      // as an ordinary service error while the JVM limps on
      try guard.guarded("search")(sink(res, batchId))
      catch { case scala.util.control.NonFatal(e) => onReject(batchId, e) }
    }
  }

  /**
   * Multi-profile coalescing dispatcher (A8 parity): ONE serving loop for
   * several indices. `queryStream` rows are (index STRING, qid LONG,
   * qvec ARRAY<FLOAT>); each micro-batch is grouped by index name and
   * served as one batched call per index — the reference drains its queue
   * grouped by index in a single loop (server/query_service.cpp:287-345)
   * but then applies the FIRST request's params to everything ("Assuming
   * uniform search params", :351-352); here params come from the registry
   * entry, per index, so profiles never mix.
   *
   * A row naming an unregistered index fails the micro-batch (the
   * streaming query surfaces the error) — dropping it silently would look
   * like a lost request to the caller.
   */
  def serveMulti(
      indices: Map[String, (IvfFlatIndex, SearchParams)],
      queryStream: DataFrame,
      checkpointPath: String,
      triggerMs: Long = 100L)(
      sink: (String, DataFrame, Long) => Unit): StreamingQuery = {
    import org.apache.spark.sql.functions.col
    queryStream.writeStream
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // same bounded-snapshot contract as serve(): one read answers
        // emptiness, grouping (the index name rides as the label), AND
        // the serving input
        val snap = IvfFlatIndex.snapshotQueries(batch, label = Some("index"))
        if (!snap.bounded) {
          // flood: stay distributed, one join-pruned pass per index that
          // actually has queued rows (cheap driver distinct on the names).
          // Pin the batch first: the distinct plus one filter per present
          // index would otherwise re-evaluate the streaming source 1 + K
          // times — on exactly the biggest batches
          val pinned = batch.select(col("index"), col("qid"), col("qvec")).persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val present = pinned.select("index").distinct().collect().map(_.getString(0))
            present.foreach { name =>
              val (idx, params) = indices.getOrElse(name,
                throw new IllegalArgumentException(s"unregistered index in stream: $name"))
              sink(name,
                idx.searchJoin(pinned.filter(col("index") === name), params), batchId)
            }
          } finally pinned.unpersist(false)
        } else {
          snap.sample.indices.groupBy(snap.labels(_)).foreach { case (name, rows) =>
            val (idx, params) = indices.getOrElse(name,
              throw new IllegalArgumentException(s"unregistered index in stream: $name"))
            val (res, release) = idx.searchBatchManaged(rows.map(snap.sample).toArray, params)
            try sink(name, res, batchId) finally release()
          }
        }
      }
      .start()
  }
}
