package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Fires a callback when a search plan actually EXECUTES, not when it is
 * built. The reference counts a list access when a query runs against it
 * (engine/ivf_flat_index.cpp:227-229); recording at plan-construction time
 * (the round-3..5 shape) over-counts — a constructed-but-never-run
 * DataFrame would heat hot-list stats and steer `warmupHot` at phantom
 * partitions.
 *
 * Mechanism: the search result is wrapped with a uniquely-named
 * `observe()` metric (a CollectMetrics node above the top-k — the scans
 * and joins below are untouched), and ONE session-registered
 * [[QueryExecutionListener]] maps completed executions back to their
 * callbacks by metric name. Every successful execution fires once; a
 * failed action fires nothing; re-executing the same DataFrame fires
 * again (each execution served a real batch) for the most recently fired
 * plans. Both maps are bounded: never-executed callbacks age out of the
 * pending map, fired ones out of a small re-fire map — a long-lived
 * serving driver retains neither.
 *
 * A resident search ([[ResidentTopKNode]]) takes no `observe()` node: its
 * leaf runs the callbacks itself after each execution.
 */
private[graft] object ExecutionProbeHook {

  private val Prefix = "graft_probe_"
  private val MaxPending = 4096
  // configurable: a deployment re-executing more than MaxFired distinct
  // observed DataFrames (an unusually wide serving loop) can raise the
  // cap instead of silently losing re-fire support
  // Integer.getInteger swallows unparseable values itself and returns
  // the default — no catch needed
  private val MaxFired =
    math.max(1, Integer.getInteger("graft.probe.maxFired", 64))
  private val counter = new java.util.concurrent.atomic.AtomicLong()

  /** A callback plus the registry (e.g. one VectorDB facade) that armed
    * it — carried through the maps so an EVICTION can be attributed to
    * its owner, not just the JVM total. */
  private final case class Probe(owner: String, fn: Long => Unit)

  /** Evictions from the re-fire map. A non-zero, growing value means the
    * driver re-executes more distinct observed plans than [[MaxFired]] and
    * some probe callbacks (hot-list stats feeding warmupHot, latency
    * histograms) have silently stopped updating — raise
    * -Dgraft.probe.maxFired. Exposed so VectorDB.metricsText can publish
    * it; also logged (first eviction, then every 1024th) so the signal
    * exists even without a metrics scraper. */
  private[graft] val firedEvictions = new java.util.concurrent.atomic.AtomicLong()

  /** Evictions from the PENDING map — a callback evicted here never fires
    * at all (armed > MaxPending plans before any executed), a strictly
    * worse loss than a re-fire eviction; counted/logged/published the
    * same way. */
  private[graft] val pendingEvictions = new java.util.concurrent.atomic.AtomicLong()

  // Per-owner splits of the two counters above: two VectorDB facades in
  // one JVM (multi-tenant serving) would otherwise be indistinguishable
  // in the shared totals — an operator could not tell WHICH tenant's
  // serving loop outran the caps. Keyed by the owner string passed to
  // arm/armTimed; "" (ownerless arms, e.g. bare IvfFlatIndex use) rolls
  // into the JVM totals only. Unbounded in principle, but bounded in
  // practice by the number of live registries (facades), not by plans.
  private val firedEvictionsPerOwner =
    scala.collection.concurrent.TrieMap.empty[String, java.util.concurrent.atomic.AtomicLong]
  private val pendingEvictionsPerOwner =
    scala.collection.concurrent.TrieMap.empty[String, java.util.concurrent.atomic.AtomicLong]

  /** Re-fire-map evictions attributed to `owner` (0 if it never armed or
    * never lost a callback). */
  private[graft] def firedEvictionsFor(owner: String): Long =
    firedEvictionsPerOwner.get(owner).map(_.get()).getOrElse(0L)

  /** Pending-map evictions attributed to `owner`. */
  private[graft] def pendingEvictionsFor(owner: String): Long =
    pendingEvictionsPerOwner.get(owner).map(_.get()).getOrElse(0L)

  /** Owners whose registry checked out ([[releaseOwner]]), kept so the
    * two races a purge alone cannot close stay closed: (a) the listener's
    * pending->fired migration is not atomic across the maps, so a probe
    * removed from pending before the purge can be re-inserted into fired
    * after it — the listener re-checks this set AFTER its put and evicts
    * the zombie; (b) `bump` skips released owners outright, so no
    * eviction path can getOrElseUpdate a released owner back into the
    * counter maps. Insertion-order bounded at 1024: instanceIds are never
    * reused (VectorDB.instanceSeq), and a marker only MUST survive the
    * milliseconds-wide migration race window. Eviction of an old marker
    * RE-PURGES that owner from both probe maps and the counter maps
    * ([[releaseOwner]] drains [[evictedMarkers]] after its put) so even a
    * zombie probe that slipped in through race (a) after the original
    * purge is removed before it could age out and `bump` the owner back —
    * the guarantee survives arbitrarily many facade closes, not just the
    * first 1024. The purge CANNOT run inside removeEldestEntry: that
    * fires under `released`'s monitor, while the probe maps' eviction
    * path (put -> removeEldestEntry -> bump -> isReleased) takes the
    * probe-map monitor THEN `released`'s — purging in place would nest
    * the monitors in the opposite order (deadlock). */
  private val evictedMarkers =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val released = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, java.lang.Boolean](64, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Boolean]): Boolean = {
        val evict = size() > 1024
        if (evict) evictedMarkers.add(e.getKey)
        evict
      }
    })

  /** Drop `owner`'s per-owner counters AND its armed probes — called by
    * the owning registry when it is discarded
    * ([[graft.api.VectorDB.close]]). Without a release hook, facade churn
    * in a long-lived JVM grows these maps one permanent entry per facade
    * EVER created that lost a probe; the maps are bounded by LIVE
    * registries only if discarded ones check out. Order matters: the
    * released marker lands FIRST (so bump and the listener's migration
    * see it), then the probe purges (a still-resident Probe evicted after
    * the counters were removed would `bump` the owner back permanently),
    * then the counter removal. Purging under the maps' monitors means no
    * eviction of this owner's entries can race the counter removal. */
  private[graft] def releaseOwner(owner: String): Unit =
    if (owner.nonEmpty) {
      released.put(owner, java.lang.Boolean.TRUE)
      purgeOwner(pending, owner)
      purgeOwner(fired, owner)
      firedEvictionsPerOwner.remove(owner)
      pendingEvictionsPerOwner.remove(owner)
      // markers the put above aged out of the bounded set: re-purge those
      // owners (their original release already purged; this removes any
      // zombie the migration race re-inserted since) so a marker falling
      // off the 1024-entry window can never leave behind a probe that
      // would later age out and bump the released owner's counters back
      var ev = evictedMarkers.poll()
      while (ev != null) {
        purgeOwner(pending, ev)
        purgeOwner(fired, ev)
        firedEvictionsPerOwner.remove(ev)
        pendingEvictionsPerOwner.remove(ev)
        ev = evictedMarkers.poll()
      }
    }

  private def isReleased(owner: String): Boolean =
    owner.nonEmpty && released.get(owner) != null

  /** Remove every Probe armed by `owner` from a synchronized bounded map.
    * Iteration over a Collections.synchronizedMap view requires holding
    * the wrapper's monitor — the same monitor its put/remove use, so a
    * concurrent eviction cannot interleave with the purge. Removing via
    * the iterator does NOT invoke removeEldestEntry (that only runs on
    * put), so purged probes are not counted as evictions. */
  private def purgeOwner(map: java.util.Map[String, Probe], owner: String): Unit =
    map.synchronized {
      val it = map.values().iterator()
      while (it.hasNext) if (it.next().owner == owner) it.remove()
    }

  private def bump(per: scala.collection.concurrent.TrieMap[String, java.util.concurrent.atomic.AtomicLong],
      owner: String): Unit =
    // released owners never bump: getOrElseUpdate would silently recreate
    // a checked-out facade's counter entry permanently
    if (owner.nonEmpty && !isReleased(owner))
      per.getOrElseUpdate(owner, new java.util.concurrent.atomic.AtomicLong())
        .incrementAndGet()

  private def bounded(max: Int, lru: Boolean, onEvict: Probe => Unit) =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Probe](64, 0.75f, lru) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Probe]): Boolean = {
          val evict = size() > max
          if (evict) onEvict(e.getValue)
          evict
        }
      })

  // insertion-ordered with eldest-entry eviction. FIRED entries migrate to
  // the small `fired` map (re-executing the same DataFrame still fires —
  // each execution served a real batch — but only the MaxFired most
  // recent plans support it): a serving loop arms one closure per
  // micro-batch, each capturing the batch's probe-pair array, and leaving
  // fired entries in the 4096-slot pending map retained gigabytes of dead
  // probe pairs on a long-lived driver.
  private val pending = bounded(MaxPending, lru = false, onEvict = p => {
    val n = pendingEvictions.incrementAndGet()
    bump(pendingEvictionsPerOwner, p.owner)
    if (n == 1 || n % 1024 == 0) System.err.println(
      s"[graft] probe pending map evicted $n callback(s) (cap $MaxPending): " +
        "those observed plans will NEVER fire their probe callback — the " +
        "driver armed more plans than it executed")
  })
  // ACCESS-ordered: a hot plan that re-fires every trigger must refresh
  // its recency, or first-fire order would evict it after MaxFired other
  // plans fire once each and its callback silently stops
  private val fired = bounded(MaxFired, lru = true, onEvict = p => {
    val n = firedEvictions.incrementAndGet()
    bump(firedEvictionsPerOwner, p.owner)
    if (n == 1 || n % 1024 == 0) System.err.println(
      s"[graft] probe re-fire map evicted $n callback(s) (cap $MaxFired): " +
        "re-executions of evicted plans no longer update hot-list/latency " +
        "stats; raise -Dgraft.probe.maxFired if this driver legitimately " +
        "re-executes that many distinct observed plans")
  })

  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Wrap `df` so `fire` runs on each successful execution of the result.
    * `owner` tags the arming registry for per-owner eviction attribution
    * ("" = untagged, counted in the JVM totals only). */
  def arm(df: DataFrame, fire: () => Unit, owner: String = ""): DataFrame =
    armTimed(df, _ => fire(), owner)

  /** [[arm]] flavor whose callback also receives the execution's wall
    * duration in nanoseconds (the listener's durationNs) — feeds the A10
    * per-index latency histograms without a second timing source. */
  def armTimed(df: DataFrame, fire: Long => Unit, owner: String = ""): DataFrame =
    // a resident search fires its own callbacks from its plan leaf, once
    // per execution: an observe() node above it would turn its one-job
    // collect into two jobs. Same contract, minus the maps — a closed
    // owner's callback simply stops firing
    ResidentTopK.withCallback(df, ns => if (!isReleased(owner)) fire(ns)).getOrElse {
      ensureListener(df.sparkSession)
      val name = Prefix + counter.incrementAndGet()
      pending.put(name, Probe(owner, fire))
      df.observe(name, count(lit(1)))
    }

  private def ensureListener(spark: SparkSession): Unit =
    registered.synchronized {
      if (registered.get(spark) == null) {
        registered.put(spark, java.lang.Boolean.TRUE)
        spark.listenerManager.register(new QueryExecutionListener {
          override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
            qe.observedMetrics.keys.foreach { k =>
              if (k.startsWith(Prefix)) {
                val cb = Option(pending.remove(k)).orElse(Option(fired.get(k)))
                cb.foreach { p =>
                  if (isReleased(p.owner)) {
                    // the owning facade closed mid-execution: don't fire a
                    // closed registry's callback, and don't migrate the
                    // probe into the re-fire map
                    fired.remove(k)
                  } else {
                    fired.put(k, p) // recent fired plans may re-fire
                    // releaseOwner may have purged BETWEEN the check above
                    // and the put — re-check and evict the zombie, or it
                    // would sit in the re-fire map and bump the released
                    // owner when it ages out (the migration race). The
                    // no-fire-after-release contract is BEST-EFFORT at
                    // this last step: releaseOwner completing between this
                    // re-check and fn() lets one final callback through
                    // (a stats update against a cleared facade — benign).
                    // Making it strict would require holding a lock across
                    // the user callback, inverting the probe-map ->
                    // released monitor order the eviction path relies on.
                    // What IS strict: the zombie never stays resident, and
                    // released counters never resurrect (bump re-checks).
                    if (isReleased(p.owner)) fired.remove(k)
                    else p.fn(durationNs)
                  }
                }
              }
            }
          override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
        })
      }
    }
}
