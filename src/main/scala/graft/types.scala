package graft

/**
 * Core value types of the engine, mirroring the reference's wire/config
 * surface (reference: proto/vdb.proto:10-87, engine/ivf_flat_index.h:38-52,
 * format/storage.h:15-42) re-expressed as plain Scala.
 */
object Metric extends Enumeration {
  /** Squared L2, no sqrt (reference engine/kernels.cuh:36-47). */
  val L2: Metric.Value = Value(0, "L2")
  /** Negated dot product, smaller = closer (engine/kernels.cuh:50-60). */
  val InnerProduct: Metric.Value = Value(1, "InnerProduct")
  /** 1 - cos with +1e-8 epsilon in denominator (engine/kernels.cuh:63-80). */
  val Cosine: Metric.Value = Value(2, "Cosine")

  /** Unknown strings fall back to L2 (server/query_service.cpp:99-108) —
    * the right behavior for USER-SUPPLIED request strings only. */
  def parse(s: String): Metric.Value = s match {
    case "InnerProduct" => InnerProduct
    case "Cosine"       => Cosine
    case _              => L2
  }

  /** For ENGINE-PERSISTED metric strings (epoch metadata): a value we
    * wrote ourselves can only be unparseable through corruption, and
    * falling back to L2 there would silently serve wrong distances from a
    * Cosine-built index — fail loudly instead. */
  def parseStrict(s: String): Metric.Value = s match {
    case "L2"           => L2
    case "InnerProduct" => InnerProduct
    case "Cosine"       => Cosine
    case other => throw new IllegalArgumentException(
      s"corrupt persisted metric '$other' (expected L2|InnerProduct|Cosine)")
  }
}

/** A stored vector row: (id, values). Mirrors proto Vector (vdb.proto:10-13). */
case class VectorRow(id: Long, vec: Array[Float])

/** One search hit. Mirrors proto Neighbor (vdb.proto:31-34). */
case class Neighbor(id: Long, distance: Double)

/**
 * Index configuration. Defaults mirror the reference
 * (server/query_service.cpp:440-446: nlist heuristic min(4096, sqrt(1e6)),
 * nbits default 8; dimension bounds 1..65536 at :428).
 */
case class IndexConfig(
    name: String,
    dimension: Int,
    metric: Metric.Value = Metric.L2,
    nlist: Int = IndexConfig.defaultNlist,
    m: Int = 0,
    nbits: Int = 8) {
  require(name.nonEmpty, "Index name required")
  require(dimension >= 1 && dimension <= 65536, "Invalid dimension")
  require(nlist >= 1, "nlist must be positive")
  // m > 0 declares a PQ index (reference CreateIndexRequest's pq params,
  // proto/vdb.proto + ivf_flat_index.h:107-189 — declared-only there):
  // buildEpoch then trains codebooks and writes the m-byte codes column
  require(m >= 0, "m (PQ subquantizers) must be >= 0; 0 = flat index")
  require(m == 0 || dimension % m == 0,
    s"PQ subquantizer count $m must divide dimension $dimension")
  require(m == 0 || (nbits >= 1 && nbits <= 8),
    "nbits must be 1..8 (PQ codes are bytes)")
}

object IndexConfig {
  /** min(4096, sqrt(1e6)) = 1000 (server/query_service.cpp:443-444). */
  val defaultNlist: Int = math.min(4096, math.sqrt(1e6).toInt)
}

/**
 * Per-search parameters (engine/ivf_flat_index.h:38-42 + the per-request
 * metric override decided in SURVEY.md §3.4). nprobe defaults to 8 when
 * unset (server/query_service.cpp:97); topk is bounded 1..1000 (:77).
 */
case class SearchParams(
    k: Int,
    nprobe: Int = 8,
    metric: Option[Metric.Value] = None) {
  // fail at construction, not as an ArrayIndexOutOfBounds inside an
  // executor task (TopKBuf assumes k >= 1)
  require(k >= 1, s"Invalid topk value: $k")
  require(nprobe >= 1, s"Invalid nprobe value: $nprobe")
}

/** Validation failure on the API surface — the engine's INVALID_ARGUMENT. */
class InvalidArgumentException(msg: String) extends IllegalArgumentException(msg)
/** Missing index/epoch — the engine's NOT_FOUND. */
class NotFoundException(msg: String) extends NoSuchElementException(msg)
