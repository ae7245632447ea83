package graft.storage

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{IndexConfig, Metric}

/**
 * Index manifest, JSON on disk next to the data — field set mirrors the
 * reference's IndexManifest (format/storage.h:15-42, writer
 * format/storage.cpp:22-132): name, dimension, metric, nlist, m, nbits,
 * epoch, created_at, num_vectors, shards[{list_id, path, num_vectors}].
 */
case class ShardInfo(listId: Int, path: String, numVectors: Long)

object ShardInfo {

  /** One list's shard, its `path` relative to the epoch directory, so the
    * manifest is the same wherever the data root lives. Nothing reads
    * `path` back: manifests written with absolute paths still load. */
  def of(listId: Int, numVectors: Long): ShardInfo =
    ShardInfo(listId, s"vectors/list_id=$listId", numVectors)
}

case class Manifest(
    name: String,
    dimension: Int,
    metric: Metric.Value,
    nlist: Int,
    m: Int,
    nbits: Int,
    epoch: String,
    createdAt: Long,
    numVectors: Long,
    shards: Seq[ShardInfo]) {

  def config: IndexConfig =
    IndexConfig(name, dimension, metric, nlist, m, nbits)

  def toJson: JValue = JObject(
    "name" -> JString(name),
    "dimension" -> JInt(dimension),
    "metric" -> JString(metric.toString),
    "nlist" -> JInt(nlist),
    "m" -> JInt(m),
    "nbits" -> JInt(nbits),
    "epoch" -> JString(epoch),
    "created_at" -> JLong(createdAt),
    "num_vectors" -> JLong(numVectors),
    "shards" -> JArray(shards.toList.map(s => JObject(
      "list_id" -> JInt(s.listId),
      "path" -> JString(s.path),
      "num_vectors" -> JLong(s.numVectors)))))

  def save(path: String): Unit =
    Manifest.atomicWrite(Paths.get(path), JsonMethods.pretty(JsonMethods.render(toJson)))
}

object Manifest {

  def apply(config: IndexConfig, epoch: String = "", createdAt: Long = 0L,
      numVectors: Long = 0L, shards: Seq[ShardInfo] = Nil): Manifest =
    Manifest(config.name, config.dimension, config.metric, config.nlist,
      config.m, config.nbits, epoch, createdAt, numVectors, shards)

  def load(path: String): Manifest = {
    val j = JsonMethods.parse(Files.readString(Paths.get(path)))
    def str(f: String): String = (j \ f) match { case JString(s) => s; case _ => "" }
    def num(f: String): Long = (j \ f) match {
      case JInt(i) => i.toLong
      case JLong(l) => l
      case JDouble(d) => d.toLong
      case _ => 0L
    }
    val shards = (j \ "shards") match {
      case JArray(items) => items.map { s =>
        ShardInfo(
          (s \ "list_id") match { case JInt(i) => i.toInt; case _ => 0 },
          (s \ "path") match { case JString(p) => p; case _ => "" },
          (s \ "num_vectors") match {
            case JInt(i) => i.toLong; case JLong(l) => l; case _ => 0L
          })
      }
      case _ => Nil
    }
    // parseStrict: the manifest is engine-written; see Metric.parseStrict
    Manifest(str("name"), num("dimension").toInt, Metric.parseStrict(str("metric")),
      num("nlist").toInt, num("m").toInt, num("nbits").toInt, str("epoch"),
      num("created_at"), num("num_vectors"), shards)
  }

  /** temp file + fsync + atomic rename — the epoch-swap atomicity rule
    * (SURVEY §7.4.5). The force(true) before the move matters: a rename
    * only orders METADATA; without flushing the temp file's data blocks a
    * power loss shortly after an epoch swap can leave the state file
    * zero-length or truncated on ext4/xfs. */
  private val tmpCounter = new java.util.concurrent.atomic.AtomicLong()

  private[graft] def atomicWrite(target: Path, content: String): Unit = {
    Files.createDirectories(target.getParent)
    // UNIQUE temp name per writer: a fixed '<name>.tmp' sibling lets two
    // concurrent writers (serving driver + maintenance job on one base
    // path) interleave open/TRUNCATE/write/rename and atomically publish
    // a half-written file — the rename is atomic, the shared scratch
    // file is not. Built by hand (pid + counter), NOT createTempFile:
    // that API creates 0600 files on POSIX and ATOMIC_MOVE preserves the
    // mode, so the published state file would become unreadable to the
    // other processes this very hardening targets; CREATE_NEW here
    // honors the umask like the old path did.
    val tmp = target.resolveSibling(
      s"${target.getFileName}.${ProcessHandle.current.pid}." +
        s"${tmpCounter.incrementAndGet()}.tmp")
    try {
      val ch = java.nio.channels.FileChannel.open(tmp,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        ch.write(java.nio.ByteBuffer.wrap(content.getBytes(StandardCharsets.UTF_8)))
        ch.force(true)
      } finally ch.close()
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp) // no-op after a successful move
  }
}
