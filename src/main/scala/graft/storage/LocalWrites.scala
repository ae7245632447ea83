package graft.storage

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.{DataFrameWriter, Dataset}

/**
 * Every parquet write the engine makes goes through `graftWrite`: a
 * `ds.write` whose Hadoop options route `file:` paths to
 * [[NioLocalFileSystem]].
 *
 * Why: without libhadoop (`NativeIO.isAvailable` false), Hadoop's local
 * filesystem sets the permission of every file it creates and every
 * directory it makes by forking `chmod` (`RawLocalFileSystem.setPermission`
 * -> `Shell.execCommand`). A list-partitioned epoch write creates a
 * directory, a data file and a `.crc` per list, so an nlist-128 append
 * forked ~384 processes: 128 x (`mkdirs` + 4 KB `create`) measured
 * 3.8-5.7 s on the stock local filesystem, 47-84 ms with the NIO call
 * (4 vCPU, no libhadoop).
 *
 * The options live on the writer only. The session's
 * `hadoopConfiguration` is never changed, so a user's own `df.write`,
 * and every read, keeps the stock filesystem. Cache disabling is needed
 * because `FileSystem.get` caches by scheme and user, not by conf: the
 * stock `file:` instance is cached before the engine writes anything.
 * Other schemes ignore `fs.file.*`.
 */
object LocalWrites {

  private[graft] val Options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  implicit final class GraftWriteOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** `ds.write`, with `file:` paths written through [[NioLocalFileSystem]]. */
    def graftWrite: DataFrameWriter[T] = ds.write.options(Options)
  }
}

/** Hadoop's checksummed local filesystem (every data file still gets its
  * `.crc`) over [[NioRawLocalFileSystem]]. Same files, names and
  * umask-applied modes as the stock one. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` that sets permissions in-process through
  * `Files.setPosixFilePermissions` instead of forking `chmod`. Creates
  * and `mkdirs` already apply the umask before they call
  * `setPermission`, so the mode set is the stock one. Falls back to the
  * stock call when native Hadoop is loaded (it sets permissions without a
  * fork), when the default filesystem is not POSIX, and for modes beyond
  * the 9 `rwx` bits (the sticky bit). */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if (NativeIO.isAvailable || !NioRawLocalFileSystem.Posix || (mode & ~0x1ff) != 0)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.posix(mode))
  }
}

object NioRawLocalFileSystem {
  private val Posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The 9 `rwx` bits of `mode` as NIO permissions; the enum's order is
    * owner/group/others x read/write/execute, high bit first. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode & (0x100 >> p.ordinal)) != 0) perms.add(p)
    }
    perms
  }
}
