package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}

import java.net.URI
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

/**
 * Local filesystems that apply permissions via java.nio instead of Hadoop's
 * `chmod` shell-out (as paimon's LocalFileIO works on java.nio).
 *
 * Without native libhadoop, `RawLocalFileSystem.setPermission` forks a
 * `chmod` process for EVERY mkdir/create that carries a permission: each
 * data file, its checksum file and each directory a write creates. The fork
 * costs milliseconds from a large JVM and can fail on a loaded host
 * (`Shell$ExitCodeException` inside `setPermission → mkdirs`). Setting the
 * same bits through `Files.setPosixFilePermissions` needs no subprocess.
 *
 * Graft's own IO on `file:` tables goes through [[NoForkLocalFileSystem]]
 * (the snapshot manager's metadata files and the data-file write jobs, see
 * [[NoForkLocalFileSystem.configure]]). A session can route every `file:`
 * path through it with `spark.hadoop.fs.file.impl`.
 */
object NoForkChmod {
  private val bitToPerm: Seq[(Int, PosixFilePermission)] = Seq(
    0x100 -> OWNER_READ, 0x80 -> OWNER_WRITE, 0x40 -> OWNER_EXECUTE,
    0x20 -> GROUP_READ, 0x10 -> GROUP_WRITE, 0x8 -> GROUP_EXECUTE,
    0x4 -> OTHERS_READ, 0x2 -> OTHERS_WRITE, 0x1 -> OTHERS_EXECUTE)

  /** Apply `permission`'s 9 POSIX bits to `file` with no subprocess.
    * Best-effort like the shell path (a failed chmod on a just-deleted
    * temp dir must not kill the job that already moved on). */
  def set(file: java.io.File, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    val set = new java.util.HashSet[PosixFilePermission]()
    bitToPerm.foreach { case (bit, p) => if ((bits & bit) != 0) set.add(p) }
    try java.nio.file.Files.setPosixFilePermissions(file.toPath, set)
    catch { case _: java.io.IOException | _: SecurityException => () }
  }
}

/** [[RawLocalFileSystem]] whose setPermission never forks. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    NoForkChmod.set(pathToFile(p), permission)
}

/** Checksummed local FS (the stock `file:` semantics) over the no-fork raw
  * FS — drop-in for `fs.file.impl`. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

object NoForkLocalFileSystem {
  /** Route `file:` paths of `conf` through a fresh [[NoForkLocalFileSystem]]
    * (Hadoop's FileSystem cache is keyed by scheme, not by implementation,
    * so the cache is bypassed for `file:`). Other schemes are untouched. */
  def configure(conf: Configuration): Configuration = {
    conf.set("fs.file.impl", classOf[NoForkLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    conf
  }

  /** Whether `root` resolves to the stock (forking) local FS. */
  def isStockLocal(root: Path, conf: Configuration): Boolean =
    root.getFileSystem(conf) match {
      case _: NoForkLocalFileSystem => false
      case _: LocalFileSystem => true
      case _ => false
    }

  /** A no-fork FileSystem for `root` when it is on the stock local FS. */
  def localFor(root: Path, conf: Configuration): Option[FileSystem] =
    if (!isStockLocal(root, conf)) None
    else {
      val local = new NoForkLocalFileSystem
      local.initialize(URI.create("file:///"), conf)
      Some(local)
    }
}
