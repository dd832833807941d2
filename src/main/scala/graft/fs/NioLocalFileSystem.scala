package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException, StandardCopyOption, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, FsServerDefaults, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with its two forking calls on `java.nio.file`.
  *
  * Without libhadoop, `RawLocalFileSystem` forks `chmod` for the permission
  * of every file and directory it creates, and a `FileContext` rename forks
  * `readlink` twice for the link statuses it checks. Here `setPermission`
  * and rename with `Options.Rename` run in-process; everything else stays
  * Hadoop's. A file renamed without `OVERWRITE` is hard-linked to its
  * target, then unlinked, so an existing target fails atomically with
  * Hadoop's `FileAlreadyExistsException` and keeps its bytes (the source
  * stays, as with any Hadoop rename that fails); with `OVERWRITE` it is one
  * rename(2). The sticky bit is never set.
  *
  * `GraftSession` registers it for `file:` twice: checksummed as the
  * `FileSystem` ([[NioLocalFileSystem]]), so parquet keeps its `.crc`
  * sidecars, and raw as the `FileContext` ([[NioLocalFs]]) that Spark's
  * checkpoint manager writes through, so checkpoints get no Hadoop `.crc`.
  */
class RawNioFileSystem extends RawLocalFileSystem {
  import RawNioFileSystem._

  private def nio(p: Path): NioPath = pathToFile(p).toPath

  override def setPermission(p: Path, perm: FsPermission): Unit =
    Files.setPosixFilePermissions(nio(p), posix(perm))

  override def rename(src: Path, dst: Path, options: Options.Rename*): Unit = {
    val (from, to) = (nio(src), nio(dst))
    if (!Files.isRegularFile(from, LinkOption.NOFOLLOW_LINKS)) super.rename(src, dst, options: _*)
    else if (options.contains(Options.Rename.OVERWRITE))
      notFound(to.getParent)(Files.move(from, to, StandardCopyOption.ATOMIC_MOVE))
    else {
      try notFound(to.getParent)(Files.createLink(to, from))
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"rename destination $dst already exists")
      }
      Files.delete(from)
    }
  }
}

object RawNioFileSystem {
  /** Hadoop's permission bits, high to low: the order of the enum. */
  private val Bits = PosixFilePermission.values.toSeq.zipWithIndex.map { case (b, i) => b -> (1 << (8 - i)) }

  private def posix(perm: FsPermission): java.util.Set[PosixFilePermission] =
    Bits.collect { case (b, m) if (perm.toShort & m) != 0 => b }.toSet.asJava

  /** Hadoop reports a missing path as `FileNotFoundException`. */
  private def notFound[T](f: NioPath)(op: => T): T =
    try op catch { case _: NoSuchFileException => throw new FileNotFoundException(s"$f does not exist") }
}

/** `FileSystem` API for `file:`: Hadoop's checksummed local file system over
  * [[RawNioFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new RawNioFileSystem)

/** `FileContext` API for `file:`: [[RawNioFileSystem]] without checksums,
  * as Hadoop's `RawLocalFs` is over `RawLocalFileSystem`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawNioFileSystem, conf, "file", false) {
  override def isValidName(src: String): Boolean = true
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit =
    fsImpl.asInstanceOf[RawNioFileSystem].rename(src, dst,
      if (overwrite) Options.Rename.OVERWRITE else Options.Rename.NONE)
}
