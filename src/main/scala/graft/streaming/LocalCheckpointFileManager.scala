package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption, Path => NioPath}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint writes for `file:` paths through `java.nio.file`.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem` forks a child process
  * for `chmod` on every create and mkdirs and for `readlink` on every
  * `FileContext` rename. A micro-batch writes its offsets, its commit and
  * a state delta plus a checksum file per partition, so those forks were
  * most of YSB's state-commit time at small batches. Here `mkdirs`, the
  * temp-file create and the atomic rename run in-process:
  *
  *  - rename with overwrite is `Files.move(ATOMIC_MOVE)`, one rename(2);
  *  - rename without overwrite hard-links the temp file to the target and
  *    then unlinks the temp file, so a target that already exists fails
  *    atomically with Hadoop's `FileAlreadyExistsException` and keeps its
  *    bytes.
  *
  * Reads, `list`, `exists` and `delete` stay on Spark's own manager over
  * the Hadoop local file system. Every other scheme (hdfs, s3a, ...) is
  * served entirely by the manager Spark would pick without this class.
  *
  * Files written here have no Hadoop `.<name>.crc` sidecar. One left by
  * Spark's manager for a target is deleted before the rename: a stale
  * sidecar next to new bytes would fail every later read, while a missing
  * one only skips verification. So a checkpoint moves between the two
  * managers in either direction. Temp files are hidden from `list`, also
  * those a crash left behind.
  *
  * Enabled by `spark.sql.streaming.checkpointFileManagerClass`, which
  * Spark hands to executors in the Hadoop conf, so one session setting
  * covers the driver's offset and commit logs and every state store.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  /** The manager Spark picks for `path` without this class: it serves all
    * reads, and every write when `path` is not on the local file system. */
  val sparkDefault: CheckpointFileManager = try {
    new FileContextBasedCheckpointFileManager(path, hadoopConf)
  } catch {
    case _: UnsupportedFileSystemException =>
      new FileSystemBasedCheckpointFileManager(path, hadoopConf)
  }

  private val local: Boolean = Option(path.toUri.getScheme)
    .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file"

  private def nio(p: Path): NioPath = {
    val u = p.toUri
    if (u.getScheme == null) Paths.get(u.getPath) else Paths.get(u)
  }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (local) {
      val target = nio(p)
      Files.createDirectories(target.getParent)
      new AtomicFile(target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp"),
        target, overwriteIfPossible)
    } else sparkDefault.createAtomic(p, overwriteIfPossible)

  override def mkdirs(p: Path): Unit =
    if (local) Files.createDirectories(nio(p)) else sparkDefault.mkdirs(p)

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    if (local) sparkDefault.list(p, (f: Path) => !isTemp(f) && filter.accept(f))
    else sparkDefault.list(p, filter)

  override def open(p: Path): FSDataInputStream = sparkDefault.open(p)
  override def exists(p: Path): Boolean = sparkDefault.exists(p)
  override def delete(p: Path): Unit = sparkDefault.delete(p)
  override def isLocal: Boolean = sparkDefault.isLocal
  override def createCheckpointDirectory(): Path = sparkDefault.createCheckpointDirectory()
  override def close(): Unit = sparkDefault.close()
}

object LocalCheckpointFileManager {
  private val BufferBytes = 64 * 1024

  /** Hadoop's checksum sidecar of `file`: `.<name>.crc` beside it. */
  private def sidecar(file: NioPath): NioPath = file.resolveSibling(s".${file.getFileName}.crc")

  /** A temp file is named `.<target name>.<uuid>.tmp`, as Spark names its own. */
  private def isTemp(p: Path): Boolean = {
    val n = p.getName
    n.startsWith(".") && n.endsWith(".tmp")
  }

  /** Writes `tmp` and publishes it as `target` on close; cancel, or a
    * failed close, removes `tmp` and leaves `target` as it was. */
  private final class AtomicFile(tmp: NioPath, target: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(
        new BufferedOutputStream(Files.newOutputStream(tmp), BufferBytes)) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          publish()
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close()
        catch { case NonFatal(_) => }
        finally Files.deleteIfExists(tmp)
      }
    }

    private def publish(): Unit = {
      if (overwrite || Files.notExists(target)) Files.deleteIfExists(sidecar(target))
      if (overwrite) Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      else try Files.createLink(target, tmp) catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"$target already exists: ${e.getMessage}")
      }
    }
  }
}
