package graft.store

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The file-system calls a [[PartitionedStore]] decides and commits by.
  * Every change the store makes to its files outside a Spark write goes
  * through `write`, `mkdirs`, `move` or `delete`, so a test can put an
  * implementation that fails from any call on in place of the real one. */
private[graft] trait FileOps {
  def exists(p: String): Boolean
  /** Entry names of directory `p`; empty when `p` is absent. */
  def list(p: String): Seq[String]
  def read(p: String): String
  def write(p: String, text: String): Unit
  def mkdirs(p: String): Unit
  /** Renames `src` to `dst`. `dst` must not exist, and its parent must. */
  def move(src: String, dst: String): Unit
  /** Deletes `p` and everything under it; an absent `p` is no error. */
  def delete(p: String): Unit
}

private[graft] object FileOps {

  /** The session's Hadoop file system for `root`: for `file:` paths the
    * fork-free [[graft.fs.NioLocalFileSystem]] `GraftSession` registers. */
  def apply(s: SparkSession, root: String): FileOps = {
    val fs = new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)
    new FileOps {
      def exists(p: String): Boolean = fs.exists(new Path(p))
      def list(p: String): Seq[String] =
        try fs.listStatus(new Path(p)).map(_.getPath.getName).toSeq
        catch { case _: FileNotFoundException => Nil }
      def read(p: String): String = {
        val in = fs.open(new Path(p))
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }
      def write(p: String, text: String): Unit = {
        val out = fs.create(new Path(p), true)
        try out.write(text.getBytes(UTF_8)) finally out.close()
      }
      def mkdirs(p: String): Unit =
        if (!fs.mkdirs(new Path(p))) throw new IOException(s"mkdirs failed: $p")
      // a local rename onto an existing directory would nest the source in it
      def move(src: String, dst: String): Unit =
        if (fs.exists(new Path(dst)) || !fs.rename(new Path(src), new Path(dst)))
          throw new IOException(s"move failed: $src -> $dst")
      def delete(p: String): Unit = fs.delete(new Path(p), true): Unit
    }
  }
}

/** A set of hash-prefix-partitioned parquet tables under one `root`, with
  * one commit protocol for every change to them. qd18's signature store,
  * qst43/qst44's fingerprint store and the clustered sink's compaction are
  * built on it; this is the one place their crash safety is argued.
  *
  * '''Layout.''' Table `t` lives at `root/t` (the empty name is `root`
  * itself), as `col=value` partition directories that Spark reads
  * directly. An optional meta file (`root/_graft_index_meta.json`) carries
  * store-level facts such as a fanout. The transaction area `root/_txn` is
  * hidden from Spark's listing by its leading underscore.
  *
  * '''A change''' ([[transact]]) first stages the new content with Spark
  * under `_txn/new`, laid out as the live tables are, and then commits it
  * by file moves only:
  *  1. the plan, one line per slot (`replace`, `add` or `remove`, then the
  *     slot's path below `root`), is written to a temp name and renamed to
  *     `_txn/plan`, so it is whole or absent. A slot is a partition
  *     directory that is replaced, added or removed; a file appended to a
  *     live partition; or the meta file;
  *  2. every live slot that is replaced or removed moves to `_txn/old`;
  *  3. every staged slot moves into place;
  *  4. the marker `_txn/COMMITTED` is created: the commit point;
  *  5. `_txn/old`, then the plan, then the rest of `_txn` are deleted.
  *
  * '''Recovery''' runs when a store opens and before every change. With
  * the marker present it finishes step 5. Without the marker but with a
  * plan, it rolls every slot back: a slot with a copy in `_txn/old` gets
  * that copy back (after deleting whatever was placed over it), an added
  * slot is deleted, and a replaced or removed slot not yet moved aside is
  * still the live original. Without a plan nothing live was touched, and
  * `_txn` is deleted. Recovery is idempotent, so a crash inside it is
  * recovered the same way, and every table of the store lands on the same
  * side of the commit, together with the meta. A failure inside a change
  * runs recovery at once, before the error is rethrown.
  *
  * One writer at a time is assumed. At cluster scale the same commit is a
  * table format's replace-partitions transaction; here it is file moves
  * on one file system.
  */
private[graft] final class PartitionedStore(s: SparkSession, val root: String,
    tables: Seq[String], ops: FileOps) {
  import PartitionedStore._

  private val txn = s"$root/_txn"
  private val plan = s"$txn/plan"
  private val committed = s"$txn/COMMITTED"

  tables.map(dir).filterNot(ops.exists).foreach(ops.mkdirs)
  recover()

  def dir(table: String): String = if (table.isEmpty) root else s"$root/$table"

  /** Where [[transact]]'s staging step writes `table`'s new content. */
  def stageDir(table: String): String =
    if (table.isEmpty) s"$txn/new" else s"$txn/new/$table"

  def read(table: String, schema: StructType): DataFrame =
    s.read.schema(schema).parquet(dir(table))

  /** The committed meta text, if the store has one. */
  def meta: Option[String] =
    Some(s"$root/$MetaFile").filter(ops.exists).map(ops.read)

  /** Stages `rows` for `table`: one file per `partCol` value, sorted by
    * `partCol` and then `sortBy` within it. */
  def stage(table: String, rows: DataFrame, partCol: String,
      sortBy: String*): Unit =
    rows.repartition(col(partCol))
      .sortWithinPartitions((partCol +: sortBy).map(col): _*)
      .write.mode("overwrite").partitionBy(partCol).parquet(stageDir(table))

  /** Runs `staging` (Spark writes under [[stageDir]]), then commits what it
    * staged, and `meta` when given, as one change: the entries `replace`
    * names are replaced (or removed, when nothing was staged for them),
    * and every other staged entry is added, file by file into a live
    * partition of the same name. */
  def transact(replace: Replace, meta: Option[String] = None)(
      staging: => Unit): Unit = {
    recover()
    try staging
    catch { case e: Throwable => suppressed(e)(ops.delete(txn)); throw e }
    try commit(replace, meta)
    catch { case e: Throwable => suppressed(e)(recover()); throw e }
  }

  def delete(): Unit = ops.delete(root)

  private def commit(replace: Replace, meta: Option[String]): Unit = {
    meta.foreach(ops.write(s"$txn/new/$MetaFile", _))
    val slots = tables.flatMap(slotsOf(_, replace)) ++
      meta.map(_ => Slot(MetaFile, ops.exists(s"$root/$MetaFile"), true))
    ops.write(s"$plan.tmp", slots.map(_.line).mkString("\n"))
    ops.move(s"$plan.tmp", plan)
    val aside = slots.filter(_.hadOld)
    aside.map(sl => parent(s"$txn/old/${sl.rel}")).distinct.foreach(ops.mkdirs)
    aside.foreach(sl => ops.move(s"$root/${sl.rel}", s"$txn/old/${sl.rel}"))
    slots.filter(_.hasNew)
      .foreach(sl => ops.move(s"$txn/new/${sl.rel}", s"$root/${sl.rel}"))
    ops.write(committed, "")
    finish()
  }

  private def slotsOf(table: String, replace: Replace): Seq[Slot] = {
    val prefix = if (table.isEmpty) "" else s"$table/"
    val live = visible(ops.list(dir(table))).toSet
    val fresh = visible(ops.list(stageDir(table))).toSet
    val replaced = replace match {
      case Replace.All => live ++ fresh
      case Replace.Entries(es) => es & (live ++ fresh)
    }
    replaced.toSeq.sorted.map(e => Slot(prefix + e, live(e), fresh(e))) ++
      (fresh -- replaced).toSeq.sorted.flatMap { e =>
        if (!live(e)) Seq(Slot(prefix + e, false, true))
        else visible(ops.list(s"${stageDir(table)}/$e")).sorted
          .map(f => Slot(s"$prefix$e/$f", false, true))
      }
  }

  /** Brings the store to the last committed state; see the class doc. */
  def recover(): Unit = if (ops.exists(txn)) {
    if (ops.exists(committed)) finish()
    else {
      if (ops.exists(plan)) ops.read(plan).linesIterator.filter(_.nonEmpty)
        .map(Slot.parse).foreach { sl =>
          val (live, old) = (s"$root/${sl.rel}", s"$txn/old/${sl.rel}")
          if (ops.exists(old)) { ops.delete(live); ops.move(old, live) }
          else if (!sl.hadOld) ops.delete(live)
        }
      ops.delete(plan)
      ops.delete(txn)
    }
  }

  private def finish(): Unit = {
    ops.delete(s"$txn/old")
    ops.delete(plan)
    ops.delete(txn)
  }
}

private[graft] object PartitionedStore {

  val MetaFile = "_graft_index_meta.json"

  /** The live entries a commit replaces: all of them, or the named ones.
    * [[Replace.Append]] replaces none: a pure append. */
  sealed trait Replace
  object Replace {
    case object All extends Replace
    final case class Entries(names: Set[String]) extends Replace
    val Append: Replace = Entries(Set.empty)
  }

  /** One path the commit moves: live before it (`hadOld`), staged for it
    * (`hasNew`), or both. */
  private final case class Slot(rel: String, hadOld: Boolean, hasNew: Boolean) {
    def line: String =
      s"${if (!hadOld) "add" else if (hasNew) "replace" else "remove"} $rel"
  }
  private object Slot {
    def parse(line: String): Slot = line.split(" ", 2) match {
      case Array(op @ ("add" | "replace" | "remove"), rel) =>
        Slot(rel, hadOld = op != "add", hasNew = op != "remove")
      case _ => throw new IOException(s"bad store plan line: $line")
    }
  }

  /** Spark's own files (`_SUCCESS`), checksums and the store's `_txn` and
    * meta are not table entries. */
  private def visible(names: Seq[String]): Seq[String] =
    names.filterNot(n => n.startsWith("_") || n.startsWith("."))

  private def parent(p: String): String = p.substring(0, p.lastIndexOf('/'))

  /** Runs `cleanup` after `e`, keeping `e` the error that propagates. */
  private def suppressed(e: Throwable)(cleanup: => Unit): Unit =
    try cleanup catch { case x: Throwable => e.addSuppressed(x) }

  /** A fresh local directory deleted when the JVM exits: one shutdown hook
    * serves every store, replay staging area and index of the process. */
  def tempRoot(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempRootHook
    tempRoots.add(p.toFile)
    p
  }

  /** A gate's scratch directory for its copy of the tables at `d`: the
    * same path for the same (name, d) within one process, so a gate run
    * twice reuses it, and unique per process, so two concurrent sessions
    * never share one. All of them sit under one [[tempRoot]]. */
  def scratchDir(name: String, d: String): String =
    s"$scratchRoot/$name-${Integer.toHexString(d.hashCode)}"

  private lazy val scratchRoot = tempRoot("graft-scratch-")

  private val tempRoots = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private lazy val tempRootHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => tempRoots.forEach(f => org.apache.hadoop.fs.FileUtil.fullyDelete(f): Unit)))
}
