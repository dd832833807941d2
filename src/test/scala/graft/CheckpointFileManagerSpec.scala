package graft

import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.LocalCheckpointFileManager
import graft.ysb.{Gen, Ysb}

/** [[LocalCheckpointFileManager]]: the atomic-write contract Spark's
  * checkpoint logs and state stores rely on, crash points included;
  * checkpoints moving between it and Spark's default manager; and the
  * session wiring that turns it on. */
class CheckpointFileManagerSpec extends SparkSpec {
  import CheckpointFileManagerSpec._

  private def tempDir(): NioPath = Files.createTempDirectory("graft-cfm-")
  private def manager(dir: NioPath): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toUri), spark.sessionState.newHadoopConf())
  private def hpath(p: NioPath): Path = new Path(p.toUri)
  private def write(fm: CheckpointFileManager, p: NioPath, bytes: Array[Byte],
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(hpath(p), overwrite)
    out.write(bytes)
    out.close()
  }
  private def read(fm: CheckpointFileManager, p: NioPath): Array[Byte] = {
    val in = fm.open(hpath(p))
    try in.readAllBytes() finally in.close()
  }
  private def rawNames(dir: NioPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }
  private def listed(fm: CheckpointFileManager, dir: NioPath): Set[String] =
    fm.list(hpath(dir)).map(_.getPath.getName).toSet
  private def bytes(n: Int, seed: Long): Array[Byte] = {
    val b = new Array[Byte](n)
    new Random(seed).nextBytes(b)
    b
  }

  test("the session routes local checkpoints to LocalCheckpointFileManager") {
    assert(manager(tempDir()).isInstanceOf[LocalCheckpointFileManager])
  }

  test("createAtomic then close publishes the whole file, and only it") {
    val dir = tempDir()
    val fm = manager(dir)
    val data = bytes(1 << 20, 1) // larger than the write buffer
    write(fm, dir.resolve("0"), data, overwrite = false)
    assert(read(fm, dir.resolve("0")) sameElements data)
    assert(rawNames(dir) === Set("0"))
    assert(fm.exists(hpath(dir.resolve("0"))))
  }

  test("cancel leaves neither the target nor a temp file") {
    val dir = tempDir()
    val fm = manager(dir)
    val out = fm.createAtomic(hpath(dir.resolve("1.delta")), overwriteIfPossible = true)
    out.write(bytes(4096, 2))
    out.cancel()
    out.close() // a no-op once cancelled: nothing is published
    assert(rawNames(dir).isEmpty)
    assert(!fm.exists(hpath(dir.resolve("1.delta"))))
  }

  test("overwriteIfPossible=false on an existing target throws and keeps its bytes") {
    val dir = tempDir()
    val fm = manager(dir)
    val target = dir.resolve("7")
    val first = bytes(1000, 3)
    write(fm, target, first, overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(fm, target, bytes(2000, 4), overwrite = false)
    }
    assert(Files.readAllBytes(target) sameElements first)
    assert(rawNames(dir) === Set("7"))
    val second = bytes(3000, 5)
    write(fm, target, second, overwrite = true)
    assert(read(fm, target) sameElements second)
    assert(rawNames(dir) === Set("7"))
  }

  test("temp files never show in list, in flight or left by a crash") {
    val dir = tempDir()
    val fm = manager(dir)
    write(fm, dir.resolve("0"), bytes(10, 6), overwrite = false)
    val out = fm.createAtomic(hpath(dir.resolve("1")), overwriteIfPossible = false)
    out.write(bytes(100, 7))
    out.flush()
    assert(rawNames(dir).size === 2, "the temp file exists on disk")
    assert(listed(fm, dir) === Set("0"))
    assert(fm.list(hpath(dir), (_: Path) => true).map(_.getPath.getName).toSet === Set("0"))
    out.close()
    assert(listed(fm, dir) === Set("0", "1"))
  }

  test("a crash after the temp write and before the rename leaves the pre-write state") {
    val dir = tempDir()
    val before = bytes(500, 8)
    write(manager(dir), dir.resolve("3.delta"), before, overwrite = true)
    // the process dies with both writes flushed to their temp files but
    // neither renamed: one over an existing target, one to a new name
    val crashed = Seq(
      manager(dir).createAtomic(hpath(dir.resolve("3.delta")), overwriteIfPossible = true),
      manager(dir).createAtomic(hpath(dir.resolve("4")), overwriteIfPossible = false))
    crashed.foreach { out => out.write(bytes(700, 9)); out.flush() }
    crashed.foreach(_.getWrappedStream.close()) // descriptors close with the process
    assert(rawNames(dir).size === 3, "both temp files are left on disk")

    val restarted = manager(dir)
    assert(read(restarted, dir.resolve("3.delta")) sameElements before)
    assert(!restarted.exists(hpath(dir.resolve("4"))))
    assert(listed(restarted, dir) === Set("3.delta"))
    // the interrupted writes can be redone
    val after = bytes(600, 10)
    write(restarted, dir.resolve("3.delta"), after, overwrite = true)
    write(restarted, dir.resolve("4"), after, overwrite = false)
    assert(read(restarted, dir.resolve("3.delta")) sameElements after)
    assert(read(restarted, dir.resolve("4")) sameElements after)
  }

  test("a non-file path is handled by Spark's default manager class") {
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.grafttest.impl", classOf[TestSchemeFs].getName)
    conf.setBoolean("fs.grafttest.impl.disable.cache", true)
    val dir = tempDir()
    val root = new Path(s"grafttest://${dir.toUri.getPath}")
    def sparkPick(c: Configuration): Class[_] = {
      val plain = new Configuration(c)
      plain.unset(CheckpointFileManagerClassKey)
      CheckpointFileManager.create(root, plain).getClass
    }
    // with and without a FileContext binding for the scheme: Spark picks
    // FileContextBased- and FileSystemBasedCheckpointFileManager
    val withAfs = new Configuration(conf)
    withAfs.set("fs.AbstractFileSystem.grafttest.impl", classOf[TestSchemeAfs].getName)
    for (c <- Seq(withAfs, conf)) {
      val fm = CheckpointFileManager.create(root, c).asInstanceOf[LocalCheckpointFileManager]
      assert(fm.sparkDefault.getClass === sparkPick(c))
      val out = fm.createAtomic(new Path(root, "0"), overwriteIfPossible = false)
      assert(out.getClass.getSimpleName === "RenameBasedFSDataOutputStream")
      out.write(Array[Byte](1, 2, 3))
      out.close()
      val in = fm.open(new Path(root, "0"))
      try assert(in.readAllBytes().toSeq === Seq[Byte](1, 2, 3)) finally in.close()
      fm.delete(new Path(root, "0"))
    }
    assert(sparkPick(withAfs).getSimpleName === "FileContextBasedCheckpointFileManager")
    assert(sparkPick(conf).getSimpleName === "FileSystemBasedCheckpointFileManager")
  }

  test("a stale Hadoop .crc sidecar never fails a later read") {
    val dir = tempDir()
    val plainConf = spark.sessionState.newHadoopConf()
    plainConf.unset(CheckpointFileManagerClassKey)
    val sparkFm = CheckpointFileManager.create(hpath(dir), plainConf)
    assert(!sparkFm.isInstanceOf[LocalCheckpointFileManager])
    val fm = manager(dir)
    val hadoopFs = FileSystem.getLocal(plainConf) // verifies sidecars on read
    def hadoopRead(p: NioPath): Array[Byte] = {
      val in = hadoopFs.open(hpath(p))
      try in.readAllBytes() finally in.close()
    }
    // overwrite: Spark's manager leaves `.3.delta.crc`, the new bytes replace it
    write(sparkFm, dir.resolve("3.delta"), bytes(300, 11), overwrite = true)
    assert(Files.exists(dir.resolve(".3.delta.crc")))
    val replaced = bytes(400, 12)
    write(fm, dir.resolve("3.delta"), replaced, overwrite = true)
    assert(hadoopRead(dir.resolve("3.delta")) sameElements replaced)
    assert(read(sparkFm, dir.resolve("3.delta")) sameElements replaced)
    // no overwrite: a sidecar whose file is gone (a commit lost in a crash)
    write(sparkFm, dir.resolve("2"), bytes(50, 13), overwrite = false)
    Files.delete(dir.resolve("2"))
    val redone = bytes(60, 14)
    write(fm, dir.resolve("2"), redone, overwrite = false)
    assert(hadoopRead(dir.resolve("2")) sameElements redone)
    // the reverse: Spark's manager over a file written without a sidecar
    val back = bytes(70, 15)
    write(sparkFm, dir.resolve("3.delta"), back, overwrite = true)
    assert(read(fm, dir.resolve("3.delta")) sameElements back)
    assert(hadoopRead(dir.resolve("3.delta")) sameElements back)
  }

  /** YSB on the replay source, update mode, into a batch-keyed sink. */
  private def ysbRun(s: SparkSession, ckpt: String, totalRows: Long,
      sink: mutable.Map[Long, Seq[Row]]): Unit = {
    val events = s.readStream.format("graft.sources.ReplaySourceProvider")
      .option("totalRows", totalRows.toString).option("rowsPerBatch", RowsPerBatch.toString)
      .option("numPartitions", "2").load()
    val q = Ysb.query(events, Gen.campaigns(s)).writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val rows = df.collect().toSeq
        sink.synchronized { sink(id) = rows }
      }.start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Runs the first half of the replay under `first`, loses the last commit
    * as a crash would (its Hadoop sidecar, if any, stays), and finishes
    * under `second`. */
  private def switchManagers(first: SparkSession, second: SparkSession): Unit = {
    val ckpt = tempDir()
    val sink = mutable.Map.empty[Long, Seq[Row]]
    ysbRun(first, ckpt.toString, TotalRows / 2, sink)
    assert(sink.keySet === Set(0L, 1L, 2L))
    Files.delete(ckpt.resolve("commits/2"))
    ysbRun(second, ckpt.toString, TotalRows, sink)
    assert(sink.keySet === (0L to 5L).toSet)

    // update mode: a key's final value is its row in the latest batch
    val finals = sink.toSeq.sortBy(_._1).flatMap(_._2).map { r =>
      (r.getAs[Long]("time_window"), r.getAs[String]("campaign_id")) ->
        (r.getAs[Long]("count"), r.getAs[java.sql.Timestamp]("last_update").getTime)
    }.toMap
    assert(finals === closedForm(TotalRows))
    // every state version reads back, through the checksum-verifying reader
    val state = spark.read.format("statestore").load(ckpt.toString)
      .select(col("value.count").as("n")).agg(sum("n")).head().getLong(0)
    assert(state === (0L until TotalRows).count(_ % 3 == 0))
    val hadoopFs = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    val files = Files.walk(ckpt).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(p => p.getFileName.toString.startsWith(".")).toSeq
    files.foreach { p =>
      val in = hadoopFs.open(hpath(p))
      try in.readAllBytes() finally in.close()
    }
  }

  private def sparkDefaultSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.unset(CheckpointFileManagerClassKey)
    s
  }

  test("restart: Spark's default manager, then this one, exactly once across the switch") {
    switchManagers(sparkDefaultSession(), spark.newSession())
  }

  test("restart: this manager, then Spark's default, exactly once across the switch") {
    switchManagers(spark.newSession(), sparkDefaultSession())
  }

  test("a GraftSession query leaves no Hadoop .crc sidecar in its checkpoint") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ckpt = tempDir()
    val ms = MemoryStream[(String, Long)]
    val q = ms.toDF().toDF("k", "v").groupBy(col("k")).agg(sum(col("v")))
      .writeStream.outputMode("update").format("noop")
      .option("checkpointLocation", ckpt.toString).start()
    try {
      ms.addData(("a", 1L), ("b", 2L))
      q.processAllAvailable()
      ms.addData(("a", 3L))
      q.processAllAvailable()
    } finally q.stop()
    for (sub <- Seq("offsets", "commits", "state")) {
      val names = Files.walk(ckpt.resolve(sub)).iterator().asScala
        .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSeq
      assert(names.exists(n => !n.startsWith(".")), s"$sub/ holds checkpoint files")
      assert(!names.exists(n => n.startsWith(".") && n.endsWith(".crc")),
        s"Hadoop checksum sidecars in $sub/: ${names.filter(_.startsWith("."))}")
    }
  }
}

object CheckpointFileManagerSpec {
  val CheckpointFileManagerClassKey = "spark.sql.streaming.checkpointFileManagerClass"
  val TotalRows = 30000L
  val RowsPerBatch = 5000L
  private val BaseMs = 1704067200000L // the replay source's event-time origin

  /** YSB over replay rows [0, total): row i is a view when i % 3 == 0, has
    * campaign (i % 1000) / 10 and event time BaseMs + i ms, so it falls in
    * the 10 s window starting at BaseMs + i / 10000 * 10000. */
  def closedForm(total: Long): Map[(Long, String), (Long, Long)] =
    (0L until total).filter(_ % 3 == 0)
      .groupBy(i => (BaseMs + i / 10000 * 10000, s"camp${i % 1000 / 10}"))
      .map { case (k, is) => k -> (is.size.toLong, BaseMs + is.max) }

  /** A `RawLocalFileSystem` under another scheme. */
  class TestSchemeFs extends RawLocalFileSystem {
    override def getUri: URI = URI.create("grafttest:///")
    override def getScheme: String = "grafttest"
  }

  /** The `FileContext` binding of [[TestSchemeFs]]. */
  class TestSchemeAfs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new TestSchemeFs, conf, "grafttest", false)
}
