package graft

import java.net.URI
import java.nio.file.{Files, Paths, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, CommitLog, CommitMetadata, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.fs.{NioLocalFileSystem, NioLocalFs, RawNioFileSystem}
import graft.ysb.{Gen, Ysb}

/** Streaming checkpoints over [[graft.fs.RawNioFileSystem]]: the session
  * wiring of both Hadoop file APIs, the atomic-write contract Spark's
  * checkpoint logs and state stores rely on (crash points included), and
  * restarts, also from a checkpoint written before the file system
  * existed. */
class CheckpointFileManagerSpec extends SparkSpec {
  import CheckpointFileManagerSpec._

  private def tempDir(): NioPath = graft.store.PartitionedStore.tempRoot("graft-cfm-")
  private def hadoopConf = spark.sessionState.newHadoopConf()
  private def manager(dir: NioPath): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toUri), hadoopConf)
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
  /** A temp file Spark's checkpoint manager writes before publishing `name`. */
  private def isTemp(name: String, file: String): Boolean =
    file.matches(s"\\.${java.util.regex.Pattern.quote(name)}\\.[0-9a-f-]{36}\\.tmp")
  private def bytes(n: Int, seed: Long): Array[Byte] = {
    val b = new Array[Byte](n)
    new Random(seed).nextBytes(b)
    b
  }

  test("GraftSession's FileSystem and FileContext for file: resolve to the nio file system") {
    val fs = FileSystem.get(URI.create("file:///"), hadoopConf)
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[NioLocalFileSystem].getRaw.isInstanceOf[RawNioFileSystem])
    val fc = FileContext.getFileContext(URI.create("file:///"), hadoopConf)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(manager(tempDir()).isInstanceOf[FileContextBasedCheckpointFileManager])
  }

  test("a parquet write keeps Hadoop's .crc sidecars and file modes") {
    val out = tempDir().resolve("t")
    spark.range(100).repartition(2).write.parquet(out.toString)
    val names = rawNames(out)
    val parts = names.filter(_.startsWith("part-"))
    assert(parts.size === 2)
    assert(parts.forall(p => names(s".$p.crc")), names)
    // Hadoop's default file mode under the default umask 022
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(out.resolve(parts.head)))
      === "rw-r--r--")
    assert(spark.read.parquet(out.toString).count() === 100)
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
    // Spark's rename stream rethrows without deleting its temp file, as on
    // any Hadoop file system: one temp is left beside the target
    val leftover = rawNames(dir) - "7"
    assert(leftover.size === 1 && leftover.forall(isTemp("7", _)), rawNames(dir))
    // the rename itself: no overwrite fails and leaves both files as they were
    val fc = FileContext.getFileContext(URI.create("file:///"), hadoopConf)
    val src = dir.resolve("src")
    Files.write(src, bytes(10, 17))
    intercept[FileAlreadyExistsException] {
      fc.rename(hpath(src), hpath(target), Options.Rename.NONE)
    }
    assert(Files.readAllBytes(target) sameElements first)
    assert(Files.readAllBytes(src) sameElements bytes(10, 17))
    fc.rename(hpath(src), hpath(target), Options.Rename.OVERWRITE)
    assert(Files.readAllBytes(target) sameElements bytes(10, 17))
    val second = bytes(3000, 5)
    write(fm, target, second, overwrite = true)
    assert(read(fm, target) sameElements second)
    assert(rawNames(dir) === leftover + "7")
  }

  test("temp files never show in list, in flight or left by a crash") {
    val dir = tempDir()
    new CommitLog(spark, dir.toString).add(0, CommitMetadata())
    // batch 1's commit is in flight: written and flushed, not yet renamed
    val out = manager(dir).createAtomic(hpath(dir.resolve("1")), overwriteIfPossible = false)
    out.write(bytes(100, 7))
    out.flush()
    assert(rawNames(dir).size === 2, "the temp file exists on disk")
    // Spark's manager lists it; the commit log skips it by name
    assert(manager(dir).list(hpath(dir)).map(_.getPath.getName).toSet === rawNames(dir))
    def batches(log: CommitLog): Seq[Long] = log.get(None, None).map(_._1).toSeq
    assert(batches(new CommitLog(spark, dir.toString)) === Seq(0L))
    // the process dies: the temp file stays behind, and a restart sees batch 0
    out.getWrappedStream.close()
    val restarted = new CommitLog(spark, dir.toString)
    assert(batches(restarted) === Seq(0L))
    assert(restarted.getLatestBatchId() === Some(0L))
    assert(restarted.add(1, CommitMetadata()))
    assert(batches(restarted) === Seq(0L, 1L))
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
    // Spark's manager lists the crash's temp files; its logs and state
    // stores skip them by name
    val listed = restarted.list(hpath(dir)).map(_.getPath.getName).toSet
    assert(listed.filterNot(_.startsWith(".")) === Set("3.delta"))
    assert(listed.filter(_.startsWith(".")).toSeq.sorted.zip(Seq("3.delta", "4"))
      .forall { case (t, name) => isTemp(name, t) } && listed.size === 3, listed)
    // the interrupted writes can be redone
    val after = bytes(600, 10)
    write(restarted, dir.resolve("3.delta"), after, overwrite = true)
    write(restarted, dir.resolve("4"), after, overwrite = false)
    assert(read(restarted, dir.resolve("3.delta")) sameElements after)
    assert(read(restarted, dir.resolve("4")) sameElements after)
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

  /** Finishes the replay on a checkpoint that lost its last commit (batch
    * 2) as a crash would, and returns each (window, campaign)'s final
    * (count, last update) over every batch in `sink`: each one equals its
    * closed form, and the state store holds every view. */
  private def finishAfterLostCommit(ckpt: NioPath,
      sink: mutable.Map[Long, Seq[Row]]): Map[(Long, String), (Long, Long)] = {
    assert(!Files.exists(ckpt.resolve("commits/2")) && Files.exists(ckpt.resolve("offsets/2")))
    ysbRun(spark.newSession(), ckpt.toString, TotalRows, sink)
    // update mode: a key's final value is its row in the latest batch
    val finals = sink.toSeq.sortBy(_._1).flatMap(_._2).map { r =>
      (r.getAs[Long]("time_window"), r.getAs[String]("campaign_id")) ->
        (r.getAs[Long]("count"), r.getAs[java.sql.Timestamp]("last_update").getTime)
    }.toMap
    assert(finals === closedForm(TotalRows).filter { case (k, _) => finals.contains(k) })
    val state = spark.read.format("statestore").load(ckpt.toString)
      .select(col("value.count").as("n")).agg(sum("n")).head().getLong(0)
    assert(state === (0L until TotalRows).count(_ % 3 == 0))
    finals
  }

  test("restart: YSB on the replay source resumes after its last commit is lost, exactly once") {
    val ckpt = tempDir()
    val sink = mutable.Map.empty[Long, Seq[Row]]
    ysbRun(spark.newSession(), ckpt.toString, TotalRows / 2, sink)
    assert(sink.keySet === Set(0L, 1L, 2L))
    Files.delete(ckpt.resolve("commits/2"))
    assert(finishAfterLostCommit(ckpt, sink) === closedForm(TotalRows))
    assert(sink.keySet === (0L to 5L).toSet)
  }

  test("restart: a checkpoint in the layout written before the nio file system (no .crc) resumes exactly once") {
    // The fixture is the first half of the same replay (3 batches of
    // RowsPerBatch rows, 4 state partitions) written by the streaming
    // checkpoint manager GraftSession used before the file system, with
    // commits/2 deleted as a crash would; it has no Hadoop .crc sidecar.
    val fixture = Paths.get(getClass.getResource("/ysb-replay-checkpoint-no-crc").toURI)
    val ckpt = tempDir()
    Files.walk(fixture).iterator().asScala.foreach { p =>
      val to = ckpt.resolve(fixture.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    assert(!Files.walk(ckpt).iterator().asScala.exists(_.getFileName.toString.startsWith(".")))
    val sink = mutable.Map.empty[Long, Seq[Row]]
    val finals = finishAfterLostCommit(ckpt, sink)
    assert(sink.keySet === (2L to 5L).toSet)
    // batch 2 onwards touch the second and third windows only
    assert(finals.keySet === closedForm(TotalRows).keySet.filter(_._1 > BaseMs))
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
}
