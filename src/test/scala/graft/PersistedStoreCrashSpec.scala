package graft

import java.io.{File, IOException}
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, SpanDedup}
import graft.store.{FileOps, PartitionedStore}
import graft.streaming.FingerprintStore

/** The crash-point matrix of every persisted-state mutation: qd18's
  * signature store (a merge that rewrites partitions, a pure append,
  * compaction), the fingerprint store (an append with its meta, a
  * compaction that doubles the fanout) and the clustered sink's
  * compaction. Each operation runs once per crash point k against a fresh
  * copy of the same pre-operation store, through file ops that fail every
  * call from the k-th mutation on (a power cut: the in-process rollback
  * cannot run either). The copy is then reopened with the real file
  * system; it must read as exactly the pre- or the post-operation state,
  * and the operation, run again, must succeed and reach the post state.
  */
class PersistedStoreCrashSpec extends SparkSpec {

  /** `real`'s calls until the `failFrom`-th mutation; from it on, every
    * call throws. */
  private final class PowerCut(real: FileOps, failFrom: Int) extends FileOps {
    var mutations = 0
    private var cut = false
    private def call[T](mutation: Boolean)(op: => T): T = {
      if (mutation && !cut) { mutations += 1; cut = mutations >= failFrom }
      if (cut) throw new IOException(s"power cut at mutation $failFrom")
      op
    }
    def exists(p: String): Boolean = call(false)(real.exists(p))
    def list(p: String): Seq[String] = call(false)(real.list(p))
    def read(p: String): String = call(false)(real.read(p))
    def write(p: String, text: String): Unit = call(true)(real.write(p, text))
    def mkdirs(p: String): Unit = call(true)(real.mkdirs(p))
    def move(src: String, dst: String): Unit = call(true)(real.move(src, dst))
    def delete(p: String): Unit = call(true)(real.delete(p))
  }

  private def real(dir: String): FileOps = FileOps(spark, dir)

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }

  /** Runs the matrix for `op` over copies of the store at `template`;
    * `state` opens a store dir with the real file system and reads it.
    * Returns the number of crash points. */
  private def matrix[S](template: Path)(op: (String, FileOps) => Unit)(
      state: String => S): Int = {
    val work = PartitionedStore.tempRoot("graft-crash-matrix-")
    def fresh(tag: String): String = {
      val d = work.resolve(tag); copyTree(template, d); d.toString
    }
    val pre = state(fresh("pre"))
    val clean = fresh("clean")
    val counter = new PowerCut(real(clean), Int.MaxValue)
    op(clean, counter)
    val post = state(clean)
    assert(post !== pre, "the operation under test changed nothing")
    val n = counter.mutations
    assert(n > 0)
    (1 to n).foreach { k =>
      val d = fresh(s"k$k")
      intercept[Exception](op(d, new PowerCut(real(d), k)))
      val after = state(d)
      assert(after == pre || after == post,
        s"crash at mutation $k of $n left a state that is neither pre nor post:\n$after")
      assert(!new File(d, "_txn").exists(), s"crash at $k: _txn left after reopen")
      op(d, real(d))
      assert(state(d) === post, s"crash at $k: the operation run again missed post")
    }
    org.apache.hadoop.fs.FileUtil.fullyDelete(work.toFile)
    n
  }

  // ---- the signature store ----------------------------------------------

  private def sigs(rows: Seq[(Long, String)]): (DataFrame, DataFrame) = {
    import spark.implicits._
    val docs = rows.toDF("doc_id", "text")
    (docs.select(col("doc_id"), md5(col("text")).as("h")),
      Dedup.simhashChunks(docs)
        .select(col("doc_id"), col("c"), col("chunk"), col("simhash")))
  }
  private def doc(i: Long, tag: String = "v1") =
    i -> (1 to 30).map(j => s"$tag${i}w$j").mkString(" ")

  private def sigTemplate(batches: Seq[Seq[(Long, String)]]): Path = {
    val root = PartitionedStore.tempRoot("graft-crash-sig-")
    val st = SpanDedup.SignatureStore.open(spark, root.toString)
    batches.foreach { b => val (h, c) = sigs(b); st.merge(h, c): Unit }
    root
  }

  /** Both tables' rows; `files` adds each table's parquet file count per
    * partition, the layout compaction changes. */
  private def sigState(files: Boolean)(dir: String) = {
    val st = SpanDedup.SignatureStore.open(spark, dir)
    def layout(t: String) = if (!files) Nil else
      new File(dir, t).listFiles().filter(_.getName.startsWith("dp=")).toSeq
        .map(p => p.getName -> p.list().count(_.endsWith(".parquet"))).sorted
    (st.readH.collect().map(_.toString).sorted.toSeq,
      st.readChunks.collect().map(_.toString).sorted.toSeq,
      layout("h"), layout("chunks"))
  }

  private def sigMerge(batch: Seq[(Long, String)])(dir: String, ops: FileOps): Unit = {
    val (h, c) = sigs(batch)
    new SpanDedup.SignatureStore(spark, dir, true, ops).merge(h, c): Unit
  }

  test("crash matrix: signature store merge that rewrites touched partitions") {
    val template = sigTemplate(Seq(Seq(doc(1), doc(2), doc(3))))
    val n = matrix(template)(sigMerge(Seq(doc(2, "v2"), doc(7))))(sigState(false))
    info(s"$n crash points")
  }

  test("crash matrix: signature store pure append") {
    val template = sigTemplate(Seq(Seq(doc(1), doc(2))))
    val n = matrix(template)(sigMerge(Seq(doc(5), doc(6))))(sigState(false))
    info(s"$n crash points")
  }

  test("crash matrix: signature store compaction") {
    // three appends into the same two partitions: md5 of 1, 2, 8 starts
    // with c, of 4, 14, 37 with a
    val template = sigTemplate(Seq(Seq(doc(1), doc(4)), Seq(doc(2), doc(14)),
      Seq(doc(8), doc(37))))
    val n = matrix(template) { (dir, ops) =>
      new SpanDedup.SignatureStore(spark, dir, true, ops).compact()
    }(sigState(true))
    info(s"$n crash points")
  }

  test("overlapMerge: a failure on either side of the second thread leaves the pre-merge store; the next merge succeeds") {
    val template = sigTemplate(Seq(Seq(doc(1), doc(2), doc(3))))
    val boom = udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("injected"); id
    }
    val batch = Seq(doc(2, "v2"), doc(8))
    val work = PartitionedStore.tempRoot("graft-crash-overlap-")
    val expected = {
      val d = work.resolve("clean"); copyTree(template, d)
      sigMerge(batch)(d.toString, real(d.toString)); sigState(false)(d.toString)
    }
    // the calling thread stages h, the spawned one chunks
    Seq("h side (calling thread)" -> true, "chunks side (spawned thread)" -> false)
      .foreach { case (side, failH) =>
        val d = work.resolve(if (failH) "h" else "c"); copyTree(template, d)
        val dir = d.toString
        val pre = sigState(false)(dir)
        val st = SpanDedup.SignatureStore.open(spark, dir)
        val (h, c) = sigs(batch)
        val touched = st.probeTouched(h)
        assert(touched.nonEmpty, "the batch must rewrite a partition")
        val (badH, badC) =
          if (failH) (h.withColumn("doc_id", boom(col("doc_id"))), c)
          else (h, c.withColumn("doc_id", boom(col("doc_id"))))
        intercept[Exception](st.merge(badH, badC, Some(touched)))
        assert(sigState(false)(dir) === pre, s"$side: failed merge changed the store")
        st.merge(h, c, Some(touched)): Unit
        assert(sigState(false)(dir) === expected, s"$side: next merge missed post")
      }
  }

  // ---- the fingerprint store --------------------------------------------

  private def hFrame(hs: Seq[Long]) = {
    import spark.implicits._
    hs.toDF("h")
  }

  private def fpTemplate(hs: Seq[Long]): Path = {
    val root = PartitionedStore.tempRoot("graft-crash-fp-")
    FingerprintStore.create(spark, root.toString).append(hFrame(hs)): Unit
    root
  }

  /** Rows, meta and partition dirs; every row's hp must be h mod the
    * fanout in meta, and the meta's row count must match the rows. */
  private def fpState(dir: String) = {
    val st = FingerprintStore.open(spark, dir)
    val m = st.meta
    val rows = st.distinctH.collect().map(r => r.getLong(0) -> r.getInt(1)).sorted.toSeq
    rows.foreach { case (h, hp) =>
      assert(hp === Math.floorMod(h, m.fanout.toLong).toInt,
        s"row h=$h sits in hp=$hp under fanout ${m.fanout}")
    }
    assert(m.rows === rows.size.toLong, s"meta rows ${m.rows} vs ${rows.size} rows")
    (rows, m, new File(dir).list().filter(_.startsWith("hp=")).sorted.toSeq)
  }

  test("crash matrix: fingerprint store append (data and meta)") {
    val template = fpTemplate(Seq(16L, 17L, 33L))
    val n = matrix(template) { (dir, ops) =>
      new FingerprintStore(spark, dir, ops).append(hFrame(Seq(17L, 18L, 48L, 50L))): Unit
    }(fpState)
    info(s"$n crash points")
  }

  test("crash matrix: fingerprint store compaction that doubles the fanout") {
    // h mod 16 in {0, 1}, h mod 32 in {0, 1, 16, 17}: 2 partitions -> 4
    val template = fpTemplate((0 until 8).flatMap(i => Seq(0, 1, 16, 17).map(_ + 32L * i)))
    assert(fpState(template.toString)._2.fanout === 16)
    var grown = 0
    val n = matrix(template) { (dir, ops) =>
      val st = new FingerprintStore(spark, dir, ops)
      st.compact(partRows = 1L)
      grown = st.fanout
    }(fpState)
    assert(grown === 32, "the compaction must double the fanout")
    info(s"$n crash points")
  }

  // ---- the clustered sink's compaction ----------------------------------

  test("crash matrix: compactClustered") {
    val root = PartitionedStore.tempRoot("graft-crash-clustered-")
    val path = root.resolve("t").toString
    val ev = sources.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .limit(200)
    sinks.Layout.writeClusteredBatch(ev.filter(col("event_id") % 2 === 0), 0,
      path, "user_id", "event_id", files = 1)
    sinks.Layout.writeClusteredBatch(ev.filter(col("event_id") % 2 === 1), 1,
      path, "user_id", "event_id", files = 1)
    def state(dir: String) = {
      new PartitionedStore(spark, dir, Seq(""), real(dir)) // reopen: recover
      val names = new File(dir).list().toSeq
      (spark.read.parquet(dir).drop("batch_id").collect().map(_.toString).sorted.toSeq,
        names.count(_.startsWith("batch_id=")), names.count(_.endsWith(".parquet")))
    }
    val n = matrix(Paths.get(path)) { (dir, ops) =>
      sinks.Layout.compactClusteredWith(ops)(spark, dir, "user_id", "event_id",
        files = 2, rankBits = 12)
    }(state)
    info(s"$n crash points")
  }
}
