package graft

import org.apache.spark.sql.functions._

import graft.streaming.{FingerprintStore, StreamingQueries}

/** The log-structured fingerprint store's contracts (VERDICT r17 Next
  * #1): append-only-novel, incremental ≡ one-shot by hash, fanout growth
  * at compaction, crash recovery from either side of the swap, and the
  * composed screen-then-ingest-accepted production loop. */
class FingerprintStoreSpec extends SparkSpec {

  private def tmpRoot(tag: String) =
    graft.store.PartitionedStore.tempRoot(s"graft-fpstore-$tag-")

  private def hFrame(hs: Seq[Long]) = {
    import spark.implicits._
    hs.toDF("h")
  }

  private def storeH(st: FingerprintStore): Seq[Long] =
    st.distinctH.select(col("h")).collect().map(_.getLong(0)).toSeq.sorted

  test("append is novel-only: overlapping batches leave exactly the distinct union, once each") {
    val st = FingerprintStore.create(spark, s"${tmpRoot("novel")}/fp")
    assert(st.append(hFrame(Seq(1L, 2L, 3L, 3L))) === 3) // in-batch dup dropped
    assert(st.append(hFrame(Seq(2L, 3L, 4L))) === 1)     // cross-batch dups dropped
    assert(st.append(hFrame(Seq(1L, 2L, 3L, 4L))) === 0) // fully seen
    assert(storeH(st) === Seq(1L, 2L, 3L, 4L))
    assert(st.rows === 4)
    // no duplicate rows on disk — the screen's left-join rollup depends
    // on store distinctness by construction
    assert(st.distinctH.count() === 4)
  }

  test("incremental build (N appends + compact) equals the one-shot build by content hash") {
    val docs = (1L to 60L).map { i =>
      (i, (1 to 25).map(j => s"w${i % 17}_$j").mkString(" "))
    }
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    val allH = graft.ext.TextAnalysis.winnowedFingerprints(df)
      .select(col("h")).distinct()

    val oneShotDir = s"${tmpRoot("oneshot")}/fp"
    FingerprintStore.write(allH, oneShotDir)

    val incDir = s"${tmpRoot("inc")}/fp"
    val st = FingerprintStore.create(spark, incDir)
    (0 until 4).foreach { b =>
      st.append(graft.ext.TextAnalysis.winnowedFingerprints(
        df.filter(pmod(col("doc_id"), lit(4)) === b)))
    }
    st.compact()

    val oneShot = FingerprintStore.storeScan(spark, oneShotDir)
      .select(col("h")).collect().map(_.getLong(0)).toSeq.sorted
    assert(storeH(st) === oneShot)
    // and the SCREEN over both stores is identical (the qst44 ≡ qst43
    // argument at spec scale)
    val probe = df.filter(col("doc_id") <= 5L)
    val key = (r: org.apache.spark.sql.Row) =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(4)))
    val a = StreamingQueries.screenAgainstStore(st)(probe)
      .collect().map(key).toMap
    val b = StreamingQueries.screenAgainstStore(FingerprintStore.open(spark, oneShotDir))(probe)
      .collect().map(key).toMap
    assert(a === b)
  }

  test("compaction folds append files to one per partition and re-derives fanout from live rows") {
    val dir = s"${tmpRoot("fanout")}/fp"
    val st = FingerprintStore.create(spark, dir)
    assert(st.fanout === 16)
    (0 until 4).foreach { b =>
      st.append(hFrame((0 until 500).map(i => (b * 500 + i) * 7919L)))
    }
    // pre-compact: up to 4 append files per partition
    val preFiles = Option(new java.io.File(s"$dir/hp=0").listFiles())
      .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    assert(preFiles > 1, s"appends should accumulate files, saw $preFiles")
    // partRows=64 forces growth: 2000 rows / 16 parts = 125 > 64
    st.compact(partRows = 64L)
    assert(st.fanout === 32 && st.rows === 2000)
    assert(FingerprintStore.readMeta(spark, dir) ===
      FingerprintStore.Meta(32, 2000L))
    val dirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("hp="))
    assert(dirs.length === 32)
    dirs.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1,
        s"${d.getName} not folded to one file")
    }
    // layout and meta agree: every row's hp is h mod the NEW fanout
    assert(st.distinctH
      .filter(col("hp") =!= pmod(col("h"), lit(32)).cast("int"))
      .count() === 0)
    // appends keep working at the new fanout
    assert(st.append(hFrame(Seq(13L))) === 1)
    assert(st.rows === 2001)
  }

  test("recover resolves an interrupted compaction swap from either side") {
    import java.nio.file.{Files, Paths}
    val root = tmpRoot("recover")
    val dir = s"$root/fp"
    val st = FingerprintStore.create(spark, dir)
    st.append(hFrame(Seq(1L, 2L, 3L))): Unit
    val parts = new java.io.File(dir).list().filter(_.startsWith("hp=")).sorted
    val txn = Paths.get(s"$dir/_txn")
    def plan(): Unit = {
      Files.createDirectories(txn.resolve("old"))
      Files.writeString(txn.resolve("plan"),
        (parts.map(p => s"replace $p") :+ "replace _graft_index_meta.json")
          .mkString("\n"))
    }
    // crash AFTER the aside moves, BEFORE the stage placement: the live
    // partitions and meta exist only under _txn/old → open restores them
    plan()
    (parts :+ "_graft_index_meta.json").foreach(p =>
      Files.move(Paths.get(s"$dir/$p"), txn.resolve(s"old/$p")))
    val restored = FingerprintStore.open(spark, dir)
    assert(!Files.exists(txn))
    assert(parts.forall(p => Files.exists(Paths.get(s"$dir/$p"))))
    assert(storeH(restored) === Seq(1L, 2L, 3L))
    assert(restored.meta === FingerprintStore.Meta(16, 3L))
    // crash AFTER the commit marker: the placed layout is the new one, the
    // old copies under _txn/old are superseded → open drops them
    plan()
    Files.createDirectories(txn.resolve("old/hp=99"))
    Files.writeString(txn.resolve("old/hp=99/stale.txt"), "old layout")
    Files.createFile(txn.resolve("COMMITTED"))
    val reopened = FingerprintStore.open(spark, dir)
    assert(!Files.exists(txn))
    assert(storeH(reopened) === Seq(1L, 2L, 3L))
  }

  test("screenAndIngest: accepted docs join the store, later duplicates get flagged") {
    import spark.implicits._
    val run = (1 to 12).map(i => s"tok$i").mkString(" ")
    val mk = (id: Long, text: String) => Seq((id, text)).toDF("doc_id", "text")
    val st = FingerprintStore.create(spark, s"${tmpRoot("loop")}/fp")
    val b1 = StreamingQueries.screenAndIngest(st)(
      mk(1L, run + " " + (1 to 10).map(i => s"a$i").mkString(" ")))
    assert(b1.collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap ===
      Map(1L -> false)) // empty store: accepted, fingerprints ingested
    val b2 = StreamingQueries.screenAndIngest(st)(
      mk(2L, run + " " + (1 to 10).map(i => s"a$i").mkString(" ")))
    assert(b2.collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap ===
      Map(2L -> true)) // duplicate of ACCEPTED content: flagged
    val before = st.rows
    val b3 = StreamingQueries.screenAndIngest(st)(
      mk(3L, (1 to 20).map(i => s"fresh$i").mkString(" ")))
    assert(b3.collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap ===
      Map(3L -> false))
    assert(st.rows > before) // fresh accepted content grew the store
    // the flagged doc 2 contributed nothing: its fingerprint set equals
    // doc 1's, and rows only grew by doc 3's novel fingerprints
    val d3Only = graft.ext.TextAnalysis.winnowedFingerprints(
      mk(3L, (1 to 20).map(i => s"fresh$i").mkString(" ")))
      .select(col("h")).distinct().count()
    assert(st.rows === before + d3Only)
  }
}
