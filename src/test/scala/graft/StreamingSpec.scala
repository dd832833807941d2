package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter}
import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{FingerprintStore, Sessionize, StreamingQueries}
import graft.ysb.{Gen, Ysb}

class StreamingSpec extends SparkSpec {

  import spark.implicits._

  test("streaming/batch consistency: windowed agg final state equals batch result") {
    val streamed = StreamingQueries.queries.find(_.name == "qst01_stream_tumbling").get
      .run(spark, sf)
    val batch = graft.sources.Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("ts")).as("last_update"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"),
        col("last_update"))
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("replayTable handles directory-layout corpora (Spark-written tables)") {
    // testdata ships one parquet FILE per table; Spark-written corpora
    // (grown tiers) are DIRECTORIES of part files. The same runBounded
    // query must produce the identical result over both layouts.
    val tmp = graft.store.PartitionedStore.tempRoot("graft-dirlayout-").toString
    try {
      val docs = graft.sources.Tables.documents(spark, sf).limit(500)
      docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val streamed = StreamingQueries.runBounded(spark, tmp, "documents", "complete") {
        d => d.groupBy(col("source")).agg(count(lit(1)).as("n"),
          sum(length(col("text"))).as("chars"))
      }
      val batch = spark.read.parquet(s"$tmp/documents.parquet")
        .groupBy(col("source")).agg(count(lit(1)).as("n"),
          sum(length(col("text"))).as("chars"))
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
    } finally {
      import java.nio.file._
      Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  test("watermark drops late data in append mode (W3/W4)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String)]
    val base = 1700000000000L
    def t(offsetSec: Long) = new Timestamp(base + offsetSec * 1000)
    val agg = ms.toDF().toDF("event_time", "k")
      .withWatermark("event_time", "5 seconds")
      .groupBy(window(col("event_time"), "10 seconds"), col("k"))
      .count()
      .select(unix_millis(col("window.start")).as("w"), col("k"), col("count"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_test").start()
    try {
      ms.addData((t(1), "a"), (t(2), "a"))
      q.processAllAvailable() // watermark after batch: 2s−5s → nothing closed
      ms.addData((t(30), "b"))
      q.processAllAvailable() // watermark 25 s → [0,10) closes and emits
      ms.addData((t(3), "a")) // later than watermark: dropped
      ms.addData((t(60), "c"))
      q.processAllAvailable() // watermark 55 s → [30,40) closes
      val rows = spark.table("wm_test")
        .collect().map(r => (r.getLong(0) - base, r.getString(1), r.getLong(2))).toSet
      assert(rows === Set((0L, "a", 2L), (30000L, "b", 1L)))
    } finally q.stop()
  }

  test("qst18 dropDuplicatesWithinWatermark: dups within horizon dropped, expired keys re-emit") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String)]
    val base = 1700000000000L
    def t(offsetSec: Long) = new Timestamp(base + offsetSec * 1000)
    val dedup = ms.toDF().toDF("event_time", "k")
      .withWatermark("event_time", "10 seconds")
      .dropDuplicatesWithinWatermark("k")
      .select(col("k"))
    val q = dedup.writeStream.outputMode("append")
      .format("memory").queryName("ddww_test").start()
    try {
      ms.addData((t(0), "a"), (t(5), "a"))
      q.processAllAvailable() // intra-batch dup dropped: "a" emitted once
      ms.addData((t(100), "b"))
      q.processAllAvailable() // watermark → 90 s: "a"'s state (expiry 10 s) evicted
      ms.addData((t(101), "a"), (t(102), "a"))
      q.processAllAvailable() // state expired → "a" re-emitted (once; dup dropped)
      val got = spark.table("ddww_test").groupBy("k").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // bounded state's trade, pinned: one re-emission after expiry, no
      // duplicate emissions inside the horizon
      assert(got === Map("a" -> 2L, "b" -> 1L))
    } finally q.stop()
  }

  test("W5 hybrid trigger: early update fires, final append purge equals last fire") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String)]
    val base = 1700000000000L
    def t(offsetSec: Long) = new Timestamp(base + offsetSec * 1000)
    val (early, fin) = graft.streaming.HybridTrigger.dual(
      ms.toDF().toDF("event_time", "k"), "event_time", "k",
      "10 seconds", "5 seconds")
    val qe = early.writeStream.outputMode("update")
      .format("memory").queryName("hy_early").start()
    val qf = fin.writeStream.outputMode("append")
      .format("memory").queryName("hy_final").start()
    try {
      def step(data: (Timestamp, String)*): Unit = {
        ms.addData(data)
        qe.processAllAvailable(); qf.processAllAvailable()
      }
      step((t(1), "a"))   // early FIRE: (0, a, 1)
      step((t(2), "a"))   // early FIRE: corrected (0, a, 2)
      step((t(30), "b"))  // watermark 25 s -> [0,10) purges in the final sink
      def rows(table: String) = spark.table(table).collect()
        .map(r => (r.getTimestamp(0).getTime - base, r.getString(1), r.getLong(2))).toSet
      assert(rows("hy_early") === Set((0L, "a", 1L), (0L, "a", 2L), (30000L, "b", 1L)))
      assert(rows("hy_final") === Set((0L, "a", 2L)))
      // the FIRE_AND_PURGE row equals the last early FIRE for that window
      val lastEarly = rows("hy_early").groupBy(r => (r._1, r._2))
        .map { case (k, rs) => (k._1, k._2, rs.map(_._3).max) }.toSet
      assert(rows("hy_final").subsetOf(lastEarly))
    } finally { qe.stop(); qf.stop() }
  }

  test("no-watermark update mode re-emits corrected counts (reference Spark behavior)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String)]
    val base = 1700000000000L
    def t(offsetSec: Long) = new Timestamp(base + offsetSec * 1000)
    val agg = ms.toDF().toDF("event_time", "k")
      .groupBy(window(col("event_time"), "10 seconds"), col("k"))
      .count()
      .select(unix_millis(col("window.start")).as("w"), col("k"), col("count"))
    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName("upd_test").start()
    try {
      ms.addData((t(1), "a"))
      q.processAllAvailable()
      ms.addData((t(2), "a")) // same window: count corrected 1 → 2
      q.processAllAvailable()
      val emitted = spark.table("upd_test")
        .collect().map(r => (r.getLong(0) - base, r.getString(1), r.getLong(2)))
      assert(emitted.count(_ == (0L, "a", 1L)) === 1)
      assert(emitted.count(_ == (0L, "a", 2L)) === 1)
    } finally q.stop()
  }

  test("YSB streaming via MemoryStream matches batch YSB") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[graft.ysb.Event]
    val events = Gen.boundedEvents(spark, 6000L).as[graft.ysb.Event].collect()
    val dim = Gen.campaigns(spark)
    val streamOut = Ysb.query(ms.toDF(), dim, "10 seconds")
    val q = streamOut.writeStream.outputMode("complete")
      .format("memory").queryName("ysb_stream").start()
    try {
      ms.addData(events.take(3000))
      ms.addData(events.drop(3000))
      q.processAllAvailable()
      val got = spark.table("ysb_stream")
      val want = Ysb.query(Gen.boundedEvents(spark, 6000L), dim, "10 seconds")
      assert(got.exceptAll(want).count() === 0)
      assert(want.exceptAll(got).count() === 0)
    } finally q.stop()
  }

  test("YSB on the replay source runs one job per data batch, with no broadcast and a columnar scan") {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val marker = s"ysb-jobs-marker-${System.nanoTime()}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Option(e.properties).foreach { p =>
        jobs.add((String.valueOf(p.getProperty("sql.streaming.queryId")),
          String.valueOf(p.getProperty("streaming.sql.batchId"))))
        if (p.getProperty("spark.job.description") == marker) jobs.add((marker, ""))
      }
    }
    val events = spark.readStream.format("graft.sources.ReplaySourceProvider")
      .option("totalRows", "30000").option("rowsPerBatch", "10000")
      .option("numPartitions", "2").load()
    val out = Ysb.query(events, Gen.campaigns(spark))
    spark.sparkContext.addSparkListener(listener)
    val q = out.writeStream.outputMode("complete").format("memory")
      .queryName("ysb_jobs").start()
    try {
      q.processAllAvailable()
      // events reach a listener in order: once the marker job is seen,
      // every job of the query has been seen
      spark.sparkContext.setJobDescription(marker)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 10000
      while (!jobs.contains((marker, "")) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      val perBatch = jobs.asScala.toSeq.filter(_._1 == q.id.toString)
        .groupBy(_._2).map { case (b, js) => b -> js.size }
      assert(perBatch === Map("0" -> 1, "1" -> 1, "2" -> 1))
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      assert(plan.collect { case b: BroadcastExchangeExec => b }.isEmpty, plan.toString)
      // whole-stage codegen puts an InputAdapter between the two
      assert(plan.collect { case c: ColumnarToRowExec => c.child }.exists {
        case InputAdapter(s) => s.isInstanceOf[MicroBatchScanExec]
        case s => s.isInstanceOf[MicroBatchScanExec]
      }, plan.toString)
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("rate-source generator stream starts and produces YSB-shaped rows") {
    val stream = Gen.rateStream(spark, rowsPerSecond = 500, numPartitions = 2)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("rate_smoke")
      .trigger(Trigger.ProcessingTime("250 milliseconds")).start()
    try {
      var n = 0L
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (n == 0 && System.nanoTime() < deadline) {
        Thread.sleep(200)
        n = spark.table("rate_smoke").count()
      }
      assert(n > 0)
      val row = spark.table("rate_smoke").limit(1).collect()(0)
      assert(row.schema.fieldNames.contains("ad_id"))
    } finally q.stop()
  }

  test("transformWithState running counters accumulate across batches (RocksDB)") {
    implicit val ctx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[Long]
    val q = graft.streaming.RunningCounters.countByKey(ms.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("tws_test").start()
    try {
      ms.addData(1L, 1L, 2L)
      q.processAllAvailable()
      ms.addData(1L, 3L)
      q.processAllAvailable()
      val rows = spark.table("tws_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows === Set((1L, 2L, 2L), (2L, 1L, 1L), (1L, 3L, 1L), (3L, 1L, 1L)))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("dropDuplicatesWithinWatermark dedups inside the watermark horizon") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String)]
    val base = 1700000000000L
    def t(offsetSec: Long) = new Timestamp(base + offsetSec * 1000)
    val dedup = ms.toDF().toDF("event_time", "k")
      .withWatermark("event_time", "10 seconds")
      .dropDuplicatesWithinWatermark("k")
    val q = dedup.writeStream.outputMode("append")
      .format("memory").queryName("ddww_test").start()
    try {
      ms.addData((t(1), "a"), (t(2), "a"), (t(3), "b")) // dup "a" within horizon
      q.processAllAvailable()
      ms.addData((t(100), "c"))                          // advances watermark far
      q.processAllAvailable()
      ms.addData((t(101), "a"))                          // "a" re-allowed: state expired
      q.processAllAvailable()
      val ks = spark.table("ddww_test").collect().map(_.getString(1))
      assert(ks.count(_ == "a") === 2) // once per watermark horizon
      assert(ks.count(_ == "b") === 1)
      assert(ks.count(_ == "c") === 1)
    } finally q.stop()
  }

  test("stream-stream interval join matches within the time bound only") {
    implicit val ctx = spark.sqlContext
    val base = 1700000000000L
    def t(offsetSec: Long) = new Timestamp(base + offsetSec * 1000)
    val clicks = MemoryStream[(Long, Timestamp)]
    val views = MemoryStream[(Long, Timestamp)]
    val joined = graft.streaming.StreamJoin.intervalJoin(
      clicks.toDF().toDF("c_key", "c_ts"),
      views.toDF().toDF("v_key", "v_ts"),
      "c_key", "c_ts", "v_key", "v_ts", lowerSec = 0, upperSec = 5)
      .select(col("c_key"), unix_millis(col("c_ts")).as("ct"), unix_millis(col("v_ts")).as("vt"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_test").start()
    try {
      clicks.addData((1L, t(10)), (2L, t(20)))
      views.addData((1L, t(12)), (1L, t(30)), (2L, t(19)), (3L, t(21)))
      q.processAllAvailable()
      val got = spark.table("ssj_test").collect()
        .map(r => (r.getLong(0), (r.getLong(1) - base) / 1000, (r.getLong(2) - base) / 1000)).toSet
      // key 1: view@12 within [10,15] ✓, view@30 ✗; key 2: view@19 before click ✗; key 3 no click
      assert(got === Set((1L, 10L, 12L)))
    } finally q.stop()
  }

  test("streaming near-dup dedup equals the batch drop rule (qst10)") {
    val streamed = StreamingQueries.queries.find(_.name == "qst10_stream_neardup").get
      .run(spark, sf)
    // batch formulation of the same CAPPED rule: drop b iff some a < b
    // shares a 12-bit simhash chunk bucket of <= BucketCap members with
    // Hamming(a, b) <= 12 — qd07's capped semantics, which the streaming
    // processor enforces by poisoning oversized buckets (at this SF no
    // bucket exceeds the cap, so the sets also equal the uncapped rule)
    val sim = graft.ext.Dedup.withSimhash(graft.sources.Tables.documents(spark, sf))
    val chunks = sim.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        expr(s"(simhash div cast(pow(2, ${12 * c}) as bigint)) % 4096")
          .cast("long") * 4 + c): _*)).as("ck"))
    val keptB = chunks.groupBy(col("ck")).agg(count(lit(1)).as("n"))
      .filter(col("n") <= graft.ext.Dedup.BucketCap).select(col("ck"))
    val dropped = chunks.alias("x").join(chunks.alias("y"),
        col("x.ck") === col("y.ck") && col("x.doc_id") < col("y.doc_id") &&
          expr("bit_count(x.simhash ^ y.simhash) <= 12"))
      .join(keptB.withColumnRenamed("ck", "kck"), col("x.ck") === col("kck"))
      .select(col("y.doc_id").as("doc_id")).distinct()
    val batch = sim.join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("simhash"))
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    assert(streamed.count() > 0)
  }

  /** The one-shot fingerprint store of `seen`'s distinct winnowed
    * fingerprints at `idxDir`, opened. */
  private def writeIndex(seen: org.apache.spark.sql.DataFrame,
      idxDir: String): FingerprintStore = {
    FingerprintStore.write(graft.ext.TextAnalysis.winnowedFingerprints(seen)
      .select(col("h")).distinct(), idxDir)
    FingerprintStore.open(spark, idxDir)
  }

  /** Run `body` with the RocksDB state store provider (transformWithState
    * contract), restoring the previous provider afterwards. */
  private def withRocksDB[A](body: => A): A = {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("state reader over ListState: bucket membership audited from a checkpoint") {
    // qst23 reads a ValueState variable; this pins the LIST-state face —
    // the per-bucket candidate lists a production audit of qst10's
    // processor actually inspects. flattenCollectionTypes explodes each
    // list into one row per element, so the audit stays a parallel scan.
    withRocksDB {
      implicit val ctx = spark.sqlContext
      val ms = MemoryStream[(Long, Long)]
      val ckpt = graft.store.PartitionedStore.tempRoot("graft-liststate-").toString
      val flags = graft.streaming.NearDupDedup.flagNearDuplicates(
        ms.toDF().toDF("doc_id", "simhash"))
      val q = flags.writeStream.outputMode("update")
        .format("memory").queryName("ndd_statereader")
        .option("checkpointLocation", ckpt).start()
      try {
        ms.addData((1L, 0x0F0FL), (2L, 0xF0F0L))
        q.processAllAvailable()
      } finally q.stop()
      try {
        val st = spark.read.format("statestore")
          .option("stateVarName", "seen")
          .option("flattenCollectionTypes", "true")
          .load(ckpt)
        // each doc registers in 4 chunk buckets → 8 list entries total;
        // per-doc entries carry the doc's simhash verbatim
        val entries = st.selectExpr("list_element._1 AS docId",
          "list_element._2 AS sim").collect()
        assert(entries.length === 8)
        val byDoc = entries.groupBy(_.getLong(0))
        assert(byDoc.keySet === Set(1L, 2L))
        assert(byDoc(1L).length === 4 && byDoc(1L).forall(_.getLong(1) === 0x0F0FL))
        assert(byDoc(2L).length === 4 && byDoc(2L).forall(_.getLong(1) === 0xF0F0L))
      } finally {
        import java.nio.file._
        Files.walk(Paths.get(ckpt)).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      }
    }
  }

  test("near-dup out-of-order arrival still matches the doc_id-ordered rule") {
    // doc 20 arrives in trigger 1 and is emitted dup=0; doc 10 with an
    // IDENTICAL simhash arrives in trigger 2 — under the doc_id-ordered
    // batch rule doc 20 is the duplicate. The processor must re-emit
    // 20's flag with dup=1 (merged by the sink-side max), or the kept set
    // silently diverges from the qst10 oracle under out-of-order delivery.
    withRocksDB {
      implicit val ctx = spark.sqlContext
      val ms = MemoryStream[(Long, Long)]
      val flags = graft.streaming.NearDupDedup.flagNearDuplicates(
        ms.toDF().toDF("doc_id", "simhash"))
      val q = flags.writeStream.outputMode("update")
        .format("memory").queryName("ndd_ooo").start()
      try {
        ms.addData((20L, 0x0F0FL))
        q.processAllAvailable()
        ms.addData((10L, 0x0F0FL))
        q.processAllAvailable()
        val kept = spark.table("ndd_ooo")
          .groupBy(col("docId")).agg(max(col("dup")).as("dup"))
          .filter(col("dup") === 0).collect().map(_.getLong(0)).toSet
        assert(kept === Set(10L))
      } finally q.stop()
    }
  }

  /** The qst10 sink-side reduction: kept docs = universe minus docs with a
    * dup=1 flag in a non-poisoned bucket. */
  private def nearDupKept(table: String): Set[Long] = {
    val t = spark.table(table)
    // renamed keys: all frames descend from the same memory-sink view
    val bad = t.filter(col("poisoned") === 1)
      .select(col("c").as("bc"), col("chunk").as("bchunk")).distinct()
    val dup = t.filter(col("dup") === 1)
      .join(bad, col("c") === col("bc") && col("chunk") === col("bchunk"), "left_anti")
      .select(col("docId").as("dup_id")).distinct()
    t.filter(col("docId") =!= -1L).select(col("docId")).distinct()
      .join(dup, col("docId") === col("dup_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
  }

  test("near-dup bucketCap poisons oversized buckets: bounded state, deterministic, observable") {
    // Four docs sharing ONLY the chunk-0 bucket (low 12 simhash bits all
    // 0); upper-36-bit patterns pairwise Hamming > 12 except doc 4, which
    // is Hamming 3 from doc 3 but collides with it in no other chunk.
    // With bucketCap=2 the shared bucket's membership passes the cap when
    // doc 3 arrives: the processor emits the poison marker, clears the
    // bucket's list state, and every dup flag from that bucket is
    // discarded by the reduction — qd07's capped-oracle semantics
    // ("oversized buckets produce no pairs"). All four docs are kept, the
    // drop channel counts the cleared + suppressed entries, and the same
    // data in ONE trigger must give the same kept set (final membership
    // counts, not arrival order, decide poisoning).
    withRocksDB {
      implicit val ctx = spark.sqlContext
      def sh(p: Long) = p << 12
      val sh4 = sh(0x555555555L) ^ (1L << 12) ^ (1L << 24) ^ (1L << 36)
      assert(java.lang.Long.bitCount(sh4 ^ sh(0x555555555L)) === 3)
      val docs = Seq((1L, sh(0L)), (2L, sh(0xFFFFFFFFFL)),
        (3L, sh(0x555555555L)), (4L, sh4))
      val acc = spark.sparkContext.longAccumulator("ndd_evictions")
      val ms = MemoryStream[(Long, Long)]
      val flags = graft.streaming.NearDupDedup.flagNearDuplicates(
        ms.toDF().toDF("doc_id", "simhash"), bucketCap = 2, evictions = Some(acc))
      val q = flags.writeStream.outputMode("update")
        .format("memory").queryName("ndd_cap").start()
      try {
        ms.addData(docs(0), docs(1))
        q.processAllAvailable()
        ms.addData(docs(2))
        q.processAllAvailable()
        ms.addData(docs(3))
        q.processAllAvailable()
        assert(acc.value >= 3, "poison drop channel never fired")
        val markers = spark.table("ndd_cap").filter(col("poisoned") === 1)
          .select(col("c"), col("chunk")).distinct().count()
        assert(markers === 1, "exactly the one oversized bucket is poisoned")
        assert(nearDupKept("ndd_cap") === Set(1L, 2L, 3L, 4L))
      } finally q.stop()

      // any-split determinism: the same four docs in a single trigger
      val ms2 = MemoryStream[(Long, Long)]
      val q2 = graft.streaming.NearDupDedup.flagNearDuplicates(
          ms2.toDF().toDF("doc_id", "simhash"), bucketCap = 2)
        .writeStream.outputMode("update")
        .format("memory").queryName("ndd_cap1").start()
      try {
        ms2.addData(docs: _*)
        q2.processAllAvailable()
        assert(nearDupKept("ndd_cap1") === Set(1L, 2L, 3L, 4L))
      } finally q2.stop()
    }
  }

  test("near-dup TTL horizon config runs (processing-time state expiry)") {
    // TTL requires TimeMode.ProcessingTime, and a processing-time query by
    // design never quiesces (batches fire on the trigger clock), so no
    // drain-style wait applies — poll the sink while the query runs, then
    // stop it. The deterministic state bound pinned by spec is bucketCap;
    // this pins that the TTL'd state path flags within the horizon.
    withRocksDB {
      implicit val ctx = spark.sqlContext
      val ms = MemoryStream[(Long, Long)]
      ms.addData((1L, 7L), (2L, 7L))
      val flags = graft.streaming.NearDupDedup.flagNearDuplicates(
        ms.toDF().toDF("doc_id", "simhash"),
        ttl = org.apache.spark.sql.streaming.TTLConfig(
          java.time.Duration.ofMinutes(10)))
      val q = flags.writeStream.outputMode("update")
        .format("memory").queryName("ndd_ttl").start()
      try {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        def flagged(): Set[Long] = spark.table("ndd_ttl")
          .groupBy(col("docId")).agg(max(col("dup")).as("dup"))
          .filter(col("dup") === 1).collect().map(_.getLong(0)).toSet
        var dup = flagged()
        while (dup.isEmpty && System.nanoTime() < deadline) {
          Thread.sleep(500); dup = flagged()
        }
        assert(dup === Set(2L)) // within the horizon the rule is unchanged
      } finally q.stop()
    }
  }

  test("streaming contamination gate equals batch qt10 (qst11)") {
    val streamed = StreamingQueries.queries
      .find(_.name == "qst11_stream_contamination").get.run(spark, sf)
    val batch = Registry.byName("qt10_contamination").run(spark, sf)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    assert(streamed.count() > 0)
  }

  test("flatMapGroupsWithState sessionization emits sessions at watermark") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Sessionize.Click]
    val base = 1700000000000L
    def click(u: Long, offSec: Long) = Sessionize.Click(u, new Timestamp(base + offSec * 1000))
    val sessions = Sessionize.sessions(
      ms.toDS().withWatermark("ts", "0 seconds").as[Sessionize.Click],
      gapMs = 30000L)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_test").start()
    try {
      ms.addData(click(1, 0), click(1, 10), click(2, 5))
      q.processAllAvailable()
      // advance watermark far past user 1/2 sessions
      ms.addData(click(9, 1000))
      q.processAllAvailable()
      ms.addData(click(9, 2000)) // nudge another batch so timeouts fire
      q.processAllAvailable()
      val got = spark.table("sess_test").as[Sessionize.Session].collect()
        .map(s => (s.user_id, s.s_start.getTime - base, s.s_end.getTime - base, s.n)).toSet
      assert(got.contains((1L, 0L, 40000L, 2L)))
      assert(got.contains((2L, 5000L, 35000L, 1L)))
    } finally q.stop()
  }
  test("streaming block dedup equals the batch qd15 keeper rule (qst16)") {
    val streamed = StreamingQueries.queries.find(_.name == "qst16_stream_block_dedup").get
      .run(spark, sf)
    val batch = Registry.byName("qd15_block_dedup_rewrite").run(spark, sf)
      .select(col("doc_id"), col("kept_blocks"))
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    assert(streamed.count() > 0)
  }

  test("block dedup out-of-order arrival still elects the min-(doc_id, blk) keeper") {
    // doc 20's block arrives in trigger 1 and is emitted kept=1; doc 10
    // with an IDENTICAL block arrives in trigger 2 — under the batch rule
    // doc 10 owns the block. The processor must re-emit 20's flag with
    // kept=0 (merged by the sink-side min), or the streaming kept set
    // silently diverges from the qst16 oracle under out-of-order delivery.
    withRocksDB {
      implicit val ctx = spark.sqlContext
      val ms = MemoryStream[(Long, String)]
      val flags = graft.streaming.BlockDedup.flagBlocks(
        ms.toDF().toDF("doc_id", "text"))
      val q = flags.writeStream.outputMode("update")
        .format("memory").queryName("bd_ooo").start()
      try {
        val shared = (1 to 20).map(i => s"w$i").mkString(" ")
        ms.addData((20L, shared))
        q.processAllAvailable()
        ms.addData((10L, shared))
        q.processAllAvailable()
        val kept = spark.table("bd_ooo")
          .groupBy(col("docId"), col("blk")).agg(min(col("kept")).as("kept"))
          .filter(col("kept") === 1)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(kept === Set((10L, 0L)))
      } finally q.stop()
    }
  }

  test("block dedup: within-doc and cross-doc duplicate blocks resolve per keeper rule") {
    withRocksDB {
      implicit val ctx = spark.sqlContext
      val ms = MemoryStream[(Long, String)]
      val flags = graft.streaming.BlockDedup.flagBlocks(
        ms.toDF().toDF("doc_id", "text"))
      val q = flags.writeStream.outputMode("update")
        .format("memory").queryName("bd_mix").start()
      try {
        val a = (1 to 20).map(i => s"a$i").mkString(" ")
        val b = (1 to 20).map(i => s"b$i").mkString(" ")
        // doc 1 = A A (within-doc dup), doc 2 = B A (cross-doc dup of A)
        ms.addData((1L, s"$a $a"), (2L, s"$b $a"))
        q.processAllAvailable()
        val kept = spark.table("bd_mix")
          .groupBy(col("docId"), col("blk")).agg(min(col("kept")).as("kept"))
          .filter(col("kept") === 1)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        // A kept only at (1, 0); (1, 1) and (2, 1) lose; B kept at (2, 0)
        assert(kept === Set((1L, 0L), (2L, 0L)))
      } finally q.stop()
    }
  }
  test("streaming cohorts equal the batch qw08 grid (qst17)") {
    val streamed = StreamingQueries.queries.find(_.name == "qst17_stream_cohorts").get
      .run(spark, sf)
    val batch = Registry.byName("qw08_cohort_retention").run(spark, sf)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    assert(streamed.count() > 0)
  }

  test("late earlier event re-cohorts the user and shifts every week index") {
    // trigger 1: user 1 active on days 14 and 15 -> cohort day 14, weeks {0, 0}.
    // trigger 2: a LATE event on day 0 arrives -> cohort must become day 0
    // and days 14/15 must re-emit with week_idx 2; the sink-side
    // (min cohort, max week) reduction absorbs the corrections.
    withRocksDB {
      implicit val ctx = spark.sqlContext
      val ms = MemoryStream[(Long, Int)]
      val flags = graft.streaming.CohortRetention.flagCohorts(
        ms.toDF().toDF("user_id", "d")
          .select(col("user_id"),
            expr("date_add(cast('1970-01-01' as date), d)").as("day")))
      val q = flags.toDF().writeStream.outputMode("update")
        .format("memory").queryName("cr_ooo").start()
      try {
        ms.addData((1L, 14), (1L, 15))
        q.processAllAvailable()
        ms.addData((1L, 0))
        q.processAllAvailable()
        val got = spark.table("cr_ooo")
          .groupBy(col("userId"), col("day"))
          .agg(min(col("cohortDay")).as("c"), max(col("weekIdx")).as("w"))
          .collect().map(r => (r.getInt(1), r.getInt(2), r.getLong(3))).toSet
        assert(got === Set((14, 0, 2L), (15, 0, 2L), (0, 0, 0L)))
      } finally q.stop()
    }
  }

  test("near-dup ListState bucket membership survives a restart from checkpoint") {
    // the ListState/bucket-state half of the restart story (the counter
    // test covers ValueState): doc 10 lands in trigger 1 under query A;
    // after a stop/restart from the same checkpoint, docs 30 (added while
    // the query was down) and 20 share doc 10's simhash — both can only be
    // flagged dup=1 if the bucket's (doc_id, simhash) list came back from
    // the checkpoint. A lost bucket would re-admit doc 30 as dup=0.
    withRocksDB {
      implicit val ctx = spark.sqlContext
      val ckpt = graft.store.PartitionedStore.tempRoot("graft-ndd-ckpt-").toString
      val ms = MemoryStream[(Long, Long)]
      val flags = graft.streaming.NearDupDedup.flagNearDuplicates(
        ms.toDF().toDF("doc_id", "simhash"))
      val got = scala.collection.mutable.Map[Long, Long]()
      def start() = flags.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.filter(col("docId") =!= -1L)
            .groupBy(col("docId")).agg(max(col("dup")).as("dup"))
            .collect().map(r => (r.getLong(0), r.getLong(1)))
          got.synchronized { rows.foreach { case (id, d) =>
            got(id) = math.max(got.getOrElse(id, 0L), d) }; () }
        }.start()

      val q1 = start()
      try {
        ms.addData((10L, 0x0F0FL))
        q1.processAllAvailable()
        assert(got.synchronized(got.toMap) === Map(10L -> 0L))
      } finally q1.stop()

      got.synchronized(got.clear())
      ms.addData((30L, 0x0F0FL))
      val q2 = start()
      try {
        ms.addData((20L, 0x0F0FL))
        q2.processAllAvailable()
        assert(got.synchronized(got.toMap) === Map(30L -> 1L, 20L -> 1L))
      } finally q2.stop()
    }
  }

  test("transformWithState recovers from a mid-batch crash without double-counting") {
    // the non-graceful half of the recovery claim: the sink CRASHES while
    // processing batch 1 — after it has already emitted rows externally but
    // before the batch commits. Spark must (a) discard the uncommitted
    // RocksDB state version, (b) replay the failed batch from the same
    // checkpoint, and (c) produce the SAME counter values on the replay —
    // i.e. the first (crashed) attempt's transformWithState increments must
    // not survive, or key 1 would double-count to 4. Committed batch 0 must
    // not re-emit.
    withRocksDB {
      implicit val ctx = spark.sqlContext
      val ckpt = graft.store.PartitionedStore.tempRoot("graft-crash-ckpt-").toString
      val ms = MemoryStream[Long]
      val counters = graft.streaming.RunningCounters.countByKey(ms.toDS())
      val got = scala.collection.mutable.Set[(Long, Long, Long)]()
      val crash = new java.util.concurrent.atomic.AtomicBoolean(false)
      def start() = counters.toDF().writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          got.synchronized { got ++= rows; () }
          // emit FIRST, then die — models a crash after a partial external
          // write, the worst point in the batch lifecycle
          if (crash.get()) { crash.set(false); sys.error("injected crash") }
        }.start()

      val q1 = start()
      ms.addData(1L, 1L, 2L)
      q1.processAllAvailable()
      assert(got.synchronized(got.toSet) === Set((1L, 2L, 2L), (2L, 1L, 1L)))

      got.synchronized(got.clear())
      crash.set(true)
      ms.addData(1L, 3L)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
      assert(!q1.isActive, "query must die with the sink crash")
      // the crashed attempt DID run the stateful operator and emit
      // (key 1 at 3 = 2 recovered + 1) — that's the partial output whose
      // state effects must now be rolled back
      assert(got.synchronized(got.toSet) === Set((1L, 3L, 1L), (3L, 1L, 1L)))

      got.synchronized(got.clear())
      val q2 = start()
      try {
        q2.processAllAvailable()
        // batch 1 replays with identical values: key 1 is 3, NOT 4 — the
        // crashed attempt's increments were discarded with the uncommitted
        // state version; batch 0 (committed) is not re-emitted
        assert(got.synchronized(got.toSet) === Set((1L, 3L, 1L), (3L, 1L, 1L)))
        got.synchronized(got.clear())
        ms.addData(1L)
        q2.processAllAvailable()
        // and the stream continues from the recovered state: 3 + 1 = 4
        assert(got.synchronized(got.toSet) === Set((1L, 4L, 1L)))
      } finally q2.stop()
    }
  }

  test("transformWithState state survives a query restart from checkpoint") {
    // fault-tolerance evidence for the 100 TB claim: per-key RocksDB state
    // must come back from the checkpoint after a stop/restart, and offsets
    // committed before the stop must not be re-emitted. Memory sink refuses
    // recovery in update mode, so both runs collect through foreachBatch.
    withRocksDB {
      implicit val ctx = spark.sqlContext
      val ckpt = graft.store.PartitionedStore.tempRoot("graft-ckpt-").toString
      val ms = MemoryStream[Long]
      val counters = graft.streaming.RunningCounters.countByKey(ms.toDS())
      val got = scala.collection.mutable.Set[(Long, Long, Long)]()
      def start() = counters.toDF().writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          got.synchronized { got ++= rows; () }
        }.start()

      val q1 = start()
      try {
        ms.addData(1L, 1L, 2L)
        q1.processAllAvailable()
        assert(got.synchronized(got.toSet) === Set((1L, 2L, 2L), (2L, 1L, 1L)))
      } finally q1.stop()

      got.synchronized(got.clear())
      ms.addData(2L)      // arrives while the query is DOWN — must replay
      val q2 = start()
      try {
        ms.addData(1L, 3L)
        q2.processAllAvailable()
        // key 1 resumes at total 3 (2 recovered + 1) and key 2 at 2 — proof
        // the per-key state was restored from the checkpoint, not rebuilt —
        // and the committed first batch is NOT re-emitted
        assert(got.synchronized(got.toSet) ===
          Set((2L, 2L, 1L), (1L, 3L, 1L), (3L, 1L, 1L)))
      } finally q2.stop()
    }
  }

  test("qst19 TTL'd block dedup: dedup holds within the horizon, expired keeper re-keeps") {
    // the horizon-boundary semantics qst19's gate cannot exercise (its 1 h
    // TTL never binds inside a seconds-long replay): with an 8 s TTL, an
    // occurrence of a seen block hash arriving WITHIN the horizon is
    // demoted kept=0 as usual, but after the keeper state expires a new
    // occurrence is elected keeper AGAIN — the time-restricted keeper rule
    // (the re-keep trade qst18 pins for dropDuplicatesWithinWatermark).
    withRocksDB {
      implicit val ctx = spark.sqlContext
      val ms = MemoryStream[(Long, String)]
      val flags = graft.streaming.BlockDedup.flagBlocks(
        ms.toDF().toDF("doc_id", "text"),
        new org.apache.spark.sql.streaming.TTLConfig(
          java.time.Duration.ofSeconds(8)))
      val q = flags.toDF().writeStream.outputMode("update")
        .format("memory").queryName("bd_ttl").start()
      // sink-side min(kept) reduction — the qst16 contract
      def kept(): Map[Long, Long] = spark.table("bd_ttl")
        .groupBy(col("docId"), col("blk")).agg(min(col("kept")).as("k"))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      // TimeMode.ProcessingTime keeps scheduling no-data ticks (they drive
      // TTL expiry), so processAllAvailable never latches — poll the sink
      // until the expected keys landed instead (see qst19's bounded-
      // completion note in StreamingQueries.blockDedup)
      def awaitKeys(ids: Long*): Map[Long, Long] = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!ids.forall(kept().contains) && System.nanoTime() < deadline)
          Thread.sleep(100)
        kept()
      }
      try {
        ms.addData((10L, "a b c"), (20L, "a b c"))
        // same batch, same hash: 10 elected, 20 demoted
        assert(awaitKeys(10L, 20L) === Map(10L -> 1L, 20L -> 0L))
        ms.addData((30L, "a b c")) // arrives well inside the 8 s horizon
        assert(awaitKeys(30L) === Map(10L -> 1L, 20L -> 0L, 30L -> 0L))
        Thread.sleep(10000) // horizon passes with no arrival — keeper expires
        ms.addData((40L, "a b c"))
        // re-keep: with the keeper state expired, 40 is elected keeper of
        // the SAME hash — the bounded-state trade, now pinned
        assert(awaitKeys(40L) ===
          Map(10L -> 1L, 20L -> 0L, 30L -> 0L, 40L -> 1L))
      } finally q.stop()
    }
  }

  test("state store version abandoned mid-task is rolled back on replay") {
    // The round-7 crash spec kills the SINK — the state store version for
    // the batch always finishes its writes. This is the harder face
    // (VERDICT r07 Next #4): the failure happens INSIDE the stateful
    // operator, AFTER count.update() put the increment into the store's
    // pending version but BEFORE that version commits — the version write
    // itself is abandoned mid-task. Recovery must replay batch 1 against
    // the last COMMITTED version: key 99 resumes at 2 (1 committed + 1),
    // not 3 (which would mean the abandoned version's update leaked into
    // the replay), and committed batch 0 is not re-emitted.
    withRocksDB {
      implicit val ctx = spark.sqlContext
      val ckpt = graft.store.PartitionedStore.tempRoot("graft-statecrash-").toString
      val ms = MemoryStream[Long]
      val counters = CrashInject.countByKey(ms.toDS())
      val got = scala.collection.mutable.Set[(Long, Long)]()
      def start() = counters.toDF().writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
          got.synchronized { got ++= rows; () }
        }.start()

      val q1 = start()
      ms.addData(99L)
      q1.processAllAvailable()
      assert(got.synchronized(got.toSet) === Set((99L, 1L))) // batch 0 commits

      got.synchronized(got.clear())
      CrashInject.armed.set(true)
      ms.addData(99L)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
      assert(!q1.isActive, "query must die with the in-operator crash")
      // the crashed attempt updated state to 2 in the pending version and
      // then threw — the task never emitted, the version never committed
      assert(got.synchronized(got.toSet) === Set.empty[(Long, Long)])

      val q2 = start()
      try {
        q2.processAllAvailable()
        // replay of batch 1 reads the last committed version (1), not the
        // abandoned pending version (2): key 99 is 2, NOT 3; batch 0 is
        // not re-emitted
        assert(got.synchronized(got.toSet) === Set((99L, 2L)))
        got.synchronized(got.clear())
        ms.addData(99L)
        q2.processAllAvailable()
        assert(got.synchronized(got.toSet) === Set((99L, 3L)))
      } finally q2.stop()
    }
  }

  test("state data source: checkpoint state and metadata readable across batches") {
    // the qst20 surface off the gate path: two MemoryStream batches so the
    // re-read state reflects the LATEST committed batch (not batch 0), plus
    // the state-metadata listing that locates operators in a foreign
    // checkpoint (the discovery step an operator on a production checkpoint
    // needs before it can name an operatorId).
    implicit val ctx = spark.sqlContext
    val ckpt = graft.store.PartitionedStore.tempRoot("graft-ssread-ckpt-").toString
    val ms = MemoryStream[(String, Long)]
    val agg = ms.toDF().toDF("k", "v")
      .groupBy(col("k")).agg(count(lit(1)).as("cnt"), sum(col("v")).as("s"))
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("ssread").option("checkpointLocation", ckpt).start()
    try {
      ms.addData(("a", 1L), ("a", 2L), ("b", 10L))
      q.processAllAvailable()
      ms.addData(("b", 5L), ("c", 7L))
      q.processAllAvailable()
    } finally q.stop()

    val st = spark.read.format("statestore").load(ckpt)
      .select(col("key.k").as("k"), col("value.count").as("cnt"),
        col("value.sum").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(st === Set(("a", 2L, 3L), ("b", 2L, 15L), ("c", 1L, 7L)))

    val meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert(meta.length === 1)
    val m = meta(0)
    assert(m.getAs[Long]("operatorId") === 0L)
    assert(m.getAs[String]("operatorName") === "stateStoreSave")
    assert(m.getAs[Long]("maxBatchId") === 1L,
      "state read must reflect the latest committed batch")

    // the change-feed face: per-batch state deltas (CDC over the state
    // store itself) — key b's buffer must show BOTH versions, batch 0's
    // (1, 10) and batch 1's (2, 15), i.e. the audit trail of how state
    // evolved, not just its final value
    val cf = spark.read.format("statestore")
      .option("readChangeFeed", "true").option("changeStartBatchId", "0")
      .load(ckpt)
      .select(col("batch_id"), col("change_type"), col("key.k").as("k"),
        col("value.count").as("cnt"), col("value.sum").as("s"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(cf === Set(
      (0L, "update", "a", 2L, 3L), (0L, "update", "b", 1L, 10L),
      (1L, "update", "b", 2L, 15L), (1L, "update", "c", 1L, 7L)))
  }

  test("approx_count_distinct sketch merges through state across batches") {
    // the qst21 face that the bounded single-batch gate cannot show: HLL++
    // buffers stored in the state store must MERGE across batches, and the
    // sketch algebra is deterministic — so the streamed estimate over two
    // batches equals the batch estimate over the union EXACTLY (same
    // hashes, same merge), not within a tolerance
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val agg = ms.toDF().toDF("k", "v")
      .groupBy(col("k")).agg(approx_count_distinct(col("v")).as("est"))
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("hllmerge").start()
    val b1 = (1L to 400L).map(("a", _)) ++ (1L to 50L).map(("b", _))
    val b2 = (201L to 600L).map(("a", _)) ++ (26L to 75L).map(("b", _))
    try {
      ms.addData(b1: _*)
      q.processAllAvailable()
      ms.addData(b2: _*)
      q.processAllAvailable()
      val streamed = spark.table("hllmerge")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      import spark.implicits._
      val batch = (b1 ++ b2).toDF("k", "v")
        .groupBy(col("k")).agg(approx_count_distinct(col("v")).as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed === batch,
        "streamed sketch estimate must equal the batch estimate exactly")
      // and the estimates are sane vs the true distinct counts (600, 75)
      assert(math.abs(streamed("a") - 600L) <= 90)
      assert(math.abs(streamed("b") - 75L) <= 12)
    } finally q.stop()
  }

  test("GK quantile summary merges through state across batches within the rank bound") {
    // the qst27 face the bounded single-batch gate cannot show: the
    // percentile_approx (Greenwald–Khanna) buffer persisted in streaming-agg
    // state must MERGE with the next batch's partials. Unlike HLL (qst21),
    // merged-GK output is NOT bit-equal to the one-pass batch value — the
    // summary depends on the split — so the spec asserts the deterministic
    // rank GUARANTEE over the union, which any merge order must satisfy:
    // rank(v) within (p ± ε)·N, and v is an input sample.
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Double]
    val agg = ms.toDF().toDF("v")
      .agg(percentile_approx(col("v"), lit(0.5), lit(100)).as("p50"))
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("gkmerge").start()
    // adversarial split: batch 1 is the TOP half, batch 2 the bottom —
    // a summary that failed to merge would sit near either half's median
    val b1 = (1001 to 2000).map(_.toDouble)
    val b2 = (1 to 1000).map(_.toDouble)
    try {
      ms.addData(b1: _*)
      q.processAllAvailable()
      ms.addData(b2: _*)
      q.processAllAvailable()
      val v = spark.table("gkmerge").collect()(0).getDouble(0)
      val all = b1 ++ b2
      val n = all.size
      val lt = all.count(_ < v)
      val le = all.count(_ <= v)
      assert(all.contains(v), s"returned value $v is not an input sample")
      assert(lt <= math.ceil(0.51 * n) && le >= math.floor(0.49 * n),
        s"rank window violated: lt=$lt le=$le n=$n v=$v")
    } finally q.stop()
  }

  test("Bloom dedup: no false re-emission across batches; FP suppresses a covered key") {
    import graft.streaming.BloomDedup
    // hash-family pin: positions are md5("key:j") prefix-15-hex mod MBits —
    // the exact family the qst28 oracle recomputes in DuckDB
    def md5pos(key: Long, j: Int): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$key:$j".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      (java.lang.Long.parseLong(hex, 16) % BloomDedup.MBits).toInt
    }
    val probe = BloomDedup.bitPositions(7L)
    assert(probe.toSeq === (0 until BloomDedup.NumHashes).map(j => md5pos(7L, j)))

    // find a victim key whose every bit is covered by a seed set — its
    // first genuine arrival must be FP-suppressed (the documented recall
    // drop). Search is deterministic: first key > seeds covered by them.
    val seeds = (1L to 4000L).toSeq
    val covered: Set[Int] = seeds.flatMap(BloomDedup.bitPositions(_).toSeq).toSet
    val victim = Iterator.from(4001).map(_.toLong)
      .find(k => BloomDedup.bitPositions(k).forall(covered)).get

    implicit val ctx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[Long]
    val out = BloomDedup.sketch(
      ms.toDF().toDF("key").select((col("key") % 1).cast("int").as("shard"), col("key")))
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("bloomspec").start()
    try {
      ms.addData(seeds: _*)
      q.processAllAvailable()
      ms.addData(seeds.take(100) :+ victim: _*) // re-sends + the covered victim
      q.processAllAvailable()
      val emitted = spark.table("bloomspec").collect().map(_.getLong(1))
      // every seed emitted at most once (bits persist across batches —
      // a seen key can NEVER re-emit), and the victim was suppressed
      assert(emitted.length === emitted.distinct.length, "a key re-emitted")
      assert(!emitted.contains(victim), "covered victim must be FP-suppressed")
      // seeds that were genuinely first-seen in batch 1 did emit (no FP
      // suppression can hide ALL of them at this fill ratio)
      assert(emitted.length > 3000)
    } finally {
      q.stop()
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming ingest classification equals batch qd13 under multi-batch arrival") {
    import graft.ext.SpanDedup
    import spark.implicits._
    // planted corpus: seen docs (id % 5 != 0) + incoming (id % 5 == 0)
    // with an exact dup, a near dup (1 of 40 tokens changed), and a new
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, "seen filler " + (1 to 30).map(i => s"s$i").mkString(" ")),
      (5L, base), (10L, near),
      (15L, (1 to 40).map(i => s"zz$i").mkString(" "))).toDF("doc_id", "text")
    val batchResult = SpanDedup.classifyIncremental(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    // stream the INCOMING docs across two micro-batches (5 alone, then
    // 10 + 15): the complete-mode agg must converge to the same statuses
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val seen = docs.filter(col("doc_id") % 5 =!= 0)
    val q = StreamingQueries.ingestClassify(seen)(
        ms.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("ingestspec").start()
    try {
      ms.addData((5L, base))
      q.processAllAvailable()
      ms.addData((10L, near), (15L, (1 to 40).map(i => s"zz$i").mkString(" ")))
      q.processAllAvailable()
      val streamed = spark.table("ingestspec").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed === batchResult)
      assert(streamed === Map(5L -> "exact_dup", 10L -> "near_dup", 15L -> "new"))
    } finally q.stop()
  }

  test("SpaceSaving heavy hitters: eviction bookkeeping pinned across two batches") {
    // capacity 2, one shard: batch 1 fills the summary, batch 2 forces an
    // eviction THROUGH the state store — the newcomer inherits the evicted
    // min-est as its error bound (the SpaceSaving replacement rule)
    withRocksDB {
      implicit val ctx = spark.sqlContext
      val ms = MemoryStream[Long]
      val ckpt = graft.store.PartitionedStore.tempRoot("graft-hh-pin-").toString
      val q = graft.streaming.HeavyHitters
        .sketch(ms.toDF().toDF("key"), shards = 1, m = 2)
        .writeStream.outputMode("update").format("memory")
        .queryName("hh_pin").option("checkpointLocation", ckpt).start()
      try {
        ms.addData(1L, 1L, 2L)
        q.processAllAvailable()
        ms.addData(3L, 1L)
        q.processAllAvailable()
      } finally q.stop()
      try {
        val st = spark.read.format("statestore")
          .option("stateVarName", "summary")
          .option("flattenCollectionTypes", "true").load(ckpt)
          .selectExpr("list_element._1 AS key", "list_element._2 AS est",
            "list_element._3 AS err")
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        // batch 1: {1:(2,0), 2:(1,0)}; batch 2: 3 evicts 2 (min est 1) →
        // 3:(2,1); 1 increments → 1:(3,0)
        assert(st === Map(1L -> (3L, 0L), 3L -> (2L, 1L)))
      } finally {
        import java.nio.file._
        Files.walk(Paths.get(ckpt)).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      }
    }
  }

  test("SpaceSaving invariants hold on a skewed open-keyspace corpus across batches") {
    // 7 hot keys carry 2/3 of 4500 rows; the tail is per-row unique.
    // shards=2, m=8 → 16 counters vs ~1507 distinct keys. Checked:
    // (1) est ≥ true ≥ est−err for every summary entry;
    // (2) err ≤ n_shard/m;
    // (3) every key with true count > n_shard/m is tracked.
    withRocksDB {
      implicit val ctx = spark.sqlContext
      val ms = MemoryStream[Long]
      val ckpt = graft.store.PartitionedStore.tempRoot("graft-hh-inv-").toString
      val keys = (0 until 4500).map(i =>
        if (i % 3 != 0) (i % 7).toLong else 1000L + i)
      val q = graft.streaming.HeavyHitters
        .sketch(ms.toDF().toDF("key"), shards = 2, m = 8)
        .writeStream.outputMode("update").format("memory")
        .queryName("hh_inv").option("checkpointLocation", ckpt).start()
      try {
        keys.grouped(1500).foreach { chunk =>
          ms.addData(chunk: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      try {
        val entries = spark.read.format("statestore")
          .option("stateVarName", "summary")
          .option("flattenCollectionTypes", "true").load(ckpt)
          .selectExpr("list_element._1 AS key", "list_element._2 AS est",
            "list_element._3 AS err")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val trueCount = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val shardN = keys.groupBy(_ % 2).view.mapValues(_.size.toLong).toMap
        assert(entries.length <= 16)
        entries.foreach { case (k, est, err) =>
          val t = trueCount(k)
          assert(est >= t && est - err <= t, s"bound violated for key $k")
          assert(err <= shardN(k % 2) / 8, s"err cap violated for key $k")
        }
        val tracked = entries.map(_._1).toSet
        trueCount.foreach { case (k, t) =>
          if (t > shardN(k % 2) / 8)
            assert(tracked.contains(k), s"guaranteed key $k not tracked")
        }
        // the 7 hot keys (~428 each vs threshold ~281) must all be present
        assert((0L until 7L).forall(tracked.contains))
      } finally {
        import java.nio.file._
        Files.walk(Paths.get(ckpt)).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      }
    }
  }

  test("streaming fingerprint screen: split replay equals batch qt22 (qst33 face)") {
    import spark.implicits._
    // seen: docs 1 (carries the 8-token run), 2; incoming stream: 5
    // (shares the run → flagged) then 10 (clean) in separate batches —
    // the complete-mode rollup must converge to the batch answer
    val run = (1 to 8).map(i => s"fp$i").mkString(" ")
    val d1 = (1L, (1 to 15).map(i => s"a$i").mkString(" ") + " " + run)
    val d2 = (2L, (1 to 25).map(i => s"b$i").mkString(" "))
    val d5 = (5L, run + " " + (1 to 15).map(i => s"x$i").mkString(" "))
    val d10 = (10L, (1 to 25).map(i => s"y$i").mkString(" "))
    val all = Seq(d1, d2, d5, d10).toDF("doc_id", "text")
    val expected = graft.ext.TextAnalysis.fingerprintContamination(all)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap

    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = StreamingQueries.fingerprintScreen(
        all.filter(col("doc_id") % 5 =!= 0))(ms.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("fpscreen").start()
    try {
      ms.addData(d5)
      q.processAllAvailable()
      ms.addData(d10)
      q.processAllAvailable()
      val streamed = spark.table("fpscreen").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
      assert(streamed === expected)
      assert(streamed(5L)._3 && !streamed(10L)._3)
    } finally q.stop()
  }

  test("persisted-store screen: per-batch results equal batch qt22 and the store scan is partition-pruned (qst43 face)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    // larger seen corpus so the store populates many pmod-16 partitions;
    // incoming batches are SMALL, so their prefix sets genuinely prune
    val run = (1 to 8).map(i => s"fp$i").mkString(" ")
    val seenDocs = (1L to 40L).filter(_ % 5 != 0).map { i =>
      (i, (1 to 20).map(j => s"w${i}_$j").mkString(" ") +
        (if (i == 1L) " " + run else ""))
    }
    val d5 = (5L, run + " " + (1 to 15).map(i => s"x$i").mkString(" "))
    val d10 = (10L, (1 to 25).map(i => s"y$i").mkString(" "))
    val all = (seenDocs ++ Seq(d5, d10)).toDF("doc_id", "text")
    val expected = graft.ext.TextAnalysis.fingerprintContamination(all)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap

    val root = graft.store.PartitionedStore.tempRoot("graft-qst43-spec-")
    val idxDir = s"$root/fp"
    val store = writeIndex(all.filter(col("doc_id") % 5 =!= 0), idxDir)
    val storeParts = Option(new java.io.File(idxDir).listFiles()).toSeq
      .flatMap(_.toSeq).count(_.getName.startsWith("hp="))

    // AQE off for this probe only: the assertions below walk the plan tree
    // for the store's FileSourceScanExec, which AQE wraps in query stages
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val perBatch = Seq(Seq(d5), Seq(d10)).map { batch =>
        val b = batch.toDF("doc_id", "text")
        val res = StreamingQueries.screenAgainstStore(store)(b)
        val rows = res.collect()
        // pruning contract: the store scan carries a partition filter and
        // reads no more partitions than the probe's prefix set
        val probeHps = graft.ext.TextAnalysis.winnowedFingerprints(b)
          .select(pmod(col("h"), lit(16)).cast("int").as("hp"))
          .distinct().collect().map(_.getInt(0)).toSet
        val scan = res.queryExecution.executedPlan.collect {
          case f: FileSourceScanExec => f
        } match {
          case Seq(one) => one
          case other => fail(s"expected exactly one file scan (the store), got ${other.size}")
        }
        assert(scan.metadata("PartitionFilters").contains("hp"),
          "store scan has no partition filter")
        // r17: the probe's fingerprint VALUES are pushed as an h IN (...)
        // parquet filter — with h-sorted store files this prunes row
        // groups/pages, so per-batch IO tracks the probe, not the store
        assert(scan.metadata("PushedFilters").contains("In(h"),
          "h IN probe-values filter not pushed to the store scan")
        val read = scan.metrics("numPartitions").value
        assert(read <= probeHps.size,
          s"scan read $read partitions for a ${probeHps.size}-prefix probe")
        assert(probeHps.size < storeParts,
          "vacuous probe: prefix set covers the whole store")
        rows
      }
      val streamed = perBatch.flatten
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
      assert(streamed === expected.filter(_._1 % 5 == 0))
      assert(streamed(5L)._3 && !streamed(10L)._3)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("over-cap screen batch: partition pruning survives, h-IN pushdown is skipped, result unchanged (VERDICT r17 #1)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val run = (1 to 8).map(i => s"fp$i").mkString(" ")
    val seenDocs = (1L to 40L).filter(_ % 5 != 0).map { i =>
      (i, (1 to 20).map(j => s"w${i}_$j").mkString(" ") +
        (if (i == 1L) " " + run else ""))
    }
    val d5 = (5L, run + " " + (1 to 15).map(i => s"x$i").mkString(" "))
    val root = graft.store.PartitionedStore.tempRoot("graft-qst43-cap-spec-")
    val idxDir = s"$root/fp"
    val store = writeIndex(seenDocs.toDF("doc_id", "text"), idxDir)
    val b = Seq(d5).toDF("doc_id", "text")
    val distinctH = graft.ext.TextAnalysis.winnowedFingerprints(b)
      .select(col("h")).distinct().count()
    assert(distinctH > 2, "planted batch must exceed the test cap")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val withCap = StreamingQueries.screenAgainstStore(store)(b)
      val overCap = StreamingQueries.screenAgainstStore(store,
        pushdownCap = 2)(b)
      val rows = overCap.collect()
      val scan = overCap.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f
      } match {
        case Seq(one) => one
        case other => fail(s"expected exactly one file scan, got ${other.size}")
      }
      // degraded path contract: prefix pruning is independent of the
      // value pushdown — only the In(h...) filter drops above the cap
      assert(scan.metadata("PartitionFilters").contains("hp"),
        "over-cap screen lost the partition filter")
      assert(!scan.metadata("PushedFilters").contains("In(h"),
        "over-cap screen still pushed the h-IN filter")
      val probeHps = graft.ext.TextAnalysis.winnowedFingerprints(b)
        .select(pmod(col("h"), lit(16)).cast("int").as("hp"))
        .distinct().collect().map(_.getInt(0)).toSet
      assert(scan.metrics("numPartitions").value <= probeHps.size)
      // the pushdown only ever drops rows that could not join: the
      // over-cap result is the under-cap result exactly
      val key = (r: org.apache.spark.sql.Row) => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(4)))
      assert(rows.map(key).toMap === withCap.collect().map(key).toMap)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("streaming EWMA: any micro-batch split equals the batch FIR (qst31 face)") {
    import spark.implicits._
    // planted hourly series with a gap (hour 2 missing — the tap join
    // must renormalize, not misalign) and a tail row beyond the 24-tap
    // horizon (hour 30: no earlier hour within 24 taps except itself)
    val rows = Seq(
      ("view", 0L), ("view", 0L), ("view", 1L), ("view", 1L), ("view", 1L),
      ("view", 3L), ("view", 30L),
      ("click", 0L), ("click", 25L))
    val batchHourly = rows.toDF("event_type", "eh")
      .groupBy(col("event_type"), col("eh")).agg(count(lit(1)).as("n"))
    val expected = graft.operators.Windows.ewmaOverHourly(batchHourly)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5)))).toMap

    // stream the same rows across two micro-batches that SPLIT hour 1's
    // count (2 rows then 1): the complete-mode hourly aggregate must
    // converge to the same frame, so the on-read FIR must match exactly
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val q = ms.toDF().toDF("event_type", "eh")
      .groupBy(col("event_type"), col("eh")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("ewmaspec").start()
    try {
      ms.addData(rows.take(4): _*)
      q.processAllAvailable()
      ms.addData(rows.drop(4): _*)
      q.processAllAvailable()
      val streamed = graft.operators.Windows
        .ewmaOverHourly(spark.table("ewmaspec"))
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5)))).toMap
      assert(streamed === expected)
      // the beyond-horizon rows smooth to exactly their own count (only
      // their own k = 0 tap is inside the 24-tap window)
      assert(streamed(("view", 30L))._2 === streamed(("view", 30L))._1.toDouble)
      assert(streamed(("click", 25L))._2 === streamed(("click", 25L))._1.toDouble)
    } finally q.stop()
  }

  test("streaming BM25: split replay equals the batch scorer (qst34 face)") {
    import spark.implicits._
    // same planted corpus shape as the batch JVM-mirror spec: ≥ 9
    // qualifying terms so the full 3×3 query split forms
    val texts = Seq(
      1L -> "alpha alpha alpha bravo charlie delta echo foxtrot golf hotel india",
      2L -> "alpha bravo bravo bravo charlie charlie delta echo foxtrot golf",
      3L -> "india india hotel golf foxtrot echo delta charlie bravo alpha xx",
      4L -> "alpha bravo charlie")
    val all = texts.toDF("doc_id", "text")
    val expected = graft.ext.TextAnalysis.bm25Scores(all).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap

    // the scorer is a stateless projection, so ANY micro-batch split must
    // reproduce the batch scores row-for-row in append mode
    implicit val ctx = spark.sqlContext
    val index = graft.ext.TextAnalysis.bm25QueryTable(all)
    val ms = MemoryStream[(Long, String)]
    val q = graft.ext.TextAnalysis
      .bm25ScoreDocs(ms.toDF().toDF("doc_id", "text"), index)
      .writeStream.outputMode("append").format("memory")
      .queryName("bm25stream").start()
    try {
      ms.addData(texts.take(2): _*)
      q.processAllAvailable()
      ms.addData(texts.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("bm25stream").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
        .toMap
      assert(streamed === expected)
    } finally q.stop()
  }

  test("streaming media decode: split replay equals the batch codec (qst35 face)") {
    import spark.implicits._
    import graft.ext.Multimodal
    // ≥ 40 chars each so npix ≤ text length (the qm02 filter); ids chosen
    // to vary (w, h) = (4 + id%5, 3 + id%3) across docs
    val texts = Seq(
      1L -> ("alpha bravo charlie delta echo foxtrot golf " * 2),
      2L -> ("the quick brown fox jumps over the lazy dog again " * 2),
      7L -> ("zero one two three four five six seven eight nine ten " * 2))
    val all = texts.toDF("doc_id", "text")
    val expected = Multimodal.decodeFeatures(
        all.select(col("doc_id"), col("text")).as[Multimodal.MediaRow])
      .collect().map(f => f.doc_id -> f).toMap

    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = Multimodal.decodeFeatures(
        ms.toDF().toDF("doc_id", "text").as[Multimodal.MediaRow])
      .toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("mediadecode").start()
    try {
      ms.addData(texts.take(1): _*)
      q.processAllAvailable()
      ms.addData(texts.drop(1): _*)
      q.processAllAvailable()
      val streamed = spark.table("mediadecode").collect().map { r =>
        r.getLong(0) -> Multimodal.MediaFeatures(r.getLong(0), r.getInt(1),
          r.getInt(2), r.getInt(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      }.toMap
      assert(streamed === expected)
    } finally q.stop()
  }

  test("streaming quality monitor: planted violations counted across batches (qst38)") {
    import spark.implicits._
    // (value, event_type, user_id): one negative value, one out-of-domain
    // type, one null user — spread over two micro-batches
    val b1 = Seq((1.0, "view", java.lang.Long.valueOf(1L)),
      (-2.0, "click", java.lang.Long.valueOf(2L)))
    val b2 = Seq((3.0, "hack", java.lang.Long.valueOf(3L)),
      (4.0, "view", null.asInstanceOf[java.lang.Long]))
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Double, String, java.lang.Long)]
    val q = StreamingQueries.qualityCounters(
        ms.toDF().toDF("value", "event_type", "user_id"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("qmon").start()
    try {
      ms.addData(b1: _*)
      q.processAllAvailable()
      ms.addData(b2: _*)
      q.processAllAvailable()
      val rows = StreamingQueries.qualityUnpivot(spark.table("qmon"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getBoolean(2), r.getLong(3)))).toMap
      assert(rows("events_value_nonneg") === ((1L, false, 4L)))
      assert(rows("events_type_in_domain") === ((1L, false, 4L)))
      assert(rows("events_user_nonnull") === ((1L, false, 4L)))
    } finally q.stop()
  }

  test("qst41 streaming PIT: state carries features across micro-batches") {
    import java.sql.Timestamp
    import graft.streaming.StreamPit
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[StreamPit.Ev]
    def t(sec: Long) = new Timestamp(1700000000000L + sec * 1000)
    val q = StreamPit.enriched(ms.toDS()).toDF()
      .writeStream.outputMode("update")
      .format("memory").queryName("pit_carry_test").start()
    try {
      // batch 1: user 1 clicks (ts 1, v=2.0; ts 3, v=5.0), views at ts 2
      ms.addData(
        StreamPit.Ev(1L, t(1), "click", 100L, 2.0),
        StreamPit.Ev(1L, t(3), "click", 101L, 5.0),
        StreamPit.Ev(1L, t(2), "view", 10L, 0.0))
      q.processAllAvailable()
      // batch 2 (event-time-ordered delivery): view at ts 4 must see the
      // ts-3 click CARRIED IN STATE from batch 1; a purchase at ts 4
      // (feature-before-obs tie rule) and an equal-ts click max check
      ms.addData(
        StreamPit.Ev(1L, t(4), "purchase", 102L, 7.0),
        StreamPit.Ev(1L, t(4), "click", 103L, 1.0),
        StreamPit.Ev(1L, t(4), "view", 11L, 0.0),
        StreamPit.Ev(2L, t(5), "view", 12L, 0.0)) // fresh key: both null
      q.processAllAvailable()
      val got = spark.table("pit_carry_test")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double]))).toSet
      assert(got === Set(
        (1L, 10L, Some(2.0), None),  // ts-2 view: only the ts-1 click visible
        (1L, 11L, Some(1.0), Some(7.0)), // ts-4 click REPLACES ts-3 (later ts wins, not max across ts)
        (2L, 12L, None, None)))
    } finally q.stop()
  }

  test("qst42 TTL'd streaming PIT: stale click state expires (removed from the store) and re-keeps") {
    import java.sql.Timestamp
    import graft.streaming.StreamPit
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[StreamPit.Ev]
    def t(sec: Long) = new Timestamp(1700000000000L + sec * 1000)
    val tolUs = 10L * 1000000L // 10-second staleness bound
    val q = StreamPit.enrichedTtl(
        ms.toDS().withWatermark("ts", "1 second"), tolUs).toDF()
      .writeStream.outputMode("update")
      .format("memory").queryName("pit_ttl_test").start()
    try {
      // b1: u1 clicks then views fresh; u2 clicks and goes silent
      ms.addData(
        StreamPit.Ev(1L, t(0), "click", 100L, 3.0),
        StreamPit.Ev(1L, t(5), "view", 10L, 0.0),
        StreamPit.Ev(2L, t(0), "click", 101L, 9.9))
      q.processAllAvailable()
      // b2: u1's view is past the tolerance — stale output, and the
      // carried click's timeout (t=10s) is now armed behind wm=11s
      ms.addData(StreamPit.Ev(1L, t(12), "view", 11L, 0.0))
      q.processAllAvailable()
      // b3: unrelated key — u1 and u2's expired clicks must TIME OUT
      // (state rows physically removed), not linger as dead state
      ms.addData(StreamPit.Ev(3L, t(30), "view", 12L, 0.0))
      q.processAllAvailable()
      // b4: u2 clicks again after expiry — re-keep, then a fresh view
      ms.addData(
        StreamPit.Ev(2L, t(40), "click", 102L, 1.5),
        StreamPit.Ev(2L, t(41), "view", 13L, 0.0))
      q.processAllAvailable()
      val got = spark.table("pit_ttl_test")
        .collect().map(r => (r.getLong(1),
          Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4))).toSet
      assert(got === Set(
        (10L, Some(3.0), true),  // age 5s ≤ 10s: fresh
        (11L, None, false),      // age 12s > 10s: stale (value withheld)
        (12L, None, false),      // never clicked
        (13L, Some(1.5), true))) // re-keep after expiry
      // the TTL's point — expired clicks leave the store: u1+u2 removed,
      // only u2's re-keep (b4) remains; u3 (view-only) stored nothing
      val sops = q.recentProgress.flatMap(_.stateOperators)
      assert(sops.map(_.numRowsRemoved).sum === 2,
        s"expected 2 expired state rows, got ${sops.map(_.numRowsRemoved).sum}")
      assert(sops.last.numRowsTotal === 1,
        s"expected 1 surviving state row, got ${sops.last.numRowsTotal}")
    } finally q.stop()
  }
}

/** Test-only stateful processor for the state-commit-boundary crash spec:
  * identical to RunningCounters' per-key counter, except that when `armed`
  * it throws AFTER count.update() has placed the increment into the state
  * store's pending version — so the version write is abandoned mid-task.
  * Top-level (not spec-inner) so the processor closure stays serializable;
  * the armed flag is a plain static — local-mode tasks share the JVM, and
  * getAndSet(false) disarms before the post-restart replay runs. */
private[graft] object CrashInject {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)

  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

  private class PoisonCounter extends StatefulProcessor[Long, Long, (Long, Long)] {
    @transient private var count: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("count", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Long],
        timerValues: TimerValues): Iterator[(Long, Long)] = {
      val total = (if (count.exists()) count.get() else 0L) + rows.size.toLong
      count.update(total) // state lands in the PENDING store version first
      if (armed.getAndSet(false)) sys.error("injected state-task crash")
      Iterator.single((key, total))
    }
  }

  def countByKey(keys: Dataset[Long]): Dataset[(Long, Long)] = {
    implicit val outEnc = Encoders.product[(Long, Long)]
    keys.groupByKey(identity)(Encoders.scalaLong)
      .transformWithState(new PoisonCounter, TimeMode.None(), OutputMode.Update())
  }
}
