package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.Q
import graft.sources.Tables

/** Structured Streaming operators, run to completion over bounded input so
  * the driver's batch oracle can check them: `readStream` on the same
  * parquet → transform → memory sink → `processAllAvailable()` → final
  * table. This validates the *streaming* execution path (IncrementalExecution,
  * state store, update/complete modes) against the batch oracle — the
  * streaming/batch consistency invariant the reference never tested
  * (SURVEY.md §5).
  *
  * Unbounded-production notes (W3/W8): `withWatermark` bounds state; the
  * reference's Spark path runs update mode with NO watermark
  * [ysb/benchmark/spark/SparkYahooRunner.scala:72-84] — reproduced by
  * `YsbStreaming.query(watermark = None)`, default is a configurable
  * watermark. Complete mode here is only for deterministic bounded runs.
  */
object StreamingQueries {

  private val counter = new AtomicInteger(0)

  /** Streaming source for `$dir/$table.parquet` under BOTH layouts: the
    * driver's testdata keeps one parquet FILE per table (the file stream
    * source needs a directory, so stream the sf dir glob-filtered to that
    * file), while Spark-written corpora (soak tiers) are DIRECTORIES of
    * part files, streamed directly. The schema is the batch read's
    * ([[Tables.schemaOf]]), under the session's current parquet confs. */
  private[graft] def streamTable(spark: SparkSession, dir: String,
      table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    val schema = Tables.schemaOf(spark, path)
    if (new java.io.File(path).isDirectory)
      spark.readStream.schema(schema).parquet(path)
    else
      spark.readStream.schema(schema)
        .option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** Stream `table` from sfDir through `transform`, collect the final result
    * in a memory sink, return it as a batch DataFrame. */
  def runBounded(spark: SparkSession, dir: String, table: String,
      mode: String)(transform: DataFrame => DataFrame): DataFrame = {
    val raw = streamTable(spark, dir, table)
    val src = if (table == "events") Tables.normalizeEvents(raw) else raw
    toMemorySink(transform(src), table, mode)()
  }

  /** Runs `out` into a fresh memory sink named `graft_<tag>_<n>` (with
    * its checkpoint at `checkpoint` if given), waits with `await` — by
    * default until the bounded input is drained — and returns the sink's
    * rows as a batch frame. Whether or not `await` throws, the query is
    * stopped and the sink's temp view dropped: the returned frame holds
    * the rows, so nothing of the run stays live in the session or pins
    * the sink on the driver heap after the frame is gone. */
  private[graft] def toMemorySink[T](out: Dataset[T], tag: String, mode: String,
      checkpoint: Option[String] = None)(
      await: StreamingQuery => Unit = _.processAllAvailable()): DataFrame = {
    val name = s"graft_${tag}_${counter.incrementAndGet()}"
    val writer = out.writeStream.outputMode(mode).format("memory").queryName(name)
    val q = checkpoint.fold(writer)(writer.option("checkpointLocation", _)).start()
    try { await(q); out.sparkSession.table(name) }
    finally {
      q.stop()
      out.sparkSession.catalog.dropTempView(name): Unit
    }
  }

  /** Runs `body` with the session's state store set to RocksDB, restoring
    * the previous provider after. */
  private def withRocksDb[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Replays `df` as one micro-batch per value of `slice` (an int in
    * 0 until `n`): one distributed pass writes exactly one parquet file
    * per non-empty slice (partitionBy keeps a slice in one task, so one
    * file), places slice i's file in a fresh directory with strictly
    * increasing modification times, and returns a file stream over it at
    * `maxFilesPerTrigger=1` — slice i IS micro-batch i — with the number
    * of files placed. Test-data replay only; a production ingest replaces
    * it with real arrival. */
  private def replaySlices(spark: SparkSession, df: DataFrame, slice: Column,
      n: Int): (DataFrame, Int) = {
    import java.nio.file.{Files, Paths}
    val root = graft.store.PartitionedStore.tempRoot("graft-slices-")
    val staging = s"$root/staging"
    df.withColumn("__slice", slice)
      .repartition(n, col("__slice"))
      .write.partitionBy("__slice").parquet(staging)
    val streamDir = s"$root/stream"
    Files.createDirectories(Paths.get(streamDir))
    val placed = (0 until n).flatMap { i =>
      Option(new java.io.File(s"$staging/__slice=$i").listFiles()).toSeq
        .flatMap(_.filter(_.getName.endsWith(".parquet")).toSeq)
        .map { f =>
          val dst = new java.io.File(streamDir, f"slice_$i%05d.parquet")
          require(f.renameTo(dst), s"move failed: $f")
          require(dst.setLastModified((i + 1) * 60000L)) // replay order
          dst
        }
    }
    require(placed.nonEmpty, s"slicing produced no files under $staging")
    val schema = Tables.schemaOf(spark, placed.head.getPath)
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(streamDir)
    (stream, placed.size)
  }

  /** Stream `table` through `transform` in `numBatches` EVENT-TIME-ORDERED
    * micro-batches (VERDICT r14 #2: a single-batch replay makes a
    * cross-batch state-carry contract hold vacuously — this states it in
    * the gate). The corpus is sliced into even-WIDTH `ts` ranges — the
    * split predicate is on the ts VALUE, so equal-ts rows can never
    * straddle a batch boundary, which is exactly the StreamPit delivery
    * contract (equal-ts feature/observation pairs in the same
    * micro-batch) holding by construction — and replayed by
    * [[replaySlices]], so batches arrive in event-time order.
    * Requires ≥2 data-carrying micro-batches, so the state-carry path is
    * provably exercised. The even-width (not even-count) split is fine
    * for a gate — skew across batches changes nothing the contract cares
    * about. */
  private[graft] def runBoundedTsBatches(spark: SparkSession, dir: String,
      table: String, mode: String, numBatches: Int)(
      transform: DataFrame => DataFrame): DataFrame = {
    val raw = Tables.load(spark, dir, table)
    val src = if (table == "events") Tables.normalizeEvents(raw) else raw
    val bounds = src.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi")).collect()(0) // 2 scalars
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    // pure Long arithmetic: (ts-lo) ≤ range ≪ Long.Max/numBatches, so no
    // overflow; equal ts → identical slice; monotone in ts; max = n-1
    val slice = ((unix_micros(col("ts")) - lit(lo)) * numBatches
      / lit(hi - lo + 1)).cast("int")
    val (stream, files) = replaySlices(spark, src, slice, numBatches)
    require(files >= 2 && files <= numBatches,
      s"ts-split produced $files slices (need 2..$numBatches, one file each)")
    toMemorySink(transform(stream), table, mode) { q =>
      q.processAllAvailable()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches >= 2,
        s"replay ran $dataBatches data-carrying micro-batches; need ≥2 " +
          "for the cross-batch state-carry contract to be non-vacuous")
    }
  }

  // ---------------------------------------------------------------------
  // qst01: streaming tumbling-window aggregation (complete mode) — the W1/A1
  // stateful HashAggregate path; final state must equal the batch answer.
  // ---------------------------------------------------------------------
  private def qst01(s: SparkSession, d: String): DataFrame =
    runBounded(s, d, "events", "complete") { ev =>
      ev.groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), max(col("ts")).as("last_update"))
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n"), col("last_update"))
    }

  private val qst01Sql =
    """SELECT make_timestamp(epoch_us(ts) // 86400000000 * 86400000000) AS w_start,
      |  event_type, count(*) AS n, max(ts) AS last_update
      |FROM events GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // qst02: streaming YSB — stream-static join + windowed count over the
  // streaming source: qysb02's pipeline and oracle.
  // ---------------------------------------------------------------------
  private def qst02(s: SparkSession, d: String): DataFrame = {
    val table = Tables.events(s, d)
    runBounded(s, d, "events", "complete")(graft.ysb.Ysb.userCampaignWindows(_, table))
  }

  // ---------------------------------------------------------------------
  // qst03: streaming deduplication (dropDuplicates state op, append mode) —
  // the streaming face of exact dedup.
  // ---------------------------------------------------------------------
  private def qst03(s: SparkSession, d: String): DataFrame =
    runBounded(s, d, "events", "append") { ev =>
      ev.select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
    }

  private val qst03Sql =
    "SELECT DISTINCT user_id, event_type FROM events"

  // ---------------------------------------------------------------------
  // qst04: watermarked append-mode windowed agg — only windows the final
  // watermark (max event time − 1 h) has closed are emitted. The bounded
  // file arrives as ONE batch, so the final watermark — and therefore the
  // emitted window set — is deterministic, and the oracle reproduces the
  // close condition with the same ms arithmetic.
  // ---------------------------------------------------------------------
  private def qst04(s: SparkSession, d: String): DataFrame =
    runBounded(s, d, "events", "append") { ev =>
      ev.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_millis(col("window.start")).as("w_start_ms"),
          col("event_type"), col("n"))
    }

  private val qst04Sql =
    """WITH wm AS (
      |  SELECT epoch_ms(max(ts)) - 3600000 AS w FROM events)
      |SELECT epoch_ms(make_timestamp(epoch_us(ts) // 21600000000 * 21600000000)) AS w_start_ms,
      |  event_type, count(*) AS n
      |FROM events, wm
      |GROUP BY 1, 2, wm.w
      |HAVING w_start_ms + 21600000 <= wm.w""".stripMargin

  // ---------------------------------------------------------------------
  // qst05: the YSB pipeline fed by the custom DataSourceV2 replay source
  // (graft.sources.ReplaySourceProvider) across multiple micro-batches —
  // same deterministic rows as Gen.boundedEvents(100000), so it shares
  // qysb01's oracle SQL.
  // ---------------------------------------------------------------------
  private def qst05(s: SparkSession, d: String): DataFrame = {
    val stream = s.readStream
      .format("graft.sources.ReplaySourceProvider")
      .option("totalRows", "100000")
      .option("rowsPerBatch", "25000")
      .option("numPartitions", "8")
      .load()
    val out = graft.ysb.Ysb.query(stream, graft.ysb.Gen.campaigns(s), "10 seconds")
    toMemorySink(out, "replay", "complete")()
  }

  // ---------------------------------------------------------------------
  // qst06: streaming session windows (merging session state) — append mode
  // emits each session once its end (last event + gap) is at or below the
  // final watermark (max event time − 1 h). Eviction compares µs window end
  // against ms-truncated watermark × 1000 (WatermarkSupport semantics),
  // mirrored exactly in the oracle.
  // ---------------------------------------------------------------------
  private def qst06(s: SparkSession, d: String): DataFrame =
    runBounded(s, d, "events", "append") { ev =>
      ev.withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"), col("user_id"), col("n"))
    }

  private val qst06Sql =
    """WITH flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |              > INTERVAL 30 MINUTE OR
      |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      |islands AS (
      |  SELECT user_id, ts,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |                        ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM flagged),
      |wm AS (SELECT (epoch_ms(max(ts)) - 3600000) * 1000 AS w FROM events)
      |SELECT min(ts) AS s_start, max(ts) + INTERVAL 30 MINUTE AS s_end,
      |  user_id, count(*) AS n
      |FROM islands, wm
      |GROUP BY user_id, sess, wm.w
      |HAVING epoch_us(max(ts) + INTERVAL 30 MINUTE) <= wm.w""".stripMargin

  // ---------------------------------------------------------------------
  // qst07: stream-stream interval join — clicks joined to the same user's
  // purchases within [click, click + 1 day]. Two independent streaming
  // readers over the same bounded file; inner join emits matches as they
  // arrive (the watermark only bounds state eviction), so append-mode
  // memory sink holds every pair at end of stream. Oracle: the equivalent
  // batch self-join. At scale the 1-day bound caps per-key state; the join
  // shuffles both sides on user_id.
  // ---------------------------------------------------------------------
  private def qst07(s: SparkSession, d: String): DataFrame = {
    def stream(): DataFrame = Tables.normalizeEvents(
      streamTable(s, d, "events"))
    val clicks = stream().filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("l_user"),
        col("ts").as("l_ts"))
    val purchases = stream().filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("r_user"),
        col("ts").as("r_ts"))
    toMemorySink(StreamJoin.intervalJoin(clicks, purchases,
      "l_user", "l_ts", "r_user", "r_ts",
      lowerSec = 0L, upperSec = 86400L, watermark = "1 day")
      .select(col("click_id"), col("purchase_id"),
        (unix_micros(col("r_ts")) - unix_micros(col("l_ts"))).as("gap_us")),
      "sjoin", "append")()
  }

  private val qst07Sql =
    """SELECT l.event_id AS click_id, r.event_id AS purchase_id,
      |  epoch_us(r.ts) - epoch_us(l.ts) AS gap_us
      |FROM events l JOIN events r
      |  ON l.user_id = r.user_id
      | AND l.event_type = 'click' AND r.event_type = 'purchase'
      | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 DAY""".stripMargin

  // ---------------------------------------------------------------------
  // qst09: stream-stream LEFT OUTER interval join — same pair query as
  // qst07, but clicks with no purchase emit a null-padded row once the
  // watermark passes the point where a match could still arrive
  // (l_ts + upper bound). Nullable outputs are coalesced to -1 (NULL int
  // cells are driver-hash-fragile). Oracle: inner pairs UNION ALL the
  // unmatched clicks old enough for the final watermark (max ts − 1 day,
  // ms-truncated) to have expired their match window.
  // ---------------------------------------------------------------------
  private def qst09(s: SparkSession, d: String): DataFrame = {
    def stream(): DataFrame = Tables.normalizeEvents(
      streamTable(s, d, "events"))
    val clicks = stream().filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("l_user"),
        col("ts").as("l_ts"))
    val purchases = stream().filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("r_user"),
        col("ts").as("r_ts"))
    val joined = clicks.withWatermark("l_ts", "1 day")
      .join(
        purchases.withWatermark("r_ts", "1 day"),
        expr("""l_user = r_user AND
                r_ts >= l_ts AND r_ts <= l_ts + INTERVAL 1 DAY"""),
        "left_outer")
    toMemorySink(joined
      .select(col("click_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(unix_micros(col("r_ts")) - unix_micros(col("l_ts")), lit(-1L))
          .as("gap_us")), "sjoin_outer", "append")()
  }

  private val qst09Sql =
    """WITH wm AS (
      |  -- global watermark = min over the two inputs' watermarks, each
      |  -- defined on its FILTERED stream (max click ts vs max purchase ts,
      |  -- ms-truncated, minus the 1-day delay)
      |  SELECT (least(
      |    (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'click'),
      |    (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'purchase'))
      |    - 86400000) * 1000 AS w FROM events LIMIT 1),
      |pairs AS (
      |  SELECT l.event_id AS click_id, r.event_id AS purchase_id,
      |    epoch_us(r.ts) - epoch_us(l.ts) AS gap_us
      |  FROM events l JOIN events r
      |    ON l.user_id = r.user_id
      |   AND l.event_type = 'click' AND r.event_type = 'purchase'
      |   AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 DAY)
      |SELECT click_id, purchase_id, gap_us FROM pairs
      |UNION ALL
      |SELECT l.event_id AS click_id, -1 AS purchase_id, -1 AS gap_us
      |FROM events l, wm
      |WHERE l.event_type = 'click'
      |  AND l.event_id NOT IN (SELECT click_id FROM pairs)
      |  AND epoch_us(l.ts + INTERVAL 1 DAY) < wm.w""".stripMargin

  // ---------------------------------------------------------------------
  // qst08: keyed running counters via transformWithState (A7) on the
  // RocksDB state store — the checkpointable successor of the reference's
  // atomic counters. The update-mode sink receives one (key, total, delta)
  // row per key per micro-batch; the gated output takes max(total) per
  // key, which equals the batch count whatever the batch split was.
  // ---------------------------------------------------------------------
  private def qst08(s: SparkSession, d: String): DataFrame = {
    withRocksDb(s) {
      val keys = streamTable(s, d, "events")
        .select(col("user_id")).as(org.apache.spark.sql.Encoders.scalaLong)
      toMemorySink(RunningCounters.countByKey(keys).toDF(), "counters", "update")()
        .groupBy(col("key")).agg(max(col("total")).as("n"))
    }
  }

  private val qst08Sql =
    "SELECT user_id AS key, count(*) AS n FROM events GROUP BY user_id"

  // ---------------------------------------------------------------------
  // qst10: streaming near-dup dedup (see NearDupDedup) — documents stream
  // in, each is SimHash-banded and flagged per bucket against everything
  // previously seen there; the kept set is docs with no valid duplicate
  // flag in any bucket. Gated at the BOUNDED config: bucketCap =
  // Dedup.BucketCap, with qd07's capped semantics (a bucket whose
  // membership exceeds the cap produces no flags — the processor poisons
  // it and the reduction below discards its flags), mirrored in the
  // oracle's HAVING count(*) <= cap. The "earlier doc wins" rule is
  // doc_id order and bucket poisoning depends only on final membership
  // counts, so the final table is batch-split independent. The per-bucket
  // flag reduction happens batch-side on the sink table (qst08 pattern —
  // chaining a second stateful agg onto transformWithState in one
  // streaming query is restricted). The poisoned-bucket frame is bounded
  // by the chunk keyspace (≤ 4·2^12 rows) → its broadcast is the
  // legitimate inverse-rule side; the corpus-sized dup set stays
  // merge-pinned. The eviction channel's 30× reading is on file in
  // SOAK_FULL_r12–r14.jsonl (`soak_stream_neardup`).
  // ---------------------------------------------------------------------

  private def qst10(s: SparkSession, d: String): DataFrame = {
    withRocksDb(s) {
      val docs = streamTable(s, d, "documents")
      val sim = graft.ext.Dedup.withSimhash(docs)
      val t = toMemorySink(NearDupDedup.flagNearDuplicates(sim,
        bucketCap = graft.ext.Dedup.BucketCap), "neardup", "update")()
      // renamed join keys on the derived sides: all three frames descend
      // from the same memory-sink view, and same-attribute self-joins on a
      // View fail reference resolution
      val bad = t.filter(col("poisoned") === 1)
        .select(col("c").as("bc"), col("chunk").as("bchunk")).distinct()
      val dup = t.filter(col("dup") === 1)
        .join(broadcast(bad),
          col("c") === col("bc") && col("chunk") === col("bchunk"), "left_anti")
        .select(col("docId").as("dup_id")).distinct()
      t.filter(col("docId") =!= -1L)
        .select(col("docId"), col("simhash")).distinct()
        .join(dup.hint("merge"), col("docId") === col("dup_id"), "left_anti")
        .select(col("docId").as("doc_id"), col("simhash"))
    }
  }

  private val qst10Sql =
    s"""WITH ${graft.ext.Dedup.simhashSqlCte},
       |chunks AS (
       |  SELECT doc_id, simhash, c,
       |    (simhash // CAST(pow(2, 12 * c) AS BIGINT)) % 4096 AS chunk
       |  FROM simhashed, range(0, 4) t(c)),
       |kept_b AS (
       |  SELECT c, chunk FROM chunks GROUP BY c, chunk
       |  HAVING count(*) <= ${graft.ext.Dedup.BucketCap}),
       |dup AS (
       |  SELECT DISTINCT y.doc_id
       |  FROM chunks x JOIN chunks y
       |    ON x.c = y.c AND x.chunk = y.chunk AND x.doc_id < y.doc_id
       |   AND bit_count(xor(x.simhash, y.simhash)) <= ${NearDupDedup.HammingMax}
       |  JOIN kept_b k ON k.c = x.c AND k.chunk = x.chunk)
       |SELECT s.doc_id, CAST(s.simhash AS BIGINT) AS simhash
       |FROM simhashed s
       |WHERE s.doc_id NOT IN (SELECT doc_id FROM dup)""".stripMargin

  // ---------------------------------------------------------------------
  // qst11: streaming contamination gate — the ingest-time face of the
  // batch decontamination pass (qt10, whose oracle this query reuses
  // VERBATIM): documents stream in, their distinct 5-gram md5s explode
  // map-side, a stream-static broadcast join flags grams against the
  // eval set, and an update-mode per-doc aggregation emits overlap
  // counts. The eval set is derived batch-side from the same table and is
  // bounded BY CONSTRUCTION — the fixed doc-id range doc_id <
  // TextAnalysis.EvalDocCount (shared with qt10), whose size does not
  // grow with the corpus, so the static broadcast stays safe at 100 TB.
  // ---------------------------------------------------------------------
  private def qst11(s: SparkSession, d: String): DataFrame = {
    val evalN = graft.ext.TextAnalysis.EvalDocCount
    def gramsOf(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"), expr(
        "transform(split(trim(text), '\\\\s+'), t -> lower(t))").as("tk"))
      .filter(size(col("tk")) >= 5)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(tk) - 4), i -> md5(concat_ws(' ', slice(tk, i, 5)))))"))
        .as("g"))
    // static side, batch read; doc_id bound pushed to scan. Eagerly
    // checkpointed: the static side re-executes per micro-batch, and
    // while the eval benchmark is bounded by construction (doc_id <
    // EvalDocCount), rebuilding its gram explode + distinct every
    // trigger is pure waste (the qst34 census lesson). In memory —
    // bounded frame.
    val evalGrams = gramsOf(
      Tables.documents(s, d).filter(col("doc_id") < evalN))
      .select(col("g")).distinct().withColumn("hit", lit(1L))
      .localCheckpoint(true)
    val stream = streamTable(s, d, "documents")
      .filter(col("doc_id") >= evalN)
    toMemorySink(gramsOf(stream)
      .join(broadcast(evalGrams), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated")),
      "contam", "update")()
      .groupBy(col("doc_id"))
      .agg(max(col("n_grams")).as("n_grams"),
        max(col("n_contaminated")).as("n_contaminated"))
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
        (col("n_contaminated").cast("double") / col("n_grams")).as("contamination_frac"),
        when(col("n_contaminated") > 0, 1L).otherwise(0L).as("is_contaminated"))
  }

  /** Documents as a bounded file stream (schema from the batch read). */
  private def docStream(s: SparkSession, d: String): DataFrame =
    streamTable(s, d, "documents")

  /** Run a STATELESS per-row transform of the document stream to a memory
    * sink (append mode — no state, no watermark) and return the sink table:
    * the ingest-time face of a batch projection, sharing its oracle
    * verbatim. Stateless streams are the trivially-scalable case (map-only
    * over arriving files, no state store), which is exactly why the
    * batch/stream consistency is worth pinning with the same hash gate. */
  private def statelessStreamed(s: SparkSession, d: String, tag: String)(
      transform: DataFrame => DataFrame): DataFrame = {
    toMemorySink(transform(docStream(s, d)), tag, "append")()
  }

  // qst12: streaming PII redaction — qt11's projection applied at ingest
  // time (batch oracle reused verbatim). qst13: streaming stratified
  // sampling — qx03's deterministic md5-bucket predicate at ingest time
  // (the reproducibility property is what makes the sample IDENTICAL
  // whether it runs over the stream or the batch — gate-checked here).
  private def qst12(s: SparkSession, d: String): DataFrame =
    statelessStreamed(s, d, "pii")(graft.ext.TextAnalysis.piiRedact)

  private def qst13(s: SparkSession, d: String): DataFrame =
    statelessStreamed(s, d, "sample")(graft.operators.Scale.stratifiedSample)

  // qst14: streaming quality filter — qt12's hashed-linear classifier
  // scored at ingest time (the shape real pipelines gate incoming docs
  // with); a pure projection, so the stream face IS the batch face.
  private def qst14(s: SparkSession, d: String): DataFrame =
    statelessStreamed(s, d, "quality")(graft.ext.TextAnalysis.classifierScore)

  // ---------------------------------------------------------------------
  // qst15: streaming session SEQUENCES — qw07's behavioral-example
  // construction as an append-mode session aggregation: merging session
  // state accumulates (ts, event_id, event_type) structs; the sequence is
  // sorted AFTER the final merge (array_sort on the struct), so the hash
  // is independent of both micro-batch split and merge order — what makes
  // the streaming face oracle-gatable at all. Watermark eviction is
  // qst06's (µs window end vs ms-truncated watermark), mirrored in the
  // HAVING clause.
  // ---------------------------------------------------------------------
  private def qst15(s: SparkSession, d: String): DataFrame =
    runBounded(s, d, "events", "append") { ev =>
      ev.withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          md5(array_join(expr(
            "transform(array_sort(collect_list(struct(ts, event_id, event_type))), x -> x.event_type)"),
            " ")).as("seq_hash"))
        .select(col("session_window.start").as("s_start"), col("user_id"),
          col("n_events"), col("seq_hash"))
    }

  private val qst15Sql =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |              > INTERVAL 30 MINUTE OR
      |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      |islands AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |                        ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM flagged),
      |wm AS (SELECT (epoch_ms(max(ts)) - 3600000) * 1000 AS w FROM events)
      |SELECT min(ts) AS s_start, user_id, count(*) AS n_events,
      |  md5(string_agg(event_type, ' ' ORDER BY ts, event_id)) AS seq_hash
      |FROM islands, wm
      |GROUP BY user_id, sess, wm.w
      |HAVING epoch_us(max(ts) + INTERVAL 30 MINUTE) <= wm.w""".stripMargin

  // ---------------------------------------------------------------------
  // qst16: streaming block-level dedup — qd15's keeper election as an
  // ingest stream (see BlockDedup). Documents explode into token blocks;
  // keyed ValueState elects the min-(doc_id, blk) keeper per block hash
  // with retroactive demotion re-emission, so the kept set equals the
  // batch rule under ANY micro-batch split. The sink-side min(kept)
  // reduction and per-doc count happen batch-side (qst10 pattern). The
  // oracle is qd15's keeper CTE verbatim minus the text reassembly — the
  // streaming/batch consistency contract, stated by construction.
  // ---------------------------------------------------------------------
  private def qst16(s: SparkSession, d: String): DataFrame =
    blockDedup(s, d, org.apache.spark.sql.streaming.TTLConfig.NONE)

  private def blockDedup(s: SparkSession, d: String,
      ttl: org.apache.spark.sql.streaming.TTLConfig): DataFrame = {
    // TTL'd state forces TimeMode.ProcessingTime, where
    // TransformWithStateExec.shouldRunAnotherBatch is always true: the
    // query keeps scheduling no-data ticks (they drive TTL expiry), so
    // processAllAvailable — and even Trigger.AvailableNow — never see
    // a "drained" stream (verified empirically: both wedge). Bounded
    // completion instead: the file source puts the whole bounded
    // corpus in batch 0, so once the sink holds a flag for every
    // document the data is fully absorbed and we stop the query.
    def absorbAll(q: StreamingQuery): Unit = {
      val expectDocs = Tables.documents(s, d).count()
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      def absorbed() = s.table(q.name).select(col("docId")).distinct().count()
      while (absorbed() < expectDocs && System.nanoTime() < deadline) Thread.sleep(200)
      require(absorbed() >= expectDocs,
        s"qst19: sink did not absorb all $expectDocs docs within 180s")
    }
    withRocksDb(s) {
      val docs = streamTable(s, d, "documents")
      val await: StreamingQuery => Unit =
        if (ttl == org.apache.spark.sql.streaming.TTLConfig.NONE) _.processAllAvailable()
        else absorbAll
      toMemorySink(BlockDedup.flagBlocks(docs, ttl), "blockdedup", "update")(await)
        .groupBy(col("docId"), col("blk"))
        .agg(min(col("kept")).as("kept"))
        .filter(col("kept") === 1)
        .groupBy(col("docId"))
        .agg(count(lit(1)).as("kept_blocks"))
        .select(col("docId").as("doc_id"), col("kept_blocks"))
    }
  }

  // ---------------------------------------------------------------------
  // qst19: TTL'd streaming block dedup — qst16's production-horizon
  // configuration (VERDICT r07 Next #1), the transformWithState analogue
  // of qst18's treatment of qst03. The keeper ValueState carries a
  // processing-time TTL: a block hash whose keeper has not re-arrived
  // within the horizon expires, bounding state to the distinct-block
  // arrival rate × horizon instead of the corpus's distinct-block count
  // (the one state curve still monotone in STATE_CURVES_r07). The trade
  // is re-keeping — an occurrence arriving after its hash expired is
  // elected keeper again (time-restricted keeper rule). The gated run
  // replays the bounded corpus in seconds against a 1-hour horizon, so no
  // key expires mid-run and the output equals qst16's corpus-wide keeper
  // rule — oracle verbatim (exactly how qst18 gates WithinWatermark with
  // a batch-DISTINCT oracle). The expiry/re-keep semantics at the horizon
  // boundary are pinned by a dedicated small-TTL StreamingSpec case, and
  // the bounded-state claim is the measured plateau of the
  // qst19_blockdedup_ttl curve in STATE_CURVES_r08.jsonl.
  // ---------------------------------------------------------------------
  private def qst19(s: SparkSession, d: String): DataFrame =
    blockDedup(s, d,
      new org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofHours(1)))

  private val qst16Sql =
    s"""WITH ${graft.ext.SpanDedup.blockKeeperSqlCte}
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_blocks
       |FROM kept GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // qst23: state-store reader over CUSTOM transformWithState state
  // (VERDICT r08 Next #5) — qst20 reads a built-in streaming AGG's state;
  // this reads a custom processor's named state variable, which is what a
  // production audit of one of the five transformWithState operators
  // actually needs. The run: qst16's block-dedup stream with a checkpoint;
  // after it drains, the keeper ValueState holds, per block hash, the
  // corpus-wide min (doc_id, blk) — BY CONSTRUCTION the final keeper set,
  // independent of the demote/re-emit traffic that flowed through the
  // sink. The gate rebuilds qst16's per-doc kept-block counts FROM THE
  // CHECKPOINT ALONE (`stateVarName` = "keeper"; key.value = the
  // groupByKey string, value._1/._2 = the tuple ValueState) and must
  // match qst16's oracle verbatim — "the checkpoint holds the state you
  // think it holds", now for user-defined state. The reader remains a
  // partition-parallel DSv2 scan; no driver-side state download.
  // ---------------------------------------------------------------------
  private def qst23(s: SparkSession, d: String): DataFrame = {
    withRocksDb(s) {
      val ckptPath = graft.store.PartitionedStore.tempRoot("graft-qst23-ckpt-")
      val ckpt = ckptPath.toString
      val docs = streamTable(s, d, "documents")
      toMemorySink(BlockDedup.flagBlocks(docs), "statereader", "update",
        Some(ckpt))(): Unit
      // per-doc keeper counts from the CHECKPOINT, not the sink.
      // NOTE: this DataFrame is lazy and executes after withRocksDb
      // restores the provider conf — that is safe because the statestore
      // reader resolves the provider from the checkpoint's OperatorStateMetadata,
      // not from the session conf at execution time (the conf only needs to
      // be held while the WRITING query runs).
      s.read.format("statestore").option("stateVarName", "keeper").load(ckpt)
        .select(col("value._1").as("doc_id"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("kept_blocks"))
    }
  }

  // ---------------------------------------------------------------------
  // qst17: streaming cohort retention — qw08's grid as an ingest stream
  // (see CohortRetention). A user's cohort day is a running MIN, so a
  // late-arriving earlier event re-cohorts the user; the processor
  // re-emits every seen day with corrected (cohort, week_idx), and both
  // corrections are monotone (cohort only ↓, week_idx only ↑), so the
  // sink-side (min, max) reduction per (user, day) is exact under any
  // arrival order. Oracle: qw08's batch SQL verbatim — the streaming/
  // batch consistency contract, stated by construction.
  // ---------------------------------------------------------------------
  private def qst17(s: SparkSession, d: String): DataFrame = {
    withRocksDb(s) {
      val flags = runBounded(s, d, "events", "update") { ev =>
        CohortRetention.flagCohorts(
          ev.select(col("user_id"), to_date(col("ts")).as("day"))).toDF()
      }
      flags
        .groupBy(col("userId"), col("day"))
        .agg(min(col("cohortDay")).as("cohortDay"), max(col("weekIdx")).as("week_idx"))
        .groupBy(
          date_format(
            date_add(lit("1970-01-01").cast("date"), col("cohortDay")),
            "yyyy-MM-dd").as("cohort"),
          col("week_idx"))
        .agg(countDistinct(col("userId")).as("n_active"))
    }
  }

  // ---------------------------------------------------------------------
  // qst18: watermark-TTL'd streaming dedup — dropDuplicatesWithinWatermark,
  // the BOUNDED-STATE face of qst03. qst03's dropDuplicates holds every key
  // it has ever seen (state grows with the corpus forever — untenable for
  // 100 TB ingest); WithinWatermark expires a key's state once the
  // watermark passes its event time + delay, so state is bounded by the
  // key arrival rate × the horizon. The trade is re-emission: a duplicate
  // arriving after its key's state expired is emitted again. The gated
  // bounded file arrives as ONE batch (no intra-batch expiry), so the
  // output here is exactly the distinct key set and the oracle is qst03's
  // batch DISTINCT; the expiry/re-emission semantics are pinned by a
  // dedicated two-batch MemoryStream test in StreamingSpec. Keys only in the output
  // (the first-arrival row's other columns are arrival-order dependent).
  // ---------------------------------------------------------------------
  private def qst18(s: SparkSession, d: String): DataFrame =
    runBounded(s, d, "events", "append") { ev =>
      ev.select(col("ts"), col("user_id"), col("event_type"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
    }

  // ---------------------------------------------------------------------
  // qst20: state store reader — a checkpointed streaming aggregation's
  // STATE read back as a batch DataFrame (`spark.read.format("statestore")`,
  // Spark 4's state data source). This is the ops face of stateful
  // streaming at scale: inspecting a production checkpoint's resident
  // state (what keys, which partition, how big) WITHOUT replaying the
  // stream — state audits after a migration, hot-partition diagnosis
  // (`partition_id` exposes skew directly), offline reconciliation of a
  // running job's counters. The reader is a DSv2 source that scans one
  // state partition per task, so it parallelizes like any other scan —
  // no driver-side state download. The gate: run the bounded per-type
  // count+sum aggregation with a checkpoint, then produce the result
  // ONLY from the re-read state; it must equal the batch aggregate —
  // which is exactly what "the checkpoint holds the state you think it
  // holds" means.
  // ---------------------------------------------------------------------
  /** Recursive delete at JVM exit: the statestore DataFrame reads the
    * checkpoint LAZILY, so the dir must outlive the query's
    * materialization — but repeated gate runs must not accumulate
    * state-store files under /tmp. */
  private def qst20(s: SparkSession, d: String): DataFrame = {
    val ckptPath = graft.store.PartitionedStore.tempRoot("graft-qst20-ckpt-")
    val ckpt = ckptPath.toString
    val ev = Tables.normalizeEvents(streamTable(s, d, "events"))
    toMemorySink(ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("user_id")).as("uid_sum")),
      "events", "complete", Some(ckpt))(): Unit
    // the result comes from the CHECKPOINT, not the sink: streaming-agg
    // state stores the grouping key in `key` and the evaluation buffer in
    // `value` (field names from the agg functions: count, sum)
    s.read.format("statestore").load(ckpt)
      .select(
        col("key.event_type").as("event_type"),
        col("value.count").as("cnt"),
        col("value.sum").as("uid_sum"))
  }

  private val qst20Sql =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(sum(user_id) AS BIGINT) AS uid_sum
      |FROM events GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // qst21: streaming approximate distinct — approx_count_distinct (HLL++)
  // as a STREAMING aggregation. Exact countDistinct is unsupported in
  // streaming (it would need unbounded per-group value state — precisely
  // what a 100 TB stream cannot hold); the sketch is the production form:
  // a fixed-size buffer per group, merged through the state store across
  // batches. The gate runs the sketch on the streaming path and
  // property-checks it against the BATCH exact count (q18's ≥3σ bound,
  // deterministic for fixed data + Spark version); the cross-batch
  // sketch-merge-through-state face is pinned by a two-batch
  // MemoryStream spec asserting the streamed estimate equals the batch
  // estimate over the union — same sketch algebra, same hash, so exact
  // equality, not a tolerance.
  // ---------------------------------------------------------------------
  // ---------------------------------------------------------------------
  // qst22: streaming ANN — the RAG-ingest shape: query vectors ARRIVE AS A
  // STREAM and score against a STATIC LSH-indexed corpus (qs02's bucket
  // algebra, roles flipped: there the small query set broadcast against
  // the big corpus; here the corpus is the prepared static side of a
  // stream-static equi-join on bucket id, so per-arrival work is one hash
  // + one bucket's candidates, never a corpus scan). The streaming query
  // emits SCORED CANDIDATES in append mode — per-query top-k ranking is
  // not streamable (a window over all of a query's candidates needs the
  // candidate set complete), so ranking runs as a batch window over the
  // sink, exactly where a production pipeline would put it (rank-on-read
  // or a downstream batch stage). Oracle: qs02's verbatim — the streamed
  // path must reproduce the batch LSH answer exactly.
  // ---------------------------------------------------------------------
  private def qst22(s: SparkSession, d: String): DataFrame = {
    import graft.ext.Similarity
    val corpus = Tables.embeddings(s, d).filter(col("vec_id") >= 10)
      .withColumn("bucket", Similarity.bucketExpr(Similarity.NumPlanes))
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("bucket"))
    val scored = runBounded(s, d, "embeddings", "append") { emb =>
      emb.filter(col("vec_id") < 10)
        .withColumn("bucket", Similarity.bucketExpr(Similarity.NumPlanes))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("bucket"))
        .join(corpus, Seq("bucket"))
        .select(col("q_id"), col("bucket"), col("n_id"),
          graft.functions.Vectors.fastCosine(col("q_emb"), col("n_emb"))
            .as("cos_sim"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
  }

  // ---------------------------------------------------------------------
  // qst40: streaming FILTERED ANN — qs11's composite (label, bucket)
  // index probe with the queries arriving as a stream (the tenancy/
  // language-constrained RAG-ingest shape): the static corpus is indexed
  // once by (label, bucket); each arriving query joins ONLY its own cell
  // via the stream-static composite equi-join, append-mode candidates,
  // rank-on-read (qst22's pattern plus the metadata key). Oracle: qs11's
  // SQL verbatim — streaming/batch consistency by construction.
  // ---------------------------------------------------------------------
  private def qst40(s: SparkSession, d: String): DataFrame = {
    import graft.ext.Similarity
    val corpus = Tables.embeddings(s, d).filter(col("vec_id") >= 10)
      .withColumn("bucket", Similarity.bucketExpr(Similarity.NumPlanes))
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("label"), col("bucket"))
    val scored = runBounded(s, d, "embeddings", "append") { emb =>
      emb.filter(col("vec_id") < 10)
        .withColumn("bucket", Similarity.bucketExpr(Similarity.NumPlanes))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label"), col("bucket"))
        .join(corpus, Seq("label", "bucket"))
        .select(col("q_id"), col("label"), col("n_id"),
          graft.functions.Vectors.fastCosine(col("q_emb"), col("n_emb"))
            .as("cos_sim"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
  }

  // ---------------------------------------------------------------------
  // qst24: streaming top-k — sort+limit over a streaming aggregation
  // (complete mode, the only mode that permits it: the rank is a property
  // of the WHOLE result, so every trigger re-emits the current top-k from
  // aggregation state). The per-trigger sort is over the AGGREGATED
  // key-space (|users|), never the raw stream, and plans as TakeOrdered —
  // the leaderboard/heavy-hitters shape. Deterministic (n DESC, user_id
  // ASC) total order; oracle is the batch top-k verbatim.
  // ---------------------------------------------------------------------
  private def qst24(s: SparkSession, d: String): DataFrame =
    runBounded(s, d, "events", "complete") { ev =>
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), max(col("ts")).as("last_seen"))
        .orderBy(col("n").desc, col("user_id").asc)
        .limit(10)
    }

  private val qst24Sql =
    """SELECT user_id, count(*) AS n, max(ts) AS last_seen
      |FROM events GROUP BY user_id
      |ORDER BY n DESC, user_id ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // qst25: streaming SCD2 enrichment — qa03's point-in-time dimension
  // lookup on the ingest path: facts ARRIVE AS A STREAM and join the
  // broadcast versioned dimension (equi-key + half-open validity-interval
  // filter riding the stream-static join), then the per-version rollup
  // runs as a streaming aggregation in complete mode. This is the
  // warehouse-load shape at ingest time: enrich each arriving fact with
  // the dimension version valid AT ITS OWN event time — not the current
  // version — so late-arriving facts classify correctly by construction.
  // Oracle: qa03's SQL verbatim (streaming/batch consistency contract).
  // ---------------------------------------------------------------------
  private def qst25(s: SparkSession, d: String): DataFrame = {
    // versions = supplier×3 is SF-proportional → unhinted like batch qa03;
    // AQE broadcasts it at small SF, shuffles at 100 TB
    val versions = graft.operators.AsOf.scd2Versions(s, d)
    runBounded(s, d, "lineitem", "complete") { li =>
      graft.operators.AsOf.scd2Rollup(li, versions)
    }
  }

  // ---------------------------------------------------------------------
  // qst41: streaming point-in-time feature assembly — pitMulti's
  // streaming face (see [[StreamPit]] for semantics, delivery contract,
  // and the TTL note). One stateful operator carries the latest
  // (click, purchase) per user; each arriving view emits its enriched
  // row once. The corpus replays through ≥3 event-time-ordered
  // micro-batches ([[runBoundedTsBatches]]), so the CROSS-BATCH state
  // carry — the thing that makes this streaming — is what the gate
  // exercises (VERDICT r14 #2; previously single-batch, where the
  // delivery contract held vacuously). Oracle: qa04's DuckDB double-ASOF
  // verbatim — the streaming/batch consistency contract for the feature
  // store's ingest path, the same pairing qst25 gives the SCD2 lookup.
  // ---------------------------------------------------------------------
  private def qst41(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    runBoundedTsBatches(s, d, "events", "update", numBatches = 4) { ev =>
      StreamPit.enriched(
        ev.filter(col("event_type").isin("view", "click", "purchase"))
          .select(col("user_id"), col("ts"), col("event_type"),
            col("event_id"), col("value"))
          .as[StreamPit.Ev])
        .toDF()
        .select(col("user_id"), col("event_id"), col("ts"),
          col("click_value"), col("purchase_value"))
    }
  }

  // ---------------------------------------------------------------------
  // qst42: qst41 with qa05's staleness bound as EVENT-TIME STATE TTL
  // (VERDICT r14 #5) — the production configuration of the streaming
  // feature store: a carried click expires once the watermark passes
  // click_ts + tolerance, so state is bounded by arrival rate × tolerance
  // instead of the distinct-user universe (see [[StreamPit.enrichedTtl]]
  // for the proof that expiry is semantics-preserving, not approximate).
  // Oracle: qa05's staleness CASE verbatim, minus its age_us column —
  // the exact age of a STALE match is the one number a TTL'd system has
  // deliberately forgotten (that state is what the TTL drops); the
  // model-visible surface (freshness flag, freshness-gated value) is
  // hash-exact. Multi-batch ordered replay, same as qst41, so expiry
  // genuinely fires across batch boundaries (2-day tolerance, ~30-day
  // corpus, 4 slices ≈ 7.5 days each).
  // ---------------------------------------------------------------------
  private def qst42(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    runBoundedTsBatches(s, d, "events", "update", numBatches = 4) { ev =>
      StreamPit.enrichedTtl(
        ev.withWatermark("ts", "1 hour")
          .filter(col("event_type").isin("view", "click"))
          .select(col("user_id"), col("ts"), col("event_type"),
            col("event_id"), col("value"))
          .as[StreamPit.Ev],
        graft.operators.AsOf.StaleTolUs)
        .toDF()
        .select(col("user_id"), col("event_id"), col("ts"),
          col("click_value"), col("fresh"))
    }
  }

  private val qst42Sql =
    s"""WITH views AS (
       |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'),
       |clicks AS (
       |  SELECT user_id, ts AS click_ts, max(value) AS click_value
       |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
       |SELECT v.user_id AS user_id, v.event_id AS event_id, v.ts AS ts,
       |  CASE WHEN epoch_us(v.ts) - epoch_us(c.click_ts)
       |            <= ${graft.operators.AsOf.StaleTolUs}
       |       THEN c.click_value END AS click_value,
       |  coalesce(epoch_us(v.ts) - epoch_us(c.click_ts)
       |             <= ${graft.operators.AsOf.StaleTolUs}, false) AS fresh
       |FROM views v ASOF LEFT JOIN clicks c
       |  ON v.user_id = c.user_id AND v.ts >= c.click_ts""".stripMargin

  private def qst21(s: SparkSession, d: String): DataFrame = {
    val streamed = runBounded(s, d, "events", "complete") { ev =>
      ev.groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"))
    }
    val exact = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n"))
    streamed.join(exact, "event_type")
      .select(col("event_type"), col("exact_users"), col("n"),
        (abs(col("approx_users") - col("exact_users"))
          <= col("exact_users") * lit(0.15)).as("approx_within_bound"))
  }

  // ---------------------------------------------------------------------
  // qst26: streaming approximate heavy hitters with BOUNDED state
  // (VERDICT r09 Next #1) — qst24's leaderboard re-expressed as a
  // SpaceSaving sketch in transformWithState: state is exactly
  // shards × capacity counters, INDEPENDENT of the distinct-key count
  // (qst24 holds one agg row per key). The gate key is a skewed derived
  // key both engines can compute: half the events concentrate on 10 hot
  // keys (~5% of the corpus each), the other half spread over per-event
  // unique keys — so the true top-10 is the hot set and the tail universe
  // grows with the corpus while the sketch does not (state-curve row in
  // BASELINE.md shows the plateau vs the one-row-per-key line).
  //
  // The gate is q18/qst21's property pattern, per exact-top-10 key:
  //   tracked  — the key is in the final summary. GUARANTEED: a key with
  //              count > n_shard/capacity is always tracked (SpaceSaving
  //              invariant 3). The per-shard mass is NOT uniform for this
  //              key derivation: tail events (event_id % 4 ∈ {2,3}) key by
  //              event_id, so shard = key % shards routes ALL tail mass to
  //              shards 2–3 (n_shard ≈ N/2 + hot share there), while
  //              shards 0–1 carry only their hot keys. Worst case is a hot
  //              key on shards 2–3: threshold ≈ n_shard/16 ≈ 2.2% of N
  //              against the key's ~5% of N — a ~2.3× margin (not the
  //              uniform-shard 3×). Still a theorem, just a thinner one;
  //              a production variant hashing the tail key would restore
  //              uniform shard mass and tail-side parallelism.
  //   bound_ok — est ≥ n_exact ≥ est − err (invariant 1).
  // Both are arrival-order-independent theorems, so the gate is
  // deterministic under any micro-batch split; the oracle states them as
  // literals next to the exact counts it computes itself. The final
  // summary is read from the checkpoint's ListState (qst23's reader path)
  // — the sketch IS the state, no sink-side reduction needed.
  // ---------------------------------------------------------------------
  private[graft] val HhShards = 4
  private[graft] val HhCapacity = 16

  /** 10 hot keys get ~half the mass (one residue mod 20 each — see oracle);
    * every other event keys by its own unique event_id. */
  private[graft] def hhKey = when(col("event_id") % 4 < 2, col("event_id") % 10)
    .otherwise(col("event_id"))

  private def qst26(s: SparkSession, d: String): DataFrame = {
    withRocksDb(s) {
      val ckptPath = graft.store.PartitionedStore.tempRoot("graft-qst26-ckpt-")
      val ckpt = ckptPath.toString
      val ev = streamTable(s, d, "events")
      toMemorySink(graft.streaming.HeavyHitters
        .sketch(ev.select(hhKey.as("key")), HhShards, HhCapacity),
        "hh", "update", Some(ckpt))(): Unit
      // Materialize the statestore scan HERE, while the RocksDB provider
      // conf is still held — the returned DataFrame is lazy and would
      // otherwise execute after withRocksDb restores the conf.
      // (The reader resolves the provider from checkpoint metadata, but
      // relying on that would make the scoped conf misleading.) The
      // summary is ≤ shards×capacity rows by construction, so localizing
      // it is constant-size, not a data-path collect.
      val candRows = s.read.format("statestore")
        .option("stateVarName", "summary")
        .option("flattenCollectionTypes", "true")
        .load(ckpt)
        .select(col("list_element._1").as("key"),
          col("list_element._2").as("est"), col("list_element._3").as("err"))
        .collect().toSeq
      val cands = s.createDataFrame(
        s.sparkContext.parallelize(candRows, 1),
        StructType(Seq(
          StructField("key", LongType), StructField("est", LongType),
          StructField("err", LongType))))
      val exact = Tables.events(s, d)
        .select(hhKey.as("key"))
        .groupBy(col("key")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("key").asc).limit(10)
      exact.join(cands, Seq("key"), "left")
        .select(col("key"), col("n"),
          col("est").isNotNull.as("tracked"),
          (col("est").isNotNull && col("est") >= col("n") &&
            col("est") - col("err") <= col("n")).as("bound_ok"))
    }
  }

  private val qst26Sql =
    """SELECT key, CAST(count(*) AS BIGINT) AS n,
      |  true AS tracked, true AS bound_ok
      |FROM (SELECT CASE WHEN event_id % 4 < 2 THEN event_id % 10
      |             ELSE event_id END AS key FROM events)
      |GROUP BY key ORDER BY n DESC, key ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // qst27: streaming approximate QUANTILES — the third member of the
  // bounded-state streaming analytics suite (qst21 = distinct count via
  // HLL, qst26 = top-k via SpaceSaving, this = percentiles via the
  // Greenwald–Khanna summary behind percentile_approx). Exact streaming
  // percentiles would require the full value multiset in state; the GK
  // summary keeps O(accuracy · log(εN)) tuples per group with the
  // deterministic rank guarantee: for quantile p over N values the
  // returned v satisfies  (p − ε)·N ≤ rank(v) ≤ (p + ε)·N,  ε =
  // 1/accuracy — an ARRIVAL-ORDER-INDEPENDENT theorem (it holds under
  // any partial-merge order), which is what makes the gate deterministic
  // under any micro-batch split, exactly the qst21/qst26 pattern.
  //
  // The gate states the rank windows with ties handled both-sided
  // (count(< v) must not exceed the upper edge, count(≤ v) must reach
  // the lower edge) plus membership (GK returns an input sample, so v
  // must occur in the data). The oracle receives the run's quantile
  // values as literals (recorded below) and computes the SAME counts
  // and booleans from the raw events — both engines state the theorem
  // (VERDICT r11 Next #6; before this the DuckDB side emitted literal
  // trues and the gate's force lived in Spark alone). The raw approx
  // values are still not part of the gated OUTPUT — they are
  // summary-internal and may legitimately differ across replays within
  // the bound; the booleans may not.
  // ---------------------------------------------------------------------
  private val QAccuracy = 100 // ε = 1/accuracy = 0.01

  /** qst27's broadcast quantile values, recorded PER SF DIR by the run so
    * the oracle can restate the rank-window theorems in DuckDB over the
    * same literals. Verify dumps oracle SQL after running the queries, so
    * the gate sees the strong form for the dir it ran against; a dump for
    * a dir the query never ran against (or where it failed mid-run) falls
    * back to the r11 property-literal oracle instead of embedding another
    * dir's stale literals (ADVICE r12). */
  private val qst27Values =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Double, Double)]]()

  private def qst27(s: SparkSession, d: String): DataFrame = {
    val streamed = runBounded(s, d, "events", "complete") { ev =>
      ev.groupBy(col("event_type"))
        .agg(percentile_approx(col("value"),
          array(lit(0.5), lit(0.95)), lit(QAccuracy)).as("qs"))
    }
    val b = streamed.select(col("event_type"),
      col("qs")(0).as("v50"), col("qs")(1).as("v95"))
    qst27Values.put(d, b.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .toSeq.sortBy(_._1))
    Tables.events(s, d)
      .join(broadcast(b), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(col("value")).as("n"),
        sum(when(col("value") < col("v50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("value") <= col("v50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("value") === col("v50"), 1L).otherwise(0L)).as("eq50"),
        sum(when(col("value") < col("v95"), 1L).otherwise(0L)).as("lt95"),
        sum(when(col("value") <= col("v95"), 1L).otherwise(0L)).as("le95"),
        sum(when(col("value") === col("v95"), 1L).otherwise(0L)).as("eq95"))
      .select(col("event_type"), col("n"),
        (col("lt50") <= ceil(col("n") * 0.51) &&
          col("le50") >= floor(col("n") * 0.49)).as("p50_rank_ok"),
        (col("lt95") <= ceil(col("n") * 0.96) &&
          col("le95") >= floor(col("n") * 0.94)).as("p95_rank_ok"),
        (col("eq50") > 0).as("p50_member"),
        (col("eq95") > 0).as("p95_member"))
  }

  // weak fallback: qst27 did not run against the dumped dir
  private val qst27WeakSql =
    """SELECT event_type, CAST(count(value) AS BIGINT) AS n,
      |  true AS p50_rank_ok, true AS p95_rank_ok,
      |  true AS p50_member, true AS p95_member
      |FROM events GROUP BY event_type""".stripMargin

  private def qst27SqlFor(d: String): String = {
    val vs = qst27Values.getOrDefault(d, Nil)
    if (vs.isEmpty) qst27WeakSql
    else {
      // the run's quantile values as shortest-round-trip double literals
      // (the cbLitD rendering contract): DuckDB recomputes every count
      // and boolean from the raw events — the full theorem, both engines
      val rows = vs.map { case (t, v50, v95) =>
        s"('$t', CAST('${v50.toString}' AS DOUBLE), CAST('${v95.toString}' AS DOUBLE))"
      }.mkString(", ")
      s"""WITH qv(event_type, v50, v95) AS (VALUES $rows),
         |agg AS (
         |  SELECT e.event_type, CAST(count(e.value) AS BIGINT) AS n,
         |    sum(CASE WHEN e.value < q.v50 THEN 1 ELSE 0 END) AS lt50,
         |    sum(CASE WHEN e.value <= q.v50 THEN 1 ELSE 0 END) AS le50,
         |    sum(CASE WHEN e.value = q.v50 THEN 1 ELSE 0 END) AS eq50,
         |    sum(CASE WHEN e.value < q.v95 THEN 1 ELSE 0 END) AS lt95,
         |    sum(CASE WHEN e.value <= q.v95 THEN 1 ELSE 0 END) AS le95,
         |    sum(CASE WHEN e.value = q.v95 THEN 1 ELSE 0 END) AS eq95
         |  FROM events e JOIN qv q USING (event_type)
         |  GROUP BY 1)
         |SELECT event_type, n,
         |  (lt50 <= ceil(n * 0.51) AND le50 >= floor(n * 0.49)) AS p50_rank_ok,
         |  (lt95 <= ceil(n * 0.96) AND le95 >= floor(n * 0.94)) AS p95_rank_ok,
         |  eq50 > 0 AS p50_member,
         |  eq95 > 0 AS p95_member
         |FROM agg""".stripMargin
    }
  }

  // ---------------------------------------------------------------------
  // qst28: streaming Bloom-filter dedup — the membership member of the
  // bounded-state sketch suite (see BloomDedup). Exact streaming dedup
  // (qst03/qst18) holds one state row per key; the Bloom form holds
  // EXACTLY MBits bits per shard (16 KiB) whatever the key universe,
  // trading FP-suppression of new keys (recall drop, never a false
  // re-emission). WHICH keys get suppressed is arrival-order-dependent,
  // so the gate audits what is NOT: the final bit array — the OR of
  // every distinct key's hash positions, a set union, order-independent.
  // Spark reads it byte-by-byte from the checkpoint's ValueState
  // (qst23's path); DuckDB recomputes it from the same md5 hash family
  // with bit_or. 65,536 gate rows (4 shards × 16 Ki bytes) at EVERY SF —
  // the output size is the state bound made visible.
  // ---------------------------------------------------------------------
  private def qst28(s: SparkSession, d: String): DataFrame = {
    withRocksDb(s) {
      val ckptPath = graft.store.PartitionedStore.tempRoot("graft-qst28-ckpt-")
      val ckpt = ckptPath.toString
      val ev = streamTable(s, d, "events")
      toMemorySink(graft.streaming.BloomDedup
        .sketch(ev.select((col("event_id") % HhShards).cast("int").as("shard"),
          col("event_id").as("key"))),
        "bloom", "update", Some(ckpt))(): Unit
      // byte-explode the per-shard bit arrays; materialize (cache+count)
      // while the RocksDB provider conf is still held (qst26's pattern —
      // 65,536 small rows, bounded by the sketch size, not the corpus)
      val bytes = s.read.format("statestore")
        .option("stateVarName", "bloom").load(ckpt)
        .select(col("key.value").cast("long").as("shard"),
          col("value.value").as("bf"))
        .select(col("shard"), posexplode(expr(
          "transform(sequence(0, cast(length(bf) as int) - 1), " +
            "i -> cast(conv(substring(hex(bf), i * 2 + 1, 2), 16, 10) as bigint))")))
        .select(col("shard"), col("pos").cast("long").as("byte_idx"),
          col("col").as("byte_val"))
        .cache()
      bytes.count()
      bytes
    }
  }

  private val qst28Sql = {
    val m = graft.streaming.BloomDedup.MBits
    s"""WITH keys AS (
       |  SELECT DISTINCT event_id AS key, event_id % $HhShards AS shard
       |  FROM events),
       |pos AS (
       |  SELECT shard,
       |    CAST('0x' || substr(md5(CAST(key AS VARCHAR) || ':' || j), 1, 15)
       |      AS BIGINT) % $m AS bit
       |  FROM keys, range(0, ${graft.streaming.BloomDedup.NumHashes}) t(j)),
       |bytes AS (
       |  SELECT shard, bit // 8 AS byte_idx,
       |    bit_or(1 << (bit % 8)) AS v
       |  FROM pos GROUP BY 1, 2),
       |grid AS (
       |  SELECT s.shard, b.byte_idx
       |  FROM range(0, $HhShards) s(shard), range(0, ${m / 8}) b(byte_idx))
       |SELECT g.shard, g.byte_idx, CAST(coalesce(v, 0) AS BIGINT) AS byte_val
       |FROM grid g LEFT JOIN bytes b
       |  ON b.shard = g.shard AND b.byte_idx = g.byte_idx""".stripMargin
  }

  // ---------------------------------------------------------------------
  // qst29: streaming ingest classification — qd13's incremental dedup
  // with the INCOMING side as a stream and the accepted corpus as the
  // static side: the production shape where qd18's persisted signature
  // store serves a live ingest pipeline (the static seenH/seenC frames
  // here are exactly what qd18's store materializes — a deployment
  // would read them from the store parquet instead of recomputing).
  //
  // The streaming rewrite: qd13's per-doc flags came from joining flag
  // frames back onto the incoming set, but those flag frames are
  // stream-derived — joining them to the stream again would be an
  // unbounded stream-stream join. Instead each evidence row (exact hit,
  // near hit, bare arrival) is UNIONed into ONE streaming aggregation —
  // groupBy(doc_id).max(flags) — so the query has exactly one stateful
  // operator and only stream-STATIC joins (seen-side distinct hashes +
  // cap-filtered chunk buckets, both corpus-sized and never broadcast).
  // Oracle: qd13's SQL verbatim — the streaming/batch consistency
  // contract, stated by construction.
  // ---------------------------------------------------------------------
  /** The qst29 transform over an arbitrary static seen corpus and incoming
    * stream (both (doc_id, text)) — package-private so the spec can replay
    * planted corpora across micro-batch splits. */
  private[graft] def ingestClassify(seen: DataFrame)(
      incoming: DataFrame): DataFrame = {
    import graft.ext.{Dedup, SpanDedup}
    val seenH = seen.select(md5(col("text")).as("h")).distinct()
      .withColumn("hit", lit(1L))
    val seenChunks = SpanDedup.simhashChunks(seen)
    val kept = seenChunks.groupBy(col("c"), col("chunk"))
      .agg(count(lit(1)).as("n")).filter(col("n") <= Dedup.BucketCap)
      .select(col("c"), col("chunk"))
    val seenC = seenChunks.join(kept.hint("merge"), Seq("c", "chunk"), "left_semi")
      .select(col("c"), col("chunk"), col("simhash").as("seen_sim"))
    val exactEv = incoming.select(col("doc_id"), md5(col("text")).as("h"))
      .join(seenH, Seq("h"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(0L)).as("ex"),
        lit(0L).as("nr"))
    val nearEv = SpanDedup.simhashChunks(incoming)
      .join(seenC, Seq("c", "chunk"))
      .filter(expr("bit_count(simhash ^ seen_sim) <= 12"))
      .select(col("doc_id"), lit(0L).as("ex"), lit(1L).as("nr"))
    val arrival = incoming.select(col("doc_id"), lit(0L).as("ex"),
      lit(0L).as("nr"))
    exactEv.union(nearEv).union(arrival)
      .groupBy(col("doc_id"))
      .agg(max(col("ex")).as("ex"), max(col("nr")).as("nr"))
      .select(col("doc_id"),
        when(col("ex") === 1, "exact_dup")
          .when(col("nr") === 1, "near_dup")
          .otherwise("new").as("status"))
  }

  private def qst29(s: SparkSession, d: String): DataFrame = {
    val seen = Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0)
    runBounded(s, d, "documents", "complete") { docs =>
      ingestClassify(seen)(docs.filter(col("doc_id") % 5 === 0))
    }
  }

  // ---------------------------------------------------------------------
  // qst30: streaming PQ-ANN — the compressed-serving composition of
  // qst22's RAG-ingest shape: query vectors ARRIVE AS A STREAM, bucket
  // via the qs02 LSH sign planes, and score ONLY their bucket's
  // candidates by PQ asymmetric distance off the static CODE table
  // (qe03's encode + qs07's ADC math). The static side a deployment
  // reads is codes + bucket — 4 sub-codes and a 4-bit bucket per corpus
  // vector, never the float corpus — so the per-arrival cost is one
  // hash + one bucket's code rows through a literal-codebook
  // expression. Stream-static equi-join on bucket (corpus-sized static
  // side, never broadcast at scale); append-mode candidates; per-query
  // top-3 ranked on read (the qst22 rank-on-read argument). Oracle
  // recomputes buckets, codes and ADC in one query — the streamed path
  // must reproduce it exactly.
  // ---------------------------------------------------------------------
  private def qst30(s: SparkSession, d: String): DataFrame = {
    import graft.ext.{Embeddings, Similarity}
    val sample = Embeddings.pqSample(s, d)
    val codes = Embeddings.pqEncoded(
        Tables.embeddings(s, d).filter(col("vec_id") >= 10), sample)
      .withColumn("bucket", Similarity.bucketExpr(Similarity.NumPlanes))
      .select(col("vec_id").as("n_id") +: col("bucket") +:
        (0 until Embeddings.SubVecs).map(j => col(s"s$j.code").as(s"code$j")): _*)
    val scored = runBounded(s, d, "embeddings", "append") { emb =>
      emb.filter(col("vec_id") < 10)
        .withColumn("bucket", Similarity.bucketExpr(Similarity.NumPlanes))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("bucket"))
        .join(codes, Seq("bucket"))
        .select(col("q_id"), col("bucket"), col("n_id"),
          expr(Embeddings.adcExprStr(sample)).as("adc_dist"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("adc_dist").asc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
  }

  private val qst30Sql = {
    import graft.ext.{Embeddings, Similarity}
    val adc = (0 until Embeddings.SubVecs).map { j =>
      Embeddings.djSql(j, "q.embedding", s"c$j.c_emb")
    }.reduce((a, b) => s"($a + $b)")
    val centJoins = (0 until Embeddings.SubVecs)
      .map(j => s"JOIN cents c$j ON c$j.k = p.code$j").mkString(" ")
    s"""WITH ${Embeddings.pqCodesSqlCte},
       |bucketed AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    ${Similarity.bucketSql("embedding", Similarity.NumPlanes)} AS bucket
       |  FROM embeddings),
       |cands AS (
       |  SELECT q.vec_id AS q_id, q.bucket, cb.vec_id AS n_id, $adc AS adc_dist
       |  FROM bucketed q
       |  JOIN bucketed cb ON cb.bucket = q.bucket AND cb.vec_id >= 10
       |  JOIN pq p ON p.vec_id = cb.vec_id
       |  $centJoins
       |  WHERE q.vec_id < 10)
       |SELECT q_id, bucket, n_id, adc_dist, rank FROM (
       |  SELECT q_id, bucket, n_id, adc_dist,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY adc_dist ASC, n_id ASC) AS rank
       |  FROM cands)
       |WHERE rank <= 3""".stripMargin
  }

  // ---------------------------------------------------------------------
  // qst31: streaming EWMA trend smoothing — qw12's monitoring face run
  // where monitoring actually runs. The hourly per-type counts are ONE
  // streaming aggregation (complete mode; the only stateful operator,
  // state bounded by types × hours — never the event count); qw12's
  // 24-tap FIR — the order-dependent EWMA recursion re-expressed as
  // literal weights — is applied ON READ over that bounded aggregate
  // (the qst22/qst27 rank-on-read pattern). A tap self-join inside the
  // stream would be an aggregate→join→aggregate chain Structured
  // Streaming rejects, and needs no state anyway: the hourly frame is
  // already bounded, so the FIR is serving-side arithmetic, not stream
  // state. Oracle: qw12's SQL VERBATIM — streaming/batch consistency by
  // construction (the qst11/qst17/qst29 contract).
  // ---------------------------------------------------------------------
  private def qst31(s: SparkSession, d: String): DataFrame = {
    val hourly = runBounded(s, d, "events", "complete") { ev =>
      ev.groupBy(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("eh"))
        .agg(count(lit(1)).as("n"))
    }
    graft.operators.Windows.ewmaOverHourly(hourly)
  }

  // ---------------------------------------------------------------------
  // qst37: streaming CUSUM drift monitor — qw13's closed form over the
  // STREAMED hourly aggregate (the qst31 pattern: one streaming stateful
  // aggregation whose complete-mode state converges to the batch hourly
  // frame, then the monitor is an on-read window pass over the bounded
  // types×hours result — drift detection runs where monitoring actually
  // runs). Oracle: qw13's SQL verbatim — streaming/batch consistency by
  // construction.
  // ---------------------------------------------------------------------
  private def qst37(s: SparkSession, d: String): DataFrame = {
    val hourly = runBounded(s, d, "events", "complete") { ev =>
      ev.groupBy(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("eh"))
        .agg(count(lit(1)).as("n"))
    }
    graft.operators.Windows.cusumOverHourly(hourly)
  }

  // ---------------------------------------------------------------------
  // qst38: streaming data-quality monitor — qp03's single-table
  // expectations evaluated where a load gate actually runs: on the
  // arriving stream. ONE streaming aggregation holds all violation
  // counters (map-side-combined sums — the counters converge to the
  // batch metrics in complete mode); the (check_name, metric, passed)
  // unpivot is an on-read projection of the converged state (qst31's
  // pattern). The cross-table checks (PK/FK) stay batch-side in qp03 —
  // a stream cannot anti-join an unbounded parent without state growing
  // with the parent, and the honest shape is to gate those at publish
  // time.
  // ---------------------------------------------------------------------
  /** The one-aggregation violation counters — package-private so the spec
    * can plant violating rows through the identical streaming shape. */
  private[graft] def qualityCounters(ev: DataFrame): DataFrame =
    ev.agg(
      sum(when(col("value") < 0, 1L).otherwise(0L)).as("neg_values"),
      sum(when(col("event_type").isin(
        "view", "click", "purchase", "signup", "error"), 0L)
        .otherwise(1L)).as("bad_types"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_users"),
      count(lit(1)).as("rows_seen"))

  /** On-read unpivot of the converged counters into check rows. */
  private[graft] def qualityUnpivot(counters: DataFrame): DataFrame =
    counters.select(explode(array(
        struct(lit("events_value_nonneg").as("check_name"),
          col("neg_values").as("metric")),
        struct(lit("events_type_in_domain").as("check_name"),
          col("bad_types").as("metric")),
        struct(lit("events_user_nonnull").as("check_name"),
          col("null_users").as("metric")))).as("c"),
        col("rows_seen"))
      .select(col("c.check_name").as("check_name"),
        col("c.metric").as("metric"),
        (col("c.metric") === 0).as("passed"), col("rows_seen"))

  private def qst38(s: SparkSession, d: String): DataFrame =
    qualityUnpivot(runBounded(s, d, "events", "complete")(qualityCounters))

  private val qst38Sql =
    """WITH m AS (SELECT
      |  coalesce(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END), 0) AS neg_values,
      |  coalesce(sum(CASE WHEN event_type IN
      |    ('view','click','purchase','signup','error') THEN 0 ELSE 1 END), 0)
      |    AS bad_types,
      |  coalesce(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END), 0)
      |    AS null_users,
      |  count(*) AS rows_seen FROM events)
      |SELECT 'events_value_nonneg' AS check_name,
      |  CAST(neg_values AS BIGINT) AS metric, neg_values = 0 AS passed,
      |  rows_seen FROM m
      |UNION ALL
      |SELECT 'events_type_in_domain', CAST(bad_types AS BIGINT),
      |  bad_types = 0, rows_seen FROM m
      |UNION ALL
      |SELECT 'events_user_nonnull', CAST(null_users AS BIGINT),
      |  null_users = 0, rows_seen FROM m""".stripMargin

  // ---------------------------------------------------------------------
  // qst39: streaming A/B experiment readout — q33's pooled z-test where
  // an experiment dashboard actually reads it: over the live stream. ONE
  // streaming aggregation keyed on (variant, user, day) holds the
  // conversion state (the unit frame — per-key max is the smallest
  // possible state for a dedup-to-conversion metric); the variant rollup
  // and the z evaluation are on-read projections of the converged state
  // (qst31's pattern). Oracle: q33's SQL verbatim — streaming/batch
  // consistency by construction.
  // ---------------------------------------------------------------------
  private def qst39(s: SparkSession, d: String): DataFrame = {
    val conv = runBounded(s, d, "events", "complete") { ev =>
      ev.groupBy(pmod(col("user_id"), lit(2)).as("variant"),
          col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
    }
    graft.operators.Relational.abReadout(
      conv.select(col("variant"), col("converted")))
  }

  // ---------------------------------------------------------------------
  // qst32: streaming weighted Bernoulli sampling — qx16's predicate on
  // the document stream (the qst13 stateless-ingest pattern, weight-
  // proportional instead of per-source): Poisson-PPS inclusion is a
  // pure per-row integer comparison, so the streaming face needs no
  // state at all — the property qx15's fixed-size systematic PPS
  // fundamentally lacks (its global cumsum is a corpus barrier).
  // Oracle: qx16's SQL verbatim — streaming/batch consistency by
  // construction.
  // ---------------------------------------------------------------------
  private def qst32(s: SparkSession, d: String): DataFrame =
    runBounded(s, d, "documents", "append") { docs =>
      graft.operators.Scale.weightedBernoulli(docs)
    }

  // ---------------------------------------------------------------------
  // qst33: streaming fingerprint contamination screening — qt22 run
  // where screening actually runs: incoming documents ARRIVE AS A
  // STREAM, the winnowing selection is a stateless per-row projection
  // (qt21's zero-shuffle form — no state because selection is
  // per-document local), each selected fingerprint is marked by a
  // stream-static LEFT join against the seen corpus's DISTINCT
  // fingerprint set (the at-rest index qt22's cost model argues for),
  // and ONE streaming aggregation rolls the marks up per document
  // (qst29's union-of-evidence move: never a stream-stream join, one
  // stateful operator). Oracle: qt22's SQL verbatim — streaming/batch
  // consistency by construction.
  // ---------------------------------------------------------------------
  /** The qst33 transform over a static seen corpus and incoming stream —
    * package-private so the spec can replay planted corpora across
    * micro-batch splits. The seen index is materialized ONCE, eagerly,
    * at stream-build time: a stream-static join's static side re-plans
    * and re-executes per micro-batch, so an un-checkpointed seenH would
    * re-run the corpus-sized winnowing selection EVERY trigger (the
    * qst34 census lesson — and qt22's at-rest index argument, made
    * physical); corpus-sized, so on disk. The per-trigger broadcast of
    * seenH is the small-SF gate plan only — at 100 TB the screen joins the
    * PERSISTED hash-prefix store instead, which is no longer a claim:
    * qst43 ([[screenAgainstStore]]) gates exactly that shape against the
    * same qt22 oracle. */
  private[graft] def fingerprintScreen(seen: DataFrame)(
      incoming: DataFrame): DataFrame = {
    import graft.ext.TextAnalysis
    val seenH = TextAnalysis.winnowedFingerprints(seen)
      .select(col("h")).distinct().withColumn("hit", lit(1L))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    TextAnalysis.winnowedFingerprints(incoming)
      .join(seenH, Seq("h"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(0L)).as("hit"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fps"), sum(col("hit")).as("n_shared"))
      .select(col("doc_id"), col("n_fps"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_fps")).as("shared_frac"),
        (col("n_shared") > 0).as("flagged"))
  }

  private def qst33(s: SparkSession, d: String): DataFrame = {
    val seen = Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0)
    runBounded(s, d, "documents", "complete") { docs =>
      fingerprintScreen(seen)(docs.filter(col("doc_id") % 5 === 0))
    }
  }

  // ---------------------------------------------------------------------
  // qst43: qst33's 100 TB serving shape made physical (VERDICT r15 #2) —
  // the screen joins a PERSISTED hash-prefix fingerprint store instead of
  // a per-trigger broadcast of a session-built seenH. Batch side: the
  // seen corpus's distinct winnowed fingerprints land ONCE as a parquet
  // table partitioned by hp = pmod(h, 16). The key is the CONTENT
  // hash, not the doc id — the screen probes by fingerprint value, so a
  // content-keyed layout is what partition-prunes the probe (contrast
  // qd18's doc-keyed store, whose key serves upsert-by-doc; a production
  // ingest maintains both, qd18 for merges and this index for screens).
  // Stream side: foreachBatch — per arriving micro-batch the probe's
  // distinct prefixes are collected (≤16 rows BY CONSTRUCTION: the
  // partition-key space is pmod 16) and the store scan is PRUNED to
  // exactly those partitions before the equi-join on (hp, h). Per-trigger
  // IO is O(store partitions the batch actually touches), never
  // O(|store|), and the inner query is a BATCH plan, so AQE picks the
  // join strategy per trigger from runtime sizes (broadcast the bounded
  // probe when small, shuffle when a catch-up batch is big) — unhinted,
  // per the J1 rule: the store side is corpus-derived, never pinned
  // broadcast. The executed inner plan is contributed to the streaming
  // census ([[StreamPlanCapture.contribute]]) so the pruned join is
  // censused, not narrated; StreamingSpec additionally asserts the
  // store scan's selected partition count equals the probe's prefix
  // count. Oracle: qt22's SQL verbatim — the same rollup as qst33, so
  // store-served and broadcast-served screens must hash identically.
  // ---------------------------------------------------------------------
  // Store constants, fanout policy, meta IO, and the pruned-scan/append/
  // compact machinery moved to [[FingerprintStore]] (r18 — the store
  // gained its ingest face, VERDICT r17 Next #1); thin aliases below
  // keep this file's query code and the probes reading naturally.
  private[graft] def ScreenProbePushdownCap = FingerprintStore.ScreenProbePushdownCap
  private def fpPrefix(fanout: Int) = FingerprintStore.fpPrefix(fanout)

  /** Build the persisted content-keyed fingerprint index for `seen` at
    * `idxDir` in one shot ([[FingerprintStore.write]]). */
  private[graft] def writeFingerprintIndex(seen: DataFrame, idxDir: String): Unit =
    FingerprintStore.write(
      graft.ext.TextAnalysis.winnowedFingerprints(seen)
        .select(col("h")).distinct(), idxDir)

  /** The recorded fanout of a fingerprint index (from its meta sidecar). */
  private[graft] def readIndexFanout(s: SparkSession, idxDir: String): Int =
    FingerprintStore.readMeta(s, idxDir).fanout

  /** The qst43 per-batch screen against a persisted index at `idxDir` —
    * package-private so the spec can replay planted corpora and pin the
    * pruned-scan contract on the physical plan. `pushdownCap` is a
    * parameter (defaulting to the shipping [[ScreenProbePushdownCap]])
    * so the spec can plant an OVER-cap batch and pin the degraded path:
    * partition pruning intact, no h-IN filter, result unchanged. */
  private[graft] def screenAgainstStore(s: SparkSession, idxDir: String,
      pushdownCap: Int = ScreenProbePushdownCap)(
      batch: DataFrame): DataFrame = {
    val fanout = readIndexFanout(s, idxDir)
    // trigger-bounded (one ingest batch), read thrice (prefix probe,
    // value probe, join side)
    val fps = graft.ext.TextAnalysis.winnowedFingerprints(batch)
      .withColumn("hp", fpPrefix(fanout))
      .localCheckpoint(true)
    // Pruned store scan ([[FingerprintStore.prunedScan]]): partition-
    // pruned to the batch's ≤fanout prefix set, page-pruned by the
    // capped h-IN pushdown over the h-sorted files — per-batch IO
    // tracks the probe, not the store partition size. Both driver
    // probes inside are bounded BY CONSTRUCTION (VERDICT r17 #1: the
    // r17 form collected one (hp, h) row per distinct batch
    // fingerprint, a driver hazard under an unthrottled catch-up
    // trigger). Pushdown-dropped rows could never join (equi-join on
    // h), so the result is unchanged; a catch-up batch above the cap
    // keeps prefix pruning only.
    val store = FingerprintStore.prunedScan(s, idxDir, fps, pushdownCap, fanout)
      .withColumn("hit", lit(1L))
    fps.join(store, Seq("hp", "h"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(0L)).as("hit"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fps"), sum(col("hit")).as("n_shared"))
      .select(col("doc_id"), col("n_fps"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_fps")).as("shared_frac"),
        (col("n_shared") > 0).as("flagged"))
  }

  /** The screening phase shared by qst43 and qst44: stream the INCOMING
    * slice (doc_id % 5 == 0, qd13's split) and screen each micro-batch
    * against the persisted store at `idxDir`. */
  private def screenIncomingStream(s: SparkSession, d: String,
      idxDir: String, censusKey: String): DataFrame = {
    val outs = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    val ckpt = graft.store.PartitionedStore.tempRoot(s"graft-$censusKey-ckpt-")
    val src = streamTable(s, d, "documents")
      .filter(col("doc_id") % 5 === 0)
    val q = src.writeStream.option("checkpointLocation", ckpt.toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val res = screenAgainstStore(s, idxDir)(b)
        // eager: pins this batch's bounded |docs-in-batch|-row result
        // before the next trigger, and finalizes the AQE plan so the
        // census contribution below reads the plan that actually ran
        outs.add(res.localCheckpoint(true)): Unit
        StreamPlanCapture.contribute(censusKey,
          res.queryExecution.executedPlan.toString)
      }
      .start()
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    outs.asScala.toSeq.reduce(_.union(_))
  }

  private def qst43(s: SparkSession, d: String): DataFrame = {
    val root = graft.store.PartitionedStore.tempRoot("graft-qst43-idx-")
    val idxDir = s"$root/fp"
    writeFingerprintIndex(
      Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0), idxDir)
    screenIncomingStream(s, d, idxDir, "qst43_inner")
  }

  // ---------------------------------------------------------------------
  // qst44: INCREMENTAL fingerprint-store ingest (VERDICT r17 Next #1) —
  // the missing face of qst43: there, the store is built once and only
  // screened; here the seen corpus ARRIVES as a stream and the store is
  // grown by per-trigger log-structured appends ([[FingerprintStore]]:
  // novel-only anti-join through the same pruned scan the screen uses,
  // one h-sorted file appended per touched hp= partition, amortized
  // compaction folding files and re-deriving fanout), then the incoming
  // slice is screened against the incrementally-built store exactly as
  // qst43 screens against the one-shot build. Because append dedups
  // against the live store, N appends + compact produce EXACTLY the
  // one-shot index content (spec-pinned by h-set equality) — so the
  // oracle is qt22's SQL verbatim: incremental build ≡ one-shot build ≡
  // broadcast-served screen, all hash-identical. 100 TB shape: each
  // append touches O(batch) store bytes, compaction is partition-
  // parallel and paid every CompactEvery batches, and fanout re-derives
  // from live row count as the store grows (SCREEN_INGEST_r20.jsonl:
  // per-batch append+screen cost ~flat across store growth).
  // ---------------------------------------------------------------------
  private[graft] val IngestAppendBatches = 6

  private def qst44(s: SparkSession, d: String): DataFrame = {
    val root = graft.store.PartitionedStore.tempRoot("graft-qst44-idx-")
    val idxDir = s"$root/fp"
    val store = FingerprintStore.create(s, idxDir)
    // Ingest phase: replay the SEEN corpus in IngestAppendBatches
    // doc_id-sliced micro-batches ([[replaySlices]]; documents carry no
    // event time, so the slice key is pmod(doc_id, N) — deterministic,
    // every slice non-empty at any SF). Each trigger appends its batch's
    // novel fingerprints.
    val seen = Tables.documents(s, d)
      .filter(col("doc_id") % 5 =!= 0)
    val (ingest, files) = replaySlices(s, seen,
      pmod(col("doc_id"), lit(IngestAppendBatches)).cast("int"), IngestAppendBatches)
    require(files == IngestAppendBatches,
      s"ingest split produced $files/$IngestAppendBatches slices")
    val ckpt = graft.store.PartitionedStore.tempRoot("graft-qst44-ingest-ckpt-")
    val iq = ingest.writeStream.option("checkpointLocation", ckpt.toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        store.append(graft.ext.TextAnalysis.winnowedFingerprints(b)): Unit
      }
      .start()
    iq.processAllAvailable()
    val dataBatches = iq.recentProgress.count(_.numInputRows > 0)
    iq.stop()
    require(dataBatches >= 2,
      s"ingest ran $dataBatches data-carrying micro-batches; need ≥2 " +
        "for the append path to be provably incremental")
    // close the ingest epoch: fold append files into one h-sorted file
    // per partition and re-derive fanout from the live row count (also
    // self-heals the meta row count)
    store.compact()
    // Screen phase: qst43's stream verbatim against the grown store
    screenIncomingStream(s, d, idxDir, "qst44_inner")
  }

  /** The full production loop composed (spec surface, VERDICT r17 Next
    * #1's "screened batch's ACCEPTED docs join the store"): screen an
    * arriving batch against the store, then append the fingerprints of
    * its accepted (unflagged) documents so FUTURE batches screen against
    * them — duplicates of accepted content get flagged from the next
    * trigger on, while flagged documents contribute nothing. Returns the
    * batch's classification; both halves ride the same pruned scan. */
  private[graft] def screenAndIngest(s: SparkSession,
      store: FingerprintStore)(batch: DataFrame): DataFrame = {
    val res = screenAgainstStore(s, store.dir)(batch).localCheckpoint(true)
    val accepted = batch.join(
      res.filter(!col("flagged")).select(col("doc_id")), Seq("doc_id"),
      "left_semi")
    store.append(graft.ext.TextAnalysis.winnowedFingerprints(accepted)): Unit
    res
  }

  // ---------------------------------------------------------------------
  // qst34: streaming BM25 relevance screening — keyword-targeted ingest
  // filtering (score an arriving crawl against a fixed query set). The
  // query table (terms + df + corpus stats, ≤ 3 rows BY CONSTRUCTION) is
  // built once from the static corpus — the index at rest; each arriving
  // document is scored by a PURE PROJECTION after the stream-static
  // broadcast join (tf/dl computed row-locally with higher-order array
  // functions, contributions quantized to the identical micro-units as
  // the batch path). ZERO stateful operators ⇒ append mode, zero state
  // at any ingest rate — the strongest streaming shape in the suite
  // (qst12's stateless-face pattern, with qt23's scoring semantics).
  // Oracle: the un-ranked batch BM25 aggregation — streaming/batch
  // consistency by construction.
  // ---------------------------------------------------------------------
  private def qst34(s: SparkSession, d: String): DataFrame = {
    import graft.ext.TextAnalysis
    // Build the query-term index ONCE in batch and pin it as a LITERAL
    // frame: the static side of a stream-static join re-plans and
    // re-executes every micro-batch (AQE off, no cross-trigger reuse), so
    // leaving the index's corpus-sized tf shuffles in the plan would pay
    // a full corpus scan PER TRIGGER — the r15 streaming census surfaced
    // exactly that (23 censused Exchanges in the micro-batch plan). The
    // index is bounded by construction — one row per derived query (= 3)
    // — so driver-materializing it is the production shape the
    // bm25ScoreDocs scaladoc already claims: batch builds with shuffles,
    // serving joins the materialized table and never shuffles.
    val built = TextAnalysis.bm25QueryTable(Tables.documents(s, d))
    val index = s.createDataFrame(
      java.util.Arrays.asList(built.collect(): _*), built.schema)
    runBounded(s, d, "documents", "append") { docs =>
      TextAnalysis.bm25ScoreDocs(docs, index)
    }
  }

  // ---------------------------------------------------------------------
  // qst35: streaming media decode — qm02's real BMP encode→decode→
  // feature-extract run where multimodal ingest actually runs: on the
  // ARRIVING stream. decodeFeatures is an iterator-in/iterator-out
  // mapPartitions (codec init amortizes per micro-batch partition) with
  // no keyed state — a stateless projection, so append mode with zero
  // state at any ingest rate, and every output field still comes from
  // the DECODED image (the gate checks the codec on the streaming path,
  // not the synthesis). Oracle: qm02's SQL verbatim — streaming/batch
  // consistency by construction.
  // ---------------------------------------------------------------------
  private def qst35(s: SparkSession, d: String): DataFrame = {
    import graft.ext.Multimodal
    runBounded(s, d, "documents", "append") { docs =>
      import docs.sparkSession.implicits._
      val media = docs.filter(length(col("text")) >= 40)
        .select(col("doc_id"), col("text")).as[Multimodal.MediaRow]
      Multimodal.decodeFeatures(media).toDF()
    }
  }

  // ---------------------------------------------------------------------
  // qst36: streaming clustered ingest sink — the write side of qx17's
  // layout story, maintained incrementally: every micro-batch lands
  // Z-ORDERED on (user_id, event_id) under its own batch_id=N partition
  // (the exactly-once dynamic-overwrite contract of writeIdempotent), so
  // the growing table keeps tight per-file min/max envelopes in BOTH keys
  // and range predicates prune row groups inside EVERY batch partition.
  // The gate is the ingest contract: the landed table's content is
  // exactly one replay of the stream (oracle = qx12's identity projection
  // over events); the clustering/pruning property and replay idempotence
  // are pinned in LayoutSpec.
  // ---------------------------------------------------------------------
  private def qst36(s: SparkSession, d: String): DataFrame = {
    // fresh table per invocation: a previous run with MORE batches would
    // leave stale batch_id partitions that dynamic overwrite never touches
    val base = graft.store.PartitionedStore.tempRoot("graft-qst36-")
    val src = Tables.normalizeEvents(streamTable(s, d, "events"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val ckpt = graft.store.PartitionedStore.tempRoot("graft-qst36-ckpt-")
    val q = src.writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (b: DataFrame, id: Long) =>
        graft.sinks.Layout.writeClusteredBatch(
          b, id, base.toString, "user_id", "event_id", files = 4)
      }
      .start()
    q.processAllAvailable()
    q.stop()
    s.read.parquet(base.toString).drop("batch_id")
  }

  def queries: Seq[Q] = Seq(
    Q("qst01_stream_tumbling", qst01, Some(qst01Sql)),
    Q("qst02_stream_ysb", qst02, Some(graft.ysb.Ysb.qysb02Sql)),
    Q("qst03_stream_dedup", qst03, Some(qst03Sql)),
    Q("qst04_stream_watermark_append", qst04, Some(qst04Sql)),
    Q("qst05_replay_source_ysb", qst05, Some(graft.ysb.Ysb.qysb01Sql)),
    Q("qst06_stream_session", qst06, Some(qst06Sql)),
    Q("qst07_stream_interval_join", qst07, Some(qst07Sql)),
    Q("qst08_stream_running_counters", qst08, Some(qst08Sql)),
    Q("qst09_stream_outer_join", qst09, Some(qst09Sql)),
    Q("qst10_stream_neardup", qst10, Some(qst10Sql)),
    // same semantics, same oracle as batch qt10 — the streaming/batch
    // consistency contract, stated by construction
    Q("qst11_stream_contamination", qst11, Some(graft.ext.TextAnalysis.qt10Sql)),
    // stateless ingest faces of qt11/qx03 — batch oracles reused verbatim
    Q("qst12_stream_pii", qst12, Some(graft.ext.TextAnalysis.qt11Sql)),
    Q("qst13_stream_sample", qst13, Some(graft.operators.Scale.qx03Sql)),
    Q("qst14_stream_quality", qst14, Some(graft.ext.TextAnalysis.qt12Sql)),
    Q("qst15_stream_sessions", qst15, Some(qst15Sql)),
    Q("qst16_stream_block_dedup", qst16, Some(qst16Sql)),
    // same semantics, same oracle as batch qw08 — streaming/batch
    // consistency by construction
    Q("qst17_stream_cohorts", qst17, Some(graft.operators.Windows.qw08Sql)),
    Q("qst18_stream_dedup_ttl", qst18, Some(qst03Sql)),
    // same keeper rule, same oracle as qst16: the 1 h horizon cannot bind
    // inside a seconds-long bounded replay (see qst19 scaladoc)
    Q("qst19_stream_block_dedup_ttl", qst19, Some(qst16Sql)),
    Q("qst20_state_reader", qst20, Some(qst20Sql)),
    // q18's property oracle verbatim: the bound is data-deterministic and
    // the streaming sketch answers it on the streaming path
    Q("qst21_stream_approx_distinct", qst21,
      Some(graft.operators.Relational.q18SqlShared)),
    // qs02's oracle verbatim: same bucket algebra, same candidates, same
    // deterministic ranking — the streaming path must reproduce it exactly
    Q("qst22_stream_ann", qst22,
      Some(graft.ext.Similarity.qs02SqlShared)),
    // qst16's oracle verbatim: the keeper ValueState read back from the
    // checkpoint must BE the batch keeper rule's kept set
    Q("qst23_state_reader_tws", qst23, Some(qst16Sql)),
    Q("qst24_stream_topk", qst24, Some(qst24Sql)),
    // qa03's oracle verbatim: the streamed enrichment must reproduce the
    // batch point-in-time rollup exactly
    Q("qst25_stream_scd2", qst25, Some(graft.operators.AsOf.qa03Sql)),
    // property gate: tracked/bound_ok are SpaceSaving theorems (arrival-
    // order-independent), exact counts computed by both engines
    Q("qst26_stream_heavy_hitters", qst26, Some(qst26Sql)),
    // property gate: rank windows are the GK summary's deterministic
    // guarantee; exact group sizes computed by both engines
    Q("qst27_stream_quantile", qst27, Some(qst27WeakSql),
      oracleFor = Some(qst27SqlFor)),
    // exact-state audit: the final Bloom bit array is an order-independent
    // set union, recomputed bit-for-bit by the oracle from the shared md5
    // hash family
    Q("qst28_stream_bloom_dedup", qst28, Some(qst28Sql)),
    // qd13's oracle verbatim: streaming ingest classification must equal
    // the batch incremental dedup — streaming/batch consistency by
    // construction
    Q("qst29_stream_ingest_dedup", qst29, Some(graft.ext.SpanDedup.qd13Sql)),
    // bucketed + PQ-coded + ADC-ranked in one oracle query: the streamed
    // compressed-serving path must reproduce it exactly
    Q("qst30_stream_pq_ann", qst30, Some(qst30Sql)),
    // qw12's oracle verbatim: the FIR over the streamed hourly aggregate
    // must equal the batch smoothing — streaming/batch consistency by
    // construction
    Q("qst31_stream_ewma", qst31, Some(graft.operators.Windows.qw12Sql)),
    // qx16's oracle verbatim: stateless weight-proportional ingest
    // sampling — streaming/batch consistency by construction
    Q("qst32_stream_weighted_sample", qst32,
      Some(graft.operators.Scale.qx16Sql)),
    // qt22's oracle verbatim: stateless winnowing projection +
    // stream-static index join + one rollup aggregation — streaming/
    // batch consistency by construction
    Q("qst33_stream_fingerprint_screen", qst33,
      Some(graft.ext.TextAnalysis.qt22Sql)),
    // the un-ranked qt23 aggregation as oracle: the stateless row-local
    // scorer must reproduce the distributed tf path's scores exactly
    Q("qst34_stream_bm25", qst34,
      Some(graft.ext.TextAnalysis.bm25ScoresSql)),
    // qm02's oracle verbatim: the streamed decode must reproduce the
    // batch codec features exactly — multimodal streaming/batch
    // consistency by construction
    Q("qst35_stream_media_decode", qst35,
      Some(graft.ext.Multimodal.qm02Sql)),
    // identity oracle (the qx12 pattern): the clustered idempotent sink's
    // table content must be exactly one replay of the stream
    Q("qst36_stream_clustered_sink", qst36, Some(graft.operators.Scale.qx12Sql)),
    // qw13's oracle verbatim: the CUSUM monitor over the streamed hourly
    // aggregate must equal the batch closed form
    Q("qst37_stream_cusum", qst37, Some(graft.operators.Windows.qw13Sql)),
    // the streamed violation counters must converge to the batch
    // expectation metrics exactly
    Q("qst38_stream_quality_monitor", qst38, Some(qst38Sql)),
    // q33's oracle verbatim: the live experiment readout must equal the
    // batch z-test exactly
    Q("qst39_stream_ab_test", qst39,
      Some(graft.operators.Relational.q33Sql)),
    // qs11's oracle verbatim: the streamed composite-index probe must
    // reproduce the batch filtered ranking exactly
    Q("qst40_stream_filtered_ann", qst40,
      Some(graft.ext.Similarity.qs11Sql)),
    // qa04's oracle verbatim: per-key state-carried PIT enrichment at
    // ingest must equal the batch ASOF assembly exactly
    Q("qst41_stream_pit", qst41, Some(graft.operators.AsOf.qa04Sql)),
    Q("qst42_stream_pit_ttl", qst42, Some(qst42Sql)),
    // qt22's oracle verbatim (qst33's oracle): the persisted-store screen
    // must hash-match the broadcast-served screen — the claimed 100 TB
    // serving shape as a gate, not a scaladoc sentence (VERDICT r15 #2)
    Q("qst43_stream_screen_store", qst43,
      Some(graft.ext.TextAnalysis.qt22Sql)),
    // qt22's oracle verbatim AGAIN, against the incrementally-built
    // store: N log-structured appends + compact must produce a store
    // whose screen hash-matches both the one-shot build (qst43) and the
    // broadcast-served screen (qst33) — incremental ≡ one-shot by hash
    Q("qst44_stream_store_ingest", qst44,
      Some(graft.ext.TextAnalysis.qt22Sql)))
}
