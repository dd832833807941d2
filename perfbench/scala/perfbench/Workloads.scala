package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.{GraftSession, Registry, SparkEntry}
import graft.sources.Tables
import graft.ysb.{Gen, Ysb}

/** What a workload hands back: operations attempted and failed (with the
  * reason of each failure), the end-to-end metrics of its untraced
  * measurement, and — in a traced run — the per-layer metrics plus the same
  * end-to-end metrics taken with tracing on. */
final case class Outcome(
    attempted: Long,
    failures: Seq[String],
    e2e: Map[String, Double],
    perLayer: Map[String, Double] = Map.empty,
    detail: Map[String, Any] = Map.empty)

final case class Ctx(spark: SparkSession, cores: Int, seed: Long,
    seconds: Int, dataDir: String, workDir: String, heap: HeapPeak) {
  private var n = 0
  /** A fresh directory under the run's work directory. */
  def freshDir(prefix: String): String = {
    n += 1
    val p = Paths.get(workDir, s"$prefix-$n")
    Files.createDirectories(p)
    p.toString
  }
}

trait Workload {
  def name: String
  /** Work every set-up repeats after creating the session. */
  def prepare(spark: SparkSession, dataDir: String): Unit
  def run(ctx: Ctx, traced: Boolean): Outcome
}

object Workload {
  val all: Seq[Workload] = Seq(YsbOpen, YsbReplay, GatesRead)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $n (known: ${all.map(_.name).mkString(", ")})"))

  def medianOrZero(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Micro-batch phase and state metrics over the steady batches `ps`
    * (`all` is every batch of the query, for the whole-run counts). */
  def batchMetrics(ps: Seq[StreamingQueryProgress],
      all: Seq[StreamingQueryProgress], overMs: Double): Map[String, Double] = {
    def p50(key: String) = Stats.median(ps.map(Progress.dur(_, key)))
    val states = ps.flatMap(_.stateOperators.headOption)
    val allStates = all.flatMap(_.stateOperators.headOption)
    Map(
      "batch.planning_ms" -> p50("queryPlanning"),
      "batch.latest_offset_ms" -> p50("latestOffset"),
      "batch.get_batch_ms" -> p50("getBatch"),
      "batch.wal_commit_ms" -> p50("walCommit"),
      "batch.commit_offsets_ms" -> p50("commitOffsets"),
      "batch.add_batch_ms" -> p50("addBatch"),
      "batch.trigger_ms" -> p50("triggerExecution"),
      "batch.count" -> all.count(_.numInputRows > 0).toDouble,
      "batch.rows_p50" -> Stats.median(ps.map(_.numInputRows.toDouble)),
      "batch.over_trigger" -> ps.count(Progress.dur(_, "triggerExecution") > overMs).toDouble,
      "state.commit_ms" ->
        (if (states.isEmpty) 0.0 else Stats.median(states.map(_.commitTimeMs.toDouble))),
      "state.rows_total" -> allStates.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
      "state.rows_updated" -> states.map(_.numRowsUpdated.toDouble).sum,
      "state.rows_evicted" -> allStates.map(_.numRowsRemoved.toDouble).sum,
      "state.memory_bytes" -> allStates.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0))
  }

  /** Per-batch phase durations, for the artifact. */
  def batchDetail(ps: Seq[StreamingQueryProgress]): Seq[Map[String, Any]] = ps.map { p =>
    Map[String, Any]("batch" -> p.batchId, "rows" -> p.numInputRows,
      "start_ms" -> Progress.startMs(p)) ++
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue } ++
      p.stateOperators.headOption.map(s => "state_commit_ms" -> s.commitTimeMs)
  }

  def batchSpans(spans: Spans, parent: String, ps: Seq[StreamingQueryProgress]): Unit =
    ps.foreach(p => spans.add(Span(Streams.batchSpanId(p.id.toString, p.batchId),
      parent, "batch", s"batch ${p.batchId}", Progress.startMs(p), Progress.endMs(p))))

  /** Self time of the sink spans: callback time not covered by its jobs. */
  def sinkSelfMs(spans: Spans): Seq[Double] = {
    val all = spans.all
    val jobs = all.filter(_.kind == "job").groupBy(_.parent)
    all.filter(_.kind == "sink").map { s =>
      val batch = s.parent
      val covered = Stats.unionLength(jobs.getOrElse(batch, Nil)
        .map(j => (math.max(j.start, s.start), math.min(j.end, s.end))))
      (s.end - s.start) - covered
    }
  }
}

/** Shared streaming plumbing: the foreachBatch sink that records each
  * batch's output with its emission time, and the YSB query shape. */
object Streams {
  final case class Emitted(batchId: Long, emitMs: Double, rows: Array[Row])

  def batchSpanId(queryId: String, batchId: Long): String =
    s"batch-${queryId.take(8)}-$batchId"

  final class Sink(spans: Option[Spans]) {
    val emitted = new ConcurrentLinkedQueue[Emitted]()
    def accept(df: DataFrame, batchId: Long): Unit = {
      val t0 = Clock.nowMs
      val rows = df.collect()
      val t1 = Clock.nowMs
      emitted.add(Emitted(batchId, t1, rows))
      spans.foreach { sp =>
        val q = df.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
        sp.add(Span(sp.newId("sink"), batchSpanId(String.valueOf(q), batchId), "sink",
          s"sink $batchId", t0, t1))
      }
    }
    def byBatch: Map[Long, Emitted] = emitted.asScala.map(e => e.batchId -> e).toMap
  }

  /** The paper's query: filter → project → broadcast join with the
    * campaign table → 10 s tumbling count, under a 10 s watermark. */
  def ysb(spark: SparkSession, events: DataFrame): DataFrame =
    Ysb.query(events.withWatermark("event_time", "10 seconds"), Gen.campaigns(spark))

  /** Final count and last event time per (window start ms, campaign),
    * taking each group's last emission over the batches in `batches`. */
  def finals(sink: Sink, batches: Set[Long]): Map[(Long, String), (Long, Long)] = {
    val out = mutable.Map.empty[(Long, String), (Long, Long)]
    sink.emitted.asScala.toSeq.filter(e => batches(e.batchId)).sortBy(_.batchId)
      .foreach(_.rows.foreach { r =>
        val ts = r.getTimestamp(3)
        out((r.getLong(0), r.getString(1))) =
          (r.getLong(2), ts.getTime / 1000 * 1000000L + ts.getNanos / 1000)
      })
    out.toMap
  }
}

/** `ysb_open`: the paper's latency experiment — the query on the built-in
  * rate source, open loop at a fixed rate, 1 s trigger, update mode. */
object YsbOpen extends Workload {
  val name = "ysb_open"
  /** Well under the rate this query sustains on 4 cores, so that a burst
    * of load from other processes on the machine does not build a backlog
    * (at 250 000 events/s one did). */
  val RowsPerSecond = 150000L
  val TriggerMs = 1000L
  /** Per-batch times settle after about 12 one-second batches. */
  val WarmS = 12
  /** 11 batches of 100 groups put at least 10 latency samples beyond p99. */
  val MinSteadyBatches = 11
  /** A batch whose trigger starts later than this after the due time of its
    * newest row waited behind a backlog. */
  val CaughtUpMs = 100.0
  val CatchUpLimitS = 20

  def prepare(spark: SparkSession, dataDir: String): Unit = Workload.noop(Gen.campaigns(spark))

  /** The rate source keeps its start time in its checkpoint log and hands
    * out whole seconds of rows; starting it on the trigger grid makes every
    * trigger read exactly the rows due up to that trigger, so an event's
    * latency carries no random start-phase term. */
  private def pinRateStart(ckpt: String, startMs: Long): Unit = {
    val dir = Paths.get(ckpt, "sources", "0")
    Files.createDirectories(dir)
    Files.write(dir.resolve("0"), s"v1\n$startMs".getBytes(StandardCharsets.UTF_8))
  }

  private final case class Run(e2e: Map[String, Double], failures: Seq[String],
      steady: Seq[StreamingQueryProgress], all: Seq[StreamingQueryProgress],
      lagMs: Seq[Double], samples: Int, beyondP99: Int, backlogged: Int,
      t0: Double, t1: Double, sinkMs: Seq[Double], winOpenS: Double)

  private def stream(ctx: Ctx, spans: Option[Spans], parent: String): Run = {
    val spark = ctx.spark
    val ckpt = ctx.freshDir("open-ckpt")
    val startMs = System.currentTimeMillis() / TriggerMs * TriggerMs - 2 * TriggerMs
    pinRateStart(ckpt, startMs)
    val rec = new ProgressRecorder
    spark.streams.addListener(rec)
    val sink = new Streams.Sink(spans)
    val q = Streams.ysb(spark, Gen.rateStream(spark, RowsPerSecond, numPartitions = ctx.cores))
      .writeStream.outputMode("update")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, id: Long) => sink.accept(df, id) }
      .start()
    val t0 = Clock.nowMs
    val failures = mutable.ArrayBuffer.empty[String]
    def lag(p: StreamingQueryProgress): Double =
      Progress.startMs(p) - (startMs + p.sources.head.endOffset.trim.toLong * 1000.0)
    def onTime(p: StreamingQueryProgress): Boolean = lag(p) <= CaughtUpMs
    def data = rec.of(q.id).filter(_.numInputRows > 0)
    // the window opens once the query has caught up with the source: at the
    // first batch after the warm-up that starts on time. The first, slow
    // triggers leave a backlog that would otherwise count as steady-state
    // latency; a query that never catches up does not sustain the rate.
    def caughtUp: Option[Double] = data.map(p => (Progress.startMs(p), p))
      .collectFirst { case (st, p) if st >= t0 + WarmS * 1000.0 && onTime(p) => st }
    Thread.sleep(WarmS * 1000L)
    val warmDeadline = System.currentTimeMillis() + CatchUpLimitS * 1000L
    while (caughtUp.isEmpty && System.currentTimeMillis() < warmDeadline && q.isActive)
      Thread.sleep(20)
    val winStart = caughtUp.getOrElse {
      failures += s"the query did not catch up with the source within $CatchUpLimitS s " +
        s"after the warm-up: it does not sustain $RowsPerSecond events/s"
      Clock.nowMs
    }
    val minEnd = winStart + ctx.seconds * 1000.0
    // the window closes at the first on-time batch start after `minEnd` with
    // at least MinSteadyBatches on-time batches before it, so the backlog is
    // clear at both ends and a slowed run still yields enough latency
    // samples; every batch of the window has ended once that batch starts
    def windowEnd: Option[Double] = {
      val ps = data.filter(Progress.startMs(_) >= winStart)
      val before = ps.scanLeft(0)((n, p) => if (onTime(p)) n + 1 else n)
      ps.zip(before).collectFirst { case (p, n) if Progress.startMs(p) >= minEnd &&
        n >= MinSteadyBatches && onTime(p) => Progress.startMs(p) }
    }
    Thread.sleep(math.max(0L, (minEnd - Clock.nowMs).toLong))
    val deadline = System.currentTimeMillis() + 60000
    while (windowEnd.isEmpty && System.currentTimeMillis() < deadline && q.isActive)
      Thread.sleep(20)
    val winEnd = windowEnd.getOrElse {
      failures += s"no on-time batch with $MinSteadyBatches on-time batches before it " +
        "within 60 s of the window's end: the backlog did not clear"
      Clock.nowMs
    }
    q.stop()
    ctx.heap.sample()
    Option(q.lastProgress).foreach(p => rec.awaitBatch(q.id, p.batchId))
    spark.streams.removeListener(rec)
    val t1 = Clock.nowMs

    val all = rec.of(q.id)
    val done = all.map(_.batchId).toSet
    val steady = all.filter(p => Progress.startMs(p) >= winStart &&
      Progress.startMs(p) < winEnd && p.numInputRows > 0)
    val emitted = sink.byBatch

    // rows consumed must equal rows the source generated up to its last offset
    val consumed = all.map(_.numInputRows).sum
    val endSec = all.lastOption.map(_.sources.head.endOffset.trim.toLong).getOrElse(0L)
    if (consumed != endSec * RowsPerSecond)
      failures += s"consumed $consumed rows but the source generated ${endSec * RowsPerSecond}"
    // summed final counts must equal the view events emitted (value % 3 == 0)
    val finals = Streams.finals(sink, done)
    val views = (consumed + 2) / 3
    val counted = finals.values.map(_._1).sum
    if (counted != views) failures += s"final counts sum to $counted, expected $views views"

    // latency comes from the on-time batches. A batch that starts late waits
    // behind the overrun of the batch before it, which already shows in
    // that batch's latency; the late ones are `backlogged_batches`
    val lat = mutable.ArrayBuffer.empty[Double]
    val lags = mutable.ArrayBuffer.empty[Double]
    steady.foreach { p =>
      emitted.get(p.batchId) match {
        case None => failures += s"batch ${p.batchId} has no sink output"
        case Some(e) =>
          if (onTime(p)) e.rows.foreach { r =>
            val ts = r.getTimestamp(3)
            lat += e.emitMs - (ts.getTime / 1000 * 1000.0 + ts.getNanos / 1e6)
          }
          val dueMs = startMs + p.sources.head.endOffset.trim.toLong * 1000.0
          val newest = e.rows.map(_.getTimestamp(3).getTime).maxOption.getOrElse(0L)
          if (math.abs(newest - dueMs) > 2)
            failures += s"batch ${p.batchId}: newest event at $newest, expected the " +
              s"trigger's due time $dueMs (rate source start not pinned)"
          lags += lag(p)
      }
    }
    val (p50, _) = if (lat.isEmpty) (0.0, 0) else Stats.percentile(lat.toSeq, 0.5)
    val (p99, beyond) = if (lat.isEmpty) (0.0, 0) else Stats.percentile(lat.toSeq, 0.99)
    if (beyond < 10) failures += s"only $beyond latency samples beyond p99 (need 10)"
    // rows of the window's batches after the first, over the time between
    // the first and the last of their emissions: the rate results come out
    val emits = steady.flatMap(p => emitted.get(p.batchId)).map(_.emitMs)
    val windowMs = if (emits.isEmpty) 0.0 else emits.last - emits.head
    val steadyRows = steady.drop(1).map(_.numInputRows).sum
    val triggers = steady.filter(onTime).map(Progress.dur(_, "triggerExecution") / 1000)
    val e2e = Map(
      "events_per_s" -> (if (windowMs > 0) steadyRows / (windowMs / 1000) else 0.0),
      "latency_p50_ms" -> p50,
      "latency_p99_ms" -> p99,
      "wall_s" -> (if (triggers.isEmpty) 0.0 else Stats.median(triggers)))
    spans.foreach(sp => Workload.batchSpans(sp, parent, all))
    Run(e2e, failures.toSeq, steady, all, lags.toSeq, lat.size, beyond,
      steady.count(!onTime(_)), t0, t1, spans.map(Workload.sinkSelfMs).getOrElse(Nil),
      (winStart - t0) / 1000)
  }

  def run(ctx: Ctx, traced: Boolean): Outcome = {
    val plain = stream(ctx, None, "")
    val base = Outcome(
      attempted = plain.all.count(_.numInputRows > 0).toLong + 1,
      failures = plain.failures,
      e2e = plain.e2e,
      detail = Map("latency_samples" -> plain.samples,
        "latency_samples_beyond_p99" -> plain.beyondP99,
        "batches" -> Workload.batchDetail(plain.all),
        "steady_batches" -> plain.steady.size, "backlogged_batches" -> plain.backlogged,
        "rows_per_second" -> RowsPerSecond, "trigger_ms" -> TriggerMs, "warmup_s" -> WarmS,
        "window_opened_s" -> plain.winOpenS, "seed_invariant" -> true))
    if (!traced) return base
    val spans = new Spans
    val stages = new StageCollector(Some(spans))
    ctx.spark.sparkContext.addSparkListener(stages)
    val wid = spans.newId("workload")
    val t = stream(ctx, Some(spans), wid)
    stages.settle()
    ctx.spark.sparkContext.removeSparkListener(stages)
    spans.add(Span(wid, "", "workload", name, t.t0, t.t1))
    val layers = Workload.batchMetrics(t.steady, t.all, TriggerMs.toDouble) ++ Map(
      "sink.probe_ms" -> Workload.medianOrZero(t.sinkMs),
      "source.lag_ms" -> Workload.medianOrZero(t.lagMs),
      "trace.overhead_pct" ->
        100 * (t.e2e("latency_p50_ms") / plain.e2e("latency_p50_ms") - 1)) ++
      stages.metrics(t.t0, t.t1)
    base.copy(failures = base.failures ++ t.failures, perLayer = layers,
      detail = base.detail ++ Map("traced_e2e" -> t.e2e, "spans" -> spans.all,
        "self_ms_by_kind" -> spans.selfTimeByKind,
        "overhead_basis" -> "latency_p50_ms"))
  }
}

/** `ysb_replay`: the same query fed by the repo's replay source in large
  * fixed batches, closed loop until every row is consumed — the capacity
  * figure, where per-row operator work dominates. */
object YsbReplay extends Workload {
  val name = "ysb_replay"
  val RowsPerBatch = 2000000L
  /** Batches replayed per requested second of measurement. */
  val BatchesPerSecond = 1.0
  private val BaseMs = 1704067200000L // ReplayGen's event-time origin

  def prepare(spark: SparkSession, dataDir: String): Unit = Workload.noop(Gen.campaigns(spark))

  private final case class Run(e2e: Map[String, Double], failures: Seq[String],
      steady: Seq[StreamingQueryProgress], all: Seq[StreamingQueryProgress],
      t0: Double, t1: Double, sinkMs: Seq[Double])

  /** Closed-form YSB output for replay rows [0, total): row i is a view when
    * i % 3 == 0, belongs to campaign (i % 1000) / 10, and falls in 10 s
    * window i / 10000 (rows are 1 ms apart). */
  def expected(total: Long): Map[(Long, String), (Long, Long)] = {
    val out = mutable.Map.empty[(Long, String), (Long, Long)]
    var w = 0L
    while (w * 10000 < total) {
      val lo = w * 10000
      val hi = math.min(total, lo + 10000)
      var c = 0
      while (c < 100) {
        var n = 0L
        var last = -1L
        var k = lo / 1000 * 1000
        while (k < hi) {
          var r = 10 * c
          while (r < 10 * c + 10) {
            val i = k + r
            if (i >= lo && i < hi && i % 3 == 0) { n += 1; last = i }
            r += 1
          }
          k += 1000
        }
        if (n > 0) out(((BaseMs + lo), s"camp$c")) = (n, (BaseMs + last) * 1000L)
        c += 1
      }
      w += 1
    }
    out.toMap
  }

  private def replay(ctx: Ctx, spark: SparkSession, cores: Int, total: Long,
      spans: Option[Spans], parent: String): Run = {
    val ckpt = ctx.freshDir("replay-ckpt")
    val rec = new ProgressRecorder
    spark.streams.addListener(rec)
    val sink = new Streams.Sink(spans)
    val src = spark.readStream.format("graft.sources.ReplaySourceProvider")
      .option("totalRows", total.toString)
      .option("rowsPerBatch", RowsPerBatch.toString)
      .option("numPartitions", cores.toString).load()
    val t0 = Clock.nowMs
    val q = Streams.ysb(spark, src).writeStream.outputMode("update")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, id: Long) => sink.accept(df, id) }
      .start()
    val deadline = System.currentTimeMillis() + 150000
    while (rec.of(q.id).map(_.numInputRows).sum < total &&
        System.currentTimeMillis() < deadline && q.isActive) Thread.sleep(10)
    q.stop()
    ctx.heap.sample()
    Option(q.lastProgress).foreach(p => rec.awaitBatch(q.id, p.batchId))
    spark.streams.removeListener(rec)
    val t1 = Clock.nowMs
    val all = rec.of(q.id)
    val data = all.filter(_.numInputRows > 0)
    val failures = mutable.ArrayBuffer.empty[String]
    val consumed = all.map(_.numInputRows).sum
    if (consumed != total) failures += s"consumed $consumed of $total replay rows"
    val got = Streams.finals(sink, all.map(_.batchId).toSet)
    val want = expected(total)
    if (got != want) {
      val bad = (want.keySet ++ got.keySet).filter(k => got.get(k) != want.get(k))
      failures += s"${bad.size} window counts differ from the closed form, e.g. " +
        bad.take(3).map(k => s"$k: ${got.get(k)} vs ${want.get(k)}").mkString("; ")
    }
    val steady = data.drop(1)
    val emitted = sink.byBatch
    // closed loop: every row is offered when the query starts, so a row's
    // latency is its batch's emission time minus the query's start
    val rowsLat = data.flatMap(p => emitted.get(p.batchId)
      .map(e => (e.emitMs - t0, p.numInputRows.toDouble)))
    def wp(p: Double): Double = {
      if (rowsLat.isEmpty) return 0.0
      val s = rowsLat.sortBy(_._1)
      val target = p * s.map(_._2).sum
      var acc = 0.0
      s.find { case (_, w) => acc += w; acc >= target }.get._1
    }
    val lastEmit = data.lastOption.flatMap(p => emitted.get(p.batchId)).map(_.emitMs)
      .getOrElse(t1)
    // capacity: the median over steady batches of a batch's rows over the
    // time since the previous batch's emission (one full batch cycle), so a
    // burst of outside load that slows a few batches does not move it
    val rates = data.sliding(2).flatMap {
      case Seq(a, b) => for (ea <- emitted.get(a.batchId); eb <- emitted.get(b.batchId))
        yield b.numInputRows / ((eb.emitMs - ea.emitMs) / 1000)
      case _ => None
    }.toSeq
    val e2e = Map(
      "events_per_s" -> (if (rates.isEmpty) 0.0 else Stats.median(rates)),
      "latency_p50_ms" -> wp(0.5),
      "latency_p99_ms" -> wp(0.99),
      "wall_s" -> (lastEmit - t0) / 1000)
    spans.foreach(sp => Workload.batchSpans(sp, parent, all))
    Run(e2e, failures.toSeq, steady, all, t0, t1,
      spans.map(Workload.sinkSelfMs).getOrElse(Nil))
  }

  /** Prefix pipelines of the batch query over the same generator, each
    * forced through the noop sink: the difference between consecutive
    * prefixes is the cost of the operator that extends it. */
  private def prefixes(ctx: Ctx, spans: Spans, parent: String): Map[String, Double] = {
    val spark = ctx.spark
    val n = 4000000L
    val gen = Gen.boundedEvents(spark, n, partitions = ctx.cores)
    val filtered = Ysb.filterViews(gen)
    val projected = Ysb.projectAdTime(filtered)
    val joined = Ysb.enrichCampaign(projected, Gen.campaigns(spark))
    val windowed = Ysb.windowedCounts(joined, "10 seconds")
    val steps = Seq("gen" -> gen, "filter" -> filtered, "project" -> projected,
      "join" -> joined, "window" -> windowed)
    val times = steps.map { case (k, df) =>
      Workload.noop(df)
      Stats.median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spans.around(spark, parent, "ysb", k)(Workload.noop(df))
        Workload.secs(t0)
      })
    }
    steps.map(_._1).zip(times).zipWithIndex.map { case ((k, t), i) =>
      s"ysb.${k}_s" -> (if (i == 0) t else t - times(i - 1))
    }.toMap
  }

  def run(ctx: Ctx, traced: Boolean): Outcome = {
    val total = RowsPerBatch * math.max(4L, math.round(ctx.seconds * BatchesPerSecond))
    // JIT and code generation for the streaming plan, outside the measurement
    val warm = replay(ctx, ctx.spark, ctx.cores, 2 * RowsPerBatch, None, "")
    val plain = replay(ctx, ctx.spark, ctx.cores, total, None, "")
    val attempted = (warm.all ++ plain.all).count(_.numInputRows > 0).toLong + 2
    val base = Outcome(attempted, warm.failures ++ plain.failures, plain.e2e,
      detail = Map("total_rows" -> total, "rows_per_batch" -> RowsPerBatch,
        "batches" -> Workload.batchDetail(plain.all), "latency_samples" -> total,
        "steady_batches" -> plain.steady.size, "seed_invariant" -> true))
    if (!traced) return base
    val spans = new Spans
    val stages = new StageCollector(Some(spans))
    val sc = ctx.spark.sparkContext
    sc.addSparkListener(stages)
    val wid = spans.newId("workload")
    val t = replay(ctx, ctx.spark, ctx.cores, total, Some(spans), wid)
    stages.settle()
    sc.removeSparkListener(stages)
    spans.add(Span(wid, "", "workload", name, t.t0, t.t1))
    val stageMetrics = stages.metrics(t.t0, t.t1)
    val pid = spans.newId("workload")
    val p0 = Clock.nowMs
    val ysbLayers = prefixes(ctx, spans, pid)
    spans.add(Span(pid, "", "workload", "ysb prefixes", p0, Clock.nowMs))
    // single-core baseline: the same replay on a local[1] session
    ctx.spark.stop()
    val one = GraftSession.local("perfbench-1core", "1")
    one.sparkContext.setLogLevel("ERROR")
    replay(ctx, one, 1, RowsPerBatch, None, "")
    val single = replay(ctx, one, 1, 3 * RowsPerBatch, None, "")
    // overhead on the capacity, a median over batches: traced time per row
    // over untraced time per row
    val layers = Workload.batchMetrics(t.steady, t.all, YsbOpen.TriggerMs.toDouble) ++
      Map("sink.probe_ms" -> Workload.medianOrZero(t.sinkMs),
        "scaling.events_per_s_1core" -> single.e2e("events_per_s"),
        "trace.overhead_pct" ->
          100 * (plain.e2e("events_per_s") / t.e2e("events_per_s") - 1)) ++
      ysbLayers ++ stageMetrics
    base.copy(attempted = base.attempted + (t.all ++ single.all).count(_.numInputRows > 0) + 2,
      failures = base.failures ++ t.failures ++ single.failures, perLayer = layers,
      detail = base.detail ++ Map("traced_e2e" -> t.e2e, "spans" -> spans.all,
        "self_ms_by_kind" -> spans.selfTimeByKind, "overhead_basis" -> "events_per_s",
        "single_core_e2e" -> single.e2e))
  }
}

/** `gates_read`: the headline batch gates forced through the noop sink.
  * The gate list is fixed here (not read from the registry's headline flag)
  * so a registry edit cannot silently change what the workload measures;
  * the seed sets the order. */
object GatesRead extends Workload {
  val name = "gates_read"
  val gates: Seq[String] = Seq(
    "q01_pricing_summary", "q02_filter_project", "q03_broadcast_join",
    "q04_star_join", "q10_window_rank", "qw01_tumbling_window",
    "qw03_session_window", "qysb01_synthetic", "qysb02_events",
    "qd02_minhash_sigs", "qd03_minhash_lsh_pairs", "qs01_knn_brute",
    "qs02_ann_lsh", "qt01_token_stats")
  /** The persisted-store gates, checked and timed in the traced run only. */
  val StoreGates: Seq[String] = Seq("qd18_persisted_ingest_dedup", "qst44_stream_store_ingest")

  def prepare(spark: SparkSession, dataDir: String): Unit =
    Workload.noop(spark.range(0, 1000, 1, 1).toDF())

  private final case class Passes(perGate: Map[String, Seq[Double]],
      passWall: Seq[Double], rowsPerS: Seq[Double], failures: Seq[String],
      attempted: Long, t0: Double, t1: Double)

  /** Runs each gate once and writes its result where run.py compares it
    * with the gate's oracle SQL after the JVM exits. This is also the
    * warm-up that lets code generation and caches settle. With `spans` set
    * each run is traced, and its time returned. */
  private def checkRun(ctx: Ctx, gs: Seq[String], oracles: mutable.Map[String, String],
      spans: Option[Spans] = None, parent: String = ""): (Seq[String], Map[String, Double]) = {
    val checkDir = Paths.get(ctx.workDir, "check")
    Files.createDirectories(checkDir)
    val sql = SparkEntry.oracleSqlFor(ctx.dataDir)
    val times = mutable.Map.empty[String, Double]
    val failures = gs.flatMap { g =>
      oracles(g) = sql.getOrElse(g, "")
      def body(): Unit = Registry.byName(g).run(ctx.spark, ctx.dataDir).write
        .mode("overwrite").parquet(checkDir.resolve(g).toString)
      val t0 = System.nanoTime()
      try {
        spans match {
          case Some(sp) => sp.around(ctx.spark, parent, "gate", g)(body())
          case None => body()
        }
        times(g) = Workload.secs(t0)
        None
      } catch { case e: Throwable => Some(s"$g check run: ${e.getMessage}") }
    }
    Files.write(checkDir.resolve("oracle.json"), Json(oracles).getBytes(StandardCharsets.UTF_8))
    ctx.heap.sample()
    (failures, times.toMap)
  }

  /** Timed passes over `order`, each gate forced through the noop sink:
    * at least `minPasses`, and another while the time left of `seconds`
    * still holds a pass as long as the last one. */
  private def passes(ctx: Ctx, order: Seq[String], minPasses: Int,
      spans: Option[Spans], parent: String): Passes = {
    val spark = ctx.spark
    val rows = new StageCollector(None)
    spark.sparkContext.addSparkListener(rows)
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val walls, rates = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    val t0 = Clock.nowMs
    val stopAt = System.nanoTime() + ctx.seconds * 1000000000L
    var pass = 0
    var last = 0L
    while (pass < minPasses || System.nanoTime() + last < stopAt) {
      val p0 = System.nanoTime()
      pass += 1
      rows.settle()
      val r0 = rows.inputRecords.get
      var wall = 0.0
      order.foreach { g =>
        attempted += 1
        val q = Registry.byName(g)
        val s0 = System.nanoTime()
        try {
          def body(): Unit = Workload.noop(q.run(spark, ctx.dataDir))
          spans match {
            case Some(sp) => sp.around(spark, parent, "gate", g)(body())
            case None => body()
          }
          val t = Workload.secs(s0)
          times.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += t
          wall += t
        } catch {
          case e: Throwable =>
            failures += s"$g pass $pass: ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
      }
      rows.settle()
      walls += wall
      if (wall > 0) rates += (rows.inputRecords.get - r0) / wall
      last = System.nanoTime() - p0
    }
    ctx.heap.sample()
    spark.sparkContext.removeSparkListener(rows)
    Passes(times.map { case (k, v) => k -> v.toSeq }.toMap, walls.toSeq, rates.toSeq,
      failures.toSeq, attempted, t0, Clock.nowMs)
  }

  /** Each gate's best time over the passes (the first timed passes are
    * still warming up, and a burst of outside load slows one pass, not all):
    * wall_s sums them, events_per_s is the fastest pass's read rate, and the
    * latency pair summarises the per-gate times (14 samples support no true
    * p99, so the p99 slot holds the slowest gate). */
  private def e2e(p: Passes): Map[String, Double] = {
    val best = p.perGate.values.map(_.min).toSeq
    if (best.isEmpty || p.rowsPerS.isEmpty) return Map.empty
    Map("wall_s" -> best.sum,
      "events_per_s" -> p.rowsPerS.max,
      "latency_p50_ms" -> 1000 * Stats.median(best),
      "latency_p99_ms" -> 1000 * Stats.percentile(best, 0.99)._1)
  }

  def run(ctx: Ctx, traced: Boolean): Outcome = {
    val spark = ctx.spark
    val order = new scala.util.Random(ctx.seed).shuffle(gates)
    val oracles = mutable.Map.empty[String, String]
    val (checkFailures, _) = checkRun(ctx, order, oracles)
    // a traced run times two untraced passes, not three, to stay within
    // its time limit with the store gates and the traced passes after them
    val plain = passes(ctx, order, if (traced) 2 else 3, None, "")
    val m = e2e(plain)
    val base = Outcome(plain.attempted + order.size, checkFailures ++ plain.failures, m,
      detail = Map("order" -> order, "passes" -> plain.passWall.size,
        "latency_samples" -> plain.perGate.size,
        "pass_wall_s" -> plain.passWall, "gate_s" -> plain.perGate))
    if (!traced || m.isEmpty) return base

    // two traced passes, compared with the two untraced ones
    val spans = new Spans
    val stages = new StageCollector(Some(spans))
    spark.sparkContext.addSparkListener(stages)
    val wid = spans.newId("workload")
    val t = passes(ctx.copy(seconds = 0), order, 2, Some(spans), wid)
    stages.settle()
    spark.sparkContext.removeSparkListener(stages)
    spans.add(Span(wid, "", "workload", name, t.t0, t.t1))
    val tm = e2e(t)
    // each table scanned on its own through the noop sink
    val sid = spans.newId("workload")
    val s0 = Clock.nowMs
    val scans = Tables.all.map { tbl =>
      val df = if (tbl == "events") Tables.events(spark, ctx.dataDir)
        else Tables.load(spark, ctx.dataDir, tbl)
      Workload.noop(df)
      s"scan.${tbl}_s" -> Stats.median((1 to 3).map { _ =>
        val a = System.nanoTime()
        spans.around(spark, sid, "scan", tbl)(Workload.noop(df))
        Workload.secs(a)
      })
    }
    spans.add(Span(sid, "", "workload", "table scans", s0, Clock.nowMs))
    // the persisted-store gates: one traced run each, cold, which also
    // writes the result for the oracle check (a warm second run would not
    // fit the traced run's time limit)
    val writes = new StageCollector(Some(spans))
    spark.sparkContext.addSparkListener(writes)
    val stid = spans.newId("workload")
    val st0 = Clock.nowMs
    val (storeFailures, storeTimes) = checkRun(ctx, StoreGates, oracles, Some(spans), stid)
    writes.settle()
    spark.sparkContext.removeSparkListener(writes)
    spans.add(Span(stid, "", "workload", "store gates", st0, Clock.nowMs))
    val gateLayers = t.perGate.map { case (g, ts) => s"gate.${g}_s" -> ts.min } ++
      storeTimes.map { case (g, v) => s"gate.${g}_s" -> v }
    val overhead = if (tm.isEmpty) Map.empty[String, Double]
      else Map("trace.overhead_pct" -> 100 * (tm("wall_s") / m("wall_s") - 1))
    base.copy(
      attempted = base.attempted + t.attempted + StoreGates.size,
      failures = base.failures ++ t.failures ++ storeFailures,
      perLayer = gateLayers ++ scans ++ stages.metrics(t.t0, t.t1) ++ overhead ++ Map(
        "store.output_bytes" -> writes.outBytes.get.toDouble,
        "store.output_records" -> writes.outRecords.get.toDouble),
      detail = base.detail ++ Map("traced_e2e" -> tm, "spans" -> spans.all,
        "self_ms_by_kind" -> spans.selfTimeByKind, "overhead_basis" -> "wall_s"))
  }
}
