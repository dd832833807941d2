package graft.harness

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.ysb.{Gen, Ysb}

/** Benchmark harness (SURVEY §2.10): config knobs H8, trial loop H1/H2,
  * listener-based throughput H3, and a latency metric H4.
  *
  * Latency here is foreachBatch wall-clock at result emission minus
  * max(event_time) per group — the same definition as the reference's
  * Kafka-LogAppendTime variant [SparkYahooRunner.scala:119-145] with the
  * broker timestamp replaced by emission time (no broker in CI; SURVEY §7.4).
  */
final case class YsbConfig(
    recordsPerSecond: Long = 2000000L, // StreamBenchMain.scala:32
    rampUpSeconds: Int = 10,
    runDurationMillis: Long = 100000L,
    numTrials: Int = 3,
    numCampaigns: Int = 100,
    windowLength: String = "10 seconds",
    genParallelism: Int = 32,
    triggerMillis: Long = 1000L,
    watermark: Option[String] = Some("10 seconds"))

/** Aggregates StreamingQueryProgress into a throughput figure (H3 —
  * identical public-API mechanism to the reference's listener
  * [SparkYahooRunner.scala:28-55,98-113]). */
final class ThroughputListener extends StreamingQueryListener {
  private val rows = new java.util.concurrent.atomic.AtomicLong(0)
  @volatile private var firstNs = 0L
  @volatile private var lastNs = 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val n = e.progress.numInputRows
    if (n > 0) {
      val now = System.nanoTime()
      if (firstNs == 0L) firstNs = now
      lastNs = now
      rows.addAndGet(n)
    }
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def totalRows: Long = rows.get()
  def elapsedSec: Double = if (lastNs > firstNs) (lastNs - firstNs) / 1e9 else 0.0
  def throughput: Double = if (elapsedSec > 0) totalRows / elapsedSec else 0.0
}

object YsbStreamingBench {

  /** Latency histogram: 10 ms bucket → sample count. Percentiles computed
    * to bucket resolution; driver memory is bounded by the latency range,
    * not by group cardinality. */
  final case class TrialResult(rows: Long, seconds: Double, throughput: Double,
      latHist: Map[Long, Long])

  private val LatBucketMs = 10L

  /** One streaming trial: rate-source YSB → windowed counts → foreachBatch
    * latency probe, run for `runDurationMillis`. */
  def runTrial(spark: SparkSession, cfg: YsbConfig): TrialResult = {
    val listener = new ThroughputListener
    spark.streams.addListener(listener)
    val hist = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    try {
      val events = Gen.rateStream(spark, cfg.recordsPerSecond,
        cfg.genParallelism, cfg.rampUpSeconds, cfg.numCampaigns)
      val withWm = cfg.watermark.fold(events)(events.withWatermark("event_time", _))
      val counts = Ysb.windowedCounts(
        Ysb.enrichCampaign(Ysb.projectAdTime(Ysb.filterViews(withWm)),
          Gen.campaigns(spark, cfg.numCampaigns)),
        cfg.windowLength)
      val query = counts.writeStream
        .outputMode("update")
        .trigger(Trigger.ProcessingTime(s"${cfg.triggerMillis} milliseconds"))
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // H4 latency definition: per updated (window, campaign) group,
          // emission time − max(event_time) in the group — one sample per
          // group per trigger (the reference's Kafka-LogAppendTime variant
          // with broker timestamp → emission wall clock). Samples are
          // aggregated to a 10 ms histogram ON EXECUTORS, so the collect
          // is bounded by the latency range even when the key space is
          // unbounded (an unaggregated per-group collect would OOM the
          // driver at user-controlled cardinality).
          val emitMs = System.currentTimeMillis()
          batch
            .select(((lit(emitMs) - unix_millis(col("last_update")))
              .cast("long") / LatBucketMs).cast("long").as("bucket"))
            .filter(col("bucket").isNotNull)
            .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
            .collect()
            .foreach(r => hist.merge(r.getLong(0), r.getLong(1), (a, b) => a + b))
        }
        .start()
      query.awaitTermination(cfg.runDurationMillis)
      query.stop()
      import scala.jdk.CollectionConverters._
      TrialResult(listener.totalRows, listener.elapsedSec, listener.throughput,
        hist.asScala.toMap.map { case (k, v) => (k: Long, v: Long) })
    } finally spark.streams.removeListener(listener)
  }

  /** H1 trial loop with System.gc between trials [Benchmark.scala:53-70]. */
  def run(spark: SparkSession, cfg: YsbConfig): Seq[TrialResult] =
    (1 to cfg.numTrials).map { _ =>
      System.gc()
      runTrial(spark, cfg)
    }

  /** Percentile from a merged bucket histogram (bucket midpoint, 10 ms
    * resolution). */
  private[harness] def pct(hist: Map[Long, Long], p: Double): Double = {
    if (hist.isEmpty) return 0.0
    val total = hist.valuesIterator.sum
    val target = math.max(1L, math.ceil(p * total).toLong)
    var seen = 0L
    for ((bucket, n) <- hist.toSeq.sortBy(_._1)) {
      seen += n
      if (seen >= target) return bucket * LatBucketMs + LatBucketMs / 2.0
    }
    hist.keys.max * LatBucketMs + LatBucketMs / 2.0
  }

  private def mergeHists(hs: Seq[Map[Long, Long]]): Map[Long, Long] =
    hs.flatten.groupMapReduce(_._1)(_._2)(_ + _)

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local("graft-ysb-stream-bench", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val cfg = YsbConfig(
      recordsPerSecond = args.headOption.map(_.toLong).getOrElse(2000000L),
      rampUpSeconds = 5,
      runDurationMillis = args.lift(1).map(_.toLong).getOrElse(60000L),
      numTrials = args.lift(2).map(_.toInt).getOrElse(1))
    // Idle-watch + calibration bracket (VERDICT r17 Next #4): the r17
    // YSB artifact recorded p99 10.2 s vs r14's 2.03 at the same rate —
    // ambient bursts land in the latency TAILS (throughput and p50 are
    // burst-robust medians), so the tails need the same clean-window
    // hunt the headline bench got in r17. Same machinery, same artifact
    // fields; the watch probe doubles as calPre when it fired.
    graft.BenchCal.calibrate(spark) // untimed: absorb probe codegen/JIT
    val watch = graft.BenchCal.idleWatch(spark)
    val calPre =
      if (watch.ran) watch.lastProbe else graft.BenchCal.calibrate(spark)
    val trials = run(spark, cfg)
    val calPost = graft.BenchCal.calibrate(spark)
    val degraded =
      math.max(calPre, calPost) > 1.5 * graft.BenchCal.idleRef
    val best = trials.maxBy(_.throughput)
    val lat = mergeHists(trials.map(_.latHist))
    println(
      s"""{"metric":"ysb_stream_throughput","value":${best.throughput},"unit":"rows/sec",""" +
      s""""rows":${best.rows},"seconds":${best.seconds},""" +
      s""""latency_ms":{"p50":${pct(lat, 0.5)},"p95":${pct(lat, 0.95)},"p99":${pct(lat, 0.99)}},""" +
      s""""trials":${trials.size},"target_rps":${cfg.recordsPerSecond},""" +
      s""""calibration":{"pre":$calPre,"post":$calPost,""" +
      s""""idle_ref":${graft.BenchCal.idleRef},""" +
      s""""idle_watch_attempts":${watch.attempts},""" +
      s""""idle_watch_waited_s":${watch.waitedS}},"degraded":$degraded}""")
    spark.stop()
  }
}

/** Latency/throughput trade curve (VERDICT r07 Next #5): the reference's
  * whole purpose is this trade — its hybrid trigger
  * [flink/YahooBenchmark.scala:73-104] exists to move along it — but the
  * harness so far recorded a single operating point (p50 785 ms at 2 M
  * rps, trigger 1 s). This sweep holds the YSB 2 M rps target fixed and
  * varies the TRIGGER INTERVAL (the Structured Streaming knob that sets
  * batch size — the micro-batch analogue of maxOffsetsPerTrigger for the
  * rate source, W5's documented knob): short triggers bound per-result
  * staleness low but pay per-batch fixed cost more often (scheduling,
  * state-store commit, sink round-trip), long triggers amortize that cost
  * into higher sustained throughput at proportionally higher latency.
  * One JSON line per operating point; the table lands in BASELINE.md.
  */
object LatencySweep {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local("graft-latency-sweep", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val rps = args.headOption.map(_.toLong).getOrElse(2000000L)
    val runMs = args.lift(1).map(_.toLong).getOrElse(45000L)
    // 50/100 ms extend the curve below the r08 floor to find the knee —
    // the point where per-batch fixed cost stops amortizing and sustained
    // throughput first drops under the target (VERDICT r08 Next #4).
    // SPARK_GRAFT_SWEEP_TRIGGERS overrides for targeted knee hunts.
    val triggers = sys.env.get("SPARK_GRAFT_SWEEP_TRIGGERS")
      .map(_.split(",").map(_.trim.toLong).toSeq)
      .getOrElse(Seq(50L, 100L, 250L, 500L, 1000L, 2000L, 5000L))
    val rows = triggers.map { t =>
      System.gc()
      val cfg = YsbConfig(recordsPerSecond = rps, rampUpSeconds = 5,
        runDurationMillis = runMs, numTrials = 1, triggerMillis = t)
      val r = YsbStreamingBench.runTrial(spark, cfg)
      val line =
        s"""{"metric":"latency_sweep","trigger_ms":$t,"target_rps":$rps,""" +
        s""""throughput":${r.throughput.toLong},"rows":${r.rows},""" +
        s""""p50_ms":${YsbStreamingBench.pct(r.latHist, 0.5)},""" +
        s""""p95_ms":${YsbStreamingBench.pct(r.latHist, 0.95)},""" +
        s""""p99_ms":${YsbStreamingBench.pct(r.latHist, 0.99)}}"""
      println(line)
      line
    }
    println(s"""{"metric":"latency_sweep_done","points":${rows.size}}""")
    spark.stop()
  }
}

/** Bounded (batch) YSB throughput: generate N events, run the full pipeline,
  * report events/s — comparable to the single-node engines' batch replay
  * numbers (BASELINE.md: StreamBox 2.7M rec/s on 2 cores). */
object YsbBatchBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(50000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local("graft-ysb-batch-bench", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // noop sink, not count(): under count Catalyst may drop the columns the
    // aggregate computes, so the timing would skip part of the pipeline
    def run(rows: Long): Unit = Ysb.query(Gen.boundedEvents(spark, rows), Gen.campaigns(spark))
      .write.format("noop").mode("overwrite").save()
    run(100000L) // warmup
    val t0 = System.nanoTime()
    run(n)
    val sec = (System.nanoTime() - t0) / 1e9
    println(s"""{"metric":"ysb_batch_throughput","value":${n / sec},"unit":"rows/sec","rows":$n,"seconds":$sec}""")
    spark.stop()
  }
}
