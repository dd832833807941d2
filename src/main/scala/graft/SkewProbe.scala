package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Skewed-JOIN evidence at soak scale (VERDICT r07 Next #2): qx11 gates the
  * Zipf-keyed fact×dim join's semantics; this probe stages it at fact scale
  * — the dim above the broadcast threshold, the hot key owning ~half the
  * probe rows — and measures the three ways the plan can go:
  *
  *   - `aqe_skew`  — the plain declarative join with AQE's
  *     OptimizeSkewedJoin enabled (the qx11 code path at scale). The hot
  *     partition is split into advisory-sized chunks and the single
  *     matching dim row is replicated per chunk; the probe records whether
  *     the final plan actually carries `skew=true` — a plan FACT, not an
  *     argument.
  *   - `no_split`  — the same join with skew-splitting disabled: the
  *     one-straggler-task baseline AQE is rescuing us from.
  *   - `salted`    — the targeted-salting rewrite (the pre-AQE remedy, and
  *     still the only option when the skewed join is NOT a last-stage SMJ
  *     — e.g. under a streaming join or a bucketed layout): dim rows for
  *     the known-hot head are exploded ×S, probe rows of hot keys pick a
  *     deterministic salt (event_id mod S), cold keys salt 0. Only the hot
  *     head pays the replication — full-dim salting would multiply the
  *     entire dim shuffle ×S for keys that never needed it.
  *   - `agg_on_key_no_force` / `agg_on_key_forced` — the same join feeding
  *     an aggregate ON the join key: AQE withholds the split (it would
  *     break the reusable hash-partitioning and force an extra shuffle)
  *     unless spark.sql.adaptive.forceOptimizeSkewedJoin opts into that
  *     trade. Both faces measured — the consumer's distribution
  *     requirement, not just the skew, decides whether AQE can help.
  *
  * Skew thresholds are scaled to the probe corpus (sf0.1 × mult instead of
  * 100 TB): `skewedPartitionThresholdInBytes`/`advisoryPartitionSizeInBytes`
  * are lowered proportionally so the hot partition is over-threshold at
  * probe size exactly as a multi-GB partition is over the 256 MB default
  * at cluster scale. The skewedPartitionFactor×median condition is left at
  * its default — the skew RATIO is scale-invariant and is what's being
  * demonstrated.
  *
  * Run: `sbt "runMain graft.SkewProbe [MULT]"` (default 30) over the
  * events of `SPARK_GRAFT_SF_DIR`; the fact side is exploded ×MULT in
  * memory, so no grown tier is read.
  *
  * Output: one JSON line per variant {variant, sec, skew_marks, rows} plus
  * a summary line; recorded in BASELINE.md.
  */
object SkewProbe {

  private val Domain = 1000000 // hot_key domain; key 1 gets ~half the rows
  private val HotHead = 16     // targeted-salting head: keys 1..16 carry ~94%
  private val Salts = 32

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Per-TASK metrics (VERDICT r08 Next #1): local[32] slack absorbs a
    * straggler at probe scale — 31 idle threads soak up the queue while
    * one chews the hot partition, so WALL-CLOCK stays within noise. The
    * straggler is still there, and on a busy 1000-executor cluster it is
    * the stage's critical path. Max task duration and max per-task
    * shuffle-read bytes make it visible regardless of scheduler slack. */
  private final class TaskMaxListener
      extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    val maxDurMs = new AtomicLong(0)
    val maxShuffleRead = new AtomicLong(0)
    // duration of the task that read the MOST shuffle bytes — the join
    // straggler itself, as opposed to maxDurMs which any stage (e.g. the
    // fact-generation explode) can own
    val stragglerDurMs = new AtomicLong(0)
    val nTasks = new AtomicLong(0)
    def reset(): Unit = {
      maxDurMs.set(0); maxShuffleRead.set(0); stragglerDurMs.set(0)
      nTasks.set(0)
    }
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      nTasks.incrementAndGet()
      if (t.taskInfo != null)
        maxDurMs.accumulateAndGet(t.taskInfo.duration, math.max)
      if (t.taskMetrics != null) {
        val read = t.taskMetrics.shuffleReadMetrics.totalBytesRead
        // (read, duration) must move as a pair: two concurrent onTaskEnd
        // events interleaving a CAS on maxShuffleRead with a separate
        // stragglerDurMs.set could leave the duration of a NON-max task.
        this.synchronized {
          if (read > maxShuffleRead.get()) {
            maxShuffleRead.set(read)
            if (t.taskInfo != null) stragglerDurMs.set(t.taskInfo.duration)
          }
        }
      }
    }
    /** Poll until the async listener bus has drained (counter holds still
      * for 1 s; 30 s backstop). */
    def drain(): Unit = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var last = nTasks.get()
      var stableSince = System.nanoTime()
      while (System.nanoTime() < deadline &&
             System.nanoTime() - stableSince < 1L * 1000 * 1000 * 1000) {
        Thread.sleep(100)
        val cur = nTasks.get()
        if (cur != last) { last = cur; stableSince = System.nanoTime() }
      }
    }
  }

  /** events ×mult via explode (no disk corpus needed — the join's shuffle,
    * not the scan, is under test), Zipf-keyed over the probe domain.
    *
    * The trailing repartition matters to the MECHANISM under test:
    * OptimizeSkewedJoin splits a skewed reduce partition along MAP-output
    * boundaries, so its granularity is the mapper count. The single ~2 MB
    * events file scans as ONE map task — an artifact of the miniature
    * corpus — and a one-mapper hot partition has no boundaries to split
    * (measured: skew split silently never fires). At 100 TB the fact scan
    * has thousands of mappers; the round-robin repartition stands in for
    * that, and every variant (split / no-split / salted) shares its cost. */
  private def fact(s: SparkSession, base: String, mult: Int): DataFrame =
    graft.operators.Scale.zipfKeyed(
      Tables.events(s, base)
        .select(col("event_id"), col("value"))
        .withColumn("copy", explode(expr(s"sequence(0, ${mult - 1})")))
        .withColumn("event_id", col("event_id") * mult + col("copy"))
        .drop("copy"),
      Domain).repartition(32)

  /** One row per key over the full domain with a ~100-byte payload: ~100 MB
    * total — far above the 10 MB broadcast threshold, the "profile dim too
    * big to broadcast" shape that forces the shuffle join at 100 TB. */
  private def dim(s: SparkSession): DataFrame =
    s.range(1, Domain + 1).toDF("hot_key")
      .withColumn("payload", expr("repeat(md5(cast(hot_key as string)), 3)"))

  /** The TERMINAL enrich join — join → write, no downstream operator
    * keyed on hot_key. This is the shape OptimizeSkewedJoin can split:
    * nothing above the join needs its hash-partitioning preserved. */
  private def joined(f: DataFrame, d: DataFrame): DataFrame =
    f.join(d, Seq("hot_key"))
      .select(col("hot_key"), col("event_id"), col("value"), col("payload"))

  /** The same join feeding an aggregate ON THE JOIN KEY: the SMJ's output
    * partitioning is REUSED by the downstream agg, so splitting the hot
    * partition would break a required distribution and AQE withholds the
    * skew split (unless spark.sql.adaptive.forceOptimizeSkewedJoin trades
    * an extra shuffle for it) — the non-obvious scale lesson this probe
    * records alongside the split. */
  private def aggOnKey(f: DataFrame, d: DataFrame): DataFrame =
    f.join(d, Seq("hot_key"))
      .groupBy(col("hot_key"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"),
        max(col("payload")).as("payload"))

  /** Targeted salting: explode only the hot head's dim rows ×Salts; probe
    * rows on hot keys spread over the salts deterministically. */
  private def salted(f: DataFrame, d: DataFrame): DataFrame = {
    val saltedDim = d.withColumn("salt",
      explode(when(col("hot_key") <= HotHead, expr(s"sequence(0, ${Salts - 1})"))
        .otherwise(expr("array(0)"))))
    val saltedFact = f.withColumn("salt",
      when(col("hot_key") <= HotHead, pmod(col("event_id"), lit(Salts)))
        .otherwise(lit(0)).cast("int"))
    saltedFact.join(saltedDim, Seq("hot_key", "salt"))
      .select(col("hot_key"), col("event_id"), col("value"), col("payload"))
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = args.headOption.fold(30)(_.toInt)
    require(mult >= 1, s"MULT must be at least 1, got $mult")
    val spark = GraftSession.local("graft-skew-probe",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")

    // thresholds scaled to probe size (see scaladoc); factor left default
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512k")
    // the 100 TB stand-in premise: NEITHER side fits broadcast (without
    // this the static planner broadcasts the fact side's pruned hot_key
    // projection off its 2 MB scan estimate and the shuffle join — the
    // thing under test — never exists)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    val taskMax = new TaskMaxListener
    spark.sparkContext.addSparkListener(taskMax)

    def run(name: String, df: => DataFrame, skewEnabled: Boolean): Unit = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewEnabled.toString)
      // best-of-2 on FRESH frames (a finalized AdaptiveSparkPlan caches its
      // result stages; re-executing the same Dataset would time a no-op)
      taskMax.reset()
      val warm = df
      val sec1 = timed { warm.queryExecution.toRdd.foreach(_ => ()) }
      val frame = df
      // toRdd.foreach executes the dataset's OWN QueryExecution, so the
      // AdaptiveSparkPlan below is the FINAL runtime plan, not the static one
      val sec = math.min(sec1,
        timed { frame.queryExecution.toRdd.foreach(_ => ()) })
      val plan = frame.queryExecution.executedPlan.toString
      val skewMarks = "skew=true".r.findAllIn(plan).size
      val smj = "SortMergeJoin".r.findAllIn(plan).size
      val skewRead = "skewed".r.findAllIn(plan).size
      // snapshot per-task maxima BEFORE count() pollutes the listener
      taskMax.drain()
      val maxTaskSec = taskMax.maxDurMs.get() / 1e3
      val maxShufMb = taskMax.maxShuffleRead.get() / 1e6
      val stragglerSec = taskMax.stragglerDurMs.get() / 1e3
      val rows = frame.count()
      println(s"""{"metric":"skew_probe","variant":"$name","sec":${f"$sec%.3f"},"max_task_sec":${f"$maxTaskSec%.3f"},"straggler_task_sec":${f"$stragglerSec%.3f"},"max_task_shuffle_read_mb":${f"$maxShufMb%.1f"},"skew_marks":$skewMarks,"smj":$smj,"skew_reads":$skewRead,"rows":$rows}""")
      if (sys.env.get("SPARK_GRAFT_SKEW_DEBUG").contains("1"))
        System.err.println(plan.linesIterator.take(40).mkString("\n"))
    }

    val f = fact(spark, base, mult)
    val d = dim(spark)
    // hot-key mass, so the recorded skew is a corpus fact not an assumption
    val hot = f.filter(col("hot_key") === 1).count()
    val total = f.count()
    println(s"""{"metric":"skew_probe_corpus","mult":$mult,"rows":$total,"hot_key_rows":$hot}""")

    run("aqe_skew", joined(f, d), skewEnabled = true)
    run("no_split", joined(f, d), skewEnabled = false)
    run("salted", salted(f, d), skewEnabled = false)
    run("agg_on_key_no_force", aggOnKey(f, d), skewEnabled = true)
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    run("agg_on_key_forced", aggOnKey(f, d), skewEnabled = true)
    spark.conf.unset("spark.sql.adaptive.forceOptimizeSkewedJoin")
    spark.stop()
  }
}
