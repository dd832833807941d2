package graft

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.SerializableConfiguration

/** Machine-load calibration for the timing main, [[Bench]].
  *
  * The probe is a fixed-cost SF-independent CPU+shuffle job: its wall
  * time depends only on the machine, so on an idle box it is stable
  * run-to-run and an artifact whose calibration reads 2-3× the
  * historical idle value is self-identifying as a loaded-machine run
  * (the round-3 driver artifact showed a phantom 2.2× "regression" an
  * idle rerun could not reproduce — the pre/post fields adjudicate that
  * case without a rerun).
  *
  * Idle watch (VERDICT r16 Next #3): nine manual clean-window attempts
  * failed in r16 — a loop should hunt the window, not a human. Every run
  * probes up to `WatchAttempts` times, `WatchPollS` seconds apart (the
  * host burst budget refills in ~1-2 min, so polling faster reads the
  * probe's OWN exhaust), and fires once a probe reads < 1.15× the idle
  * reference or the attempts run out, so an artifact is always produced
  * and waits at most 2 minutes. The last probe's reading is returned so
  * the caller REUSES it as its pre-calibration instead of probing again
  * immediately — two probes closer than a refill window read each
  * other's exhaust, which would defeat the watch (ADVICE r17). A calm
  * run therefore pays nothing beyond the pre-calibration it always took.
  */
object BenchCal {

  /** Idle reference: a property of the BOX (idle probe wall time at this
    * core count), not of the engine — overridable on different hardware /
    * SPARK_GRAFT_CPUS, and emitted in artifacts so the threshold each was
    * judged against is recorded in it (ADVICE r15). The default, 4.2 s, is
    * the median of seven calm probes on a 4-vCPU VM at SPARK_GRAFT_CPUS=4
    * (`nproc` = 4, one untimed probe first, then one a minute: 4.98, 4.10,
    * 4.16, 4.14, 4.40, 4.20, 4.20 s; CPU steal ≤ 4.3%). */
  val idleRef: Double =
    sys.env.get("SPARK_GRAFT_CAL_IDLE_REF").map(_.toDouble).getOrElse(4.2)

  /** One timed calibration probe. Callers run one UNTIMED probe first so
    * pre/post measure machine load, not the probe's own codegen/JIT. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1L << 24, 1, 32).selectExpr("id % 1000003 as k")
      .groupBy("k").count().agg(org.apache.spark.sql.functions.sum("count"))
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Idle-watch probes at most, and seconds between them: the values
    * every checked-in BENCH_ALL and STREAM_BENCH run row was taken with. */
  private val WatchAttempts = 3
  private val WatchPollS = 60

  /** `(attempts, waitedSeconds, lastProbeSeconds)` of one idle watch. */
  final case class Watch(attempts: Int, waitedS: Long, lastProbe: Double)

  /** Poll until a probe reads < 1.15× idleRef or attempts run out. */
  def idleWatch(spark: SparkSession): Watch = {
    var probe = calibrate(spark)
    var attempts = 1
    var waitedS = 0L
    while (probe >= 1.15 * idleRef && attempts < WatchAttempts) {
      System.err.println(
        f"[bench] idle-watch attempt $attempts: probe $probe%.2f s >= " +
          f"${1.15 * idleRef}%.2f — sleeping $WatchPollS s")
      Thread.sleep(WatchPollS * 1000L)
      waitedS += WatchPollS
      probe = calibrate(spark)
      attempts += 1
    }
    System.err.println(f"[bench] idle-watch: firing after $attempts " +
      f"attempt(s), probe $probe%.2f s")
    Watch(attempts, waitedS, probe)
  }

  /** (busy, steal) jiffies of all processors, from the `cpu` line of
    * /proc/stat: user + nice + system + irq + softirq, and steal — the
    * formula perfbench/run.py uses. (0, 0) where /proc/stat is absent. */
  def cpuTimes(): (Long, Long) = {
    val stat = Paths.get("/proc/stat")
    if (!Files.isReadable(stat)) (0L, 0L)
    else {
      val r = Files.newBufferedReader(stat)
      try cpuTimes(r.readLine()) finally r.close()
    }
  }

  private[graft] def cpuTimes(cpuLine: String): (Long, Long) = {
    val v = cpuLine.trim.split("\\s+").drop(1).map(_.toLong)
    (v(0) + v(1) + v(2) + v(5) + v(6), v(7))
  }

  /** Share of the CPU time between two `cpuTimes` readings that the
    * hypervisor gave to other guests. */
  def stealShare(t0: (Long, Long), t1: (Long, Long)): Double =
    (t1._2 - t0._2).toDouble / math.max(1L, t1._1 - t0._1 + t1._2 - t0._2)

  /** The state a timed region is measured from: `cpuTimes`, and Spark's
    * code generation so far in this JVM, as Janino compiles (each one a
    * miss in Spark's compiled-class cache, `CodegenMetrics`) and their
    * nanoseconds (`CodeGenerator.compileTime`, an exact sum; the metric's
    * histogram only samples the times). */
  final case class Reading(cpu: (Long, Long), compiles: Long, compileNs: Long)

  def reading(): Reading = Reading(cpuTimes(),
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Keys and Java-serialized bytes of the Hadoop conf Spark copies into
    * every parquet scan and state-store RDD of `spark`. */
  def hadoopConfSize(spark: SparkSession): (Int, Int) = {
    val conf = spark.sessionState.newHadoopConf()
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    try out.writeObject(new SerializableConfiguration(conf)) finally out.close()
    (conf.size, bytes.size)
  }

  /** The machine fields of a contract line for the region between two
    * readings: `cpu_steal_share`, `codegen_compiles`, `codegen_compile_ms`,
    * and the session's `hadoop_conf_keys` and `hadoop_conf_bytes` at its
    * end. A working set of generated classes larger than Spark's cache
    * recompiles on every pass, and shows here as compiles; Hadoop's
    * default properties coming back into the session's conf show as
    * ~1,100 keys and ~113 KB. */
  def regionFields(spark: SparkSession, r0: Reading, r1: Reading): String = {
    val (keys, bytes) = hadoopConfSize(spark)
    s""""cpu_steal_share":${stealShare(r0.cpu, r1.cpu)},"codegen_compiles":${r1.compiles - r0.compiles},"codegen_compile_ms":${(r1.compileNs - r0.compileNs) / 1e6},"hadoop_conf_keys":$keys,"hadoop_conf_bytes":$bytes"""
  }
}
