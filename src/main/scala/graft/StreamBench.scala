package graft

/** Per-gate timing for the STREAMING family (VERDICT r18 Next #4): Bench
  * excludes `qst*` by design — their run-to-completion seconds time
  * Structured Streaming machinery (micro-batch planning, state store,
  * watermark bookkeeping), not a batch plan — but excluding them from
  * every artifact left 44 of 209 gates with no timing at all, so a
  * streaming perf regression was invisible to everything except the YSB
  * throughput number.
  *
  * Methodology mirrors Bench exactly: same env contract
  * (SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS), warmup action, BenchCal
  * pre/post calibrations + optional idle-watch, best-of-2 per gate with
  * both passes emitted, ONE JSON line (`"metric":"stream_total"`). The
  * timed region is the gate's `run` (which starts the stream and blocks
  * on processAllAvailable) plus a noop save of the returned memory-sink
  * table — identical to what Verify executes per gate. Each pass runs a
  * fresh streaming query into a fresh memory sink; nothing persists
  * across passes, so pass 2 measures a warm-JVM re-execution, not a
  * cached result.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local("graft-stream-bench", cpus)
    spark.sparkContext.setLogLevel("ERROR")

    try graft.sources.Tables.lineitem(spark, sfDir).limit(1000).count()
    catch { case e: Throwable =>
      System.err.println(s"[stream-bench] warmup failed: ${e.getMessage}") }

    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val gates = Registry.all.filter(_.name.startsWith("qst"))
      .filter(q => only.forall(_.contains(q.name)))

    def calibrate(): Double = BenchCal.calibrate(spark)
    calibrate() // untimed codegen/JIT absorb, same as Bench
    val watch = BenchCal.idleWatch(spark)
    val calPre = if (watch.ran) watch.lastProbe else calibrate()

    val r0 = BenchCal.reading()
    val results = Bench.timeGates(spark, sfDir, gates, "stream-bench")()
    val region = BenchCal.regionFields(spark, r0, BenchCal.reading())
    val calPost = calibrate()

    val calIdleRef = BenchCal.idleRef
    val degraded = math.max(calPre, calPost) > 1.5 * calIdleRef
    println(s"""{"metric":"stream_total",${Bench.timingFields(results)},"calibration":{"pre":$calPre,"post":$calPost,"idle_ref":$calIdleRef,"idle_watch_attempts":${watch.attempts},"idle_watch_waited_s":${watch.waitedS}},$region,"degraded":$degraded,"sf":"$sfDir"}""")
    spark.stop()
  }
}
