package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{...}}. Each query is forced
  * through the `noop` sink — FULL row production with no serialization cost.
  * NOT `.count()`: under count, Catalyst legally eliminates work that
  * doesn't change cardinality (a left join whose right key is unique, any
  * pure projection), so count-timing silently measured only the scan for
  * that query class — caught in round 5 when qd11's "2.4 s at 30×" pair
  * join turned out to be an eliminated join (true cost ~38 s; the per-row
  * projections qt11/qt14/qe01/qm02 were similarly under-measured). A
  * warmup action runs first so JIT/codegen setup isn't billed to the first
  * query.
  */
object Bench {

  /** Best-of-2 noop-sink timing of each gate, in order. A gate that throws
    * is logged under `tag` and recorded with the single pass -1.0;
    * `afterGate(i)` runs after the i-th gate (1-based), outside the timed
    * region. */
  private[graft] def timeGates(spark: SparkSession, sfDir: String,
      gates: Seq[Q], tag: String)(afterGate: Int => Unit = _ => ())
      : Seq[(String, Seq[Double])] =
    gates.zipWithIndex.map { case (q, idx) =>
      spark.sparkContext.setJobDescription(s"$tag: ${q.name}")
      def timed(): Double = {
        val t0 = System.nanoTime()
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val passes = try Seq(timed(), timed())
      catch { case e: Throwable =>
        System.err.println(s"[$tag] ${q.name} failed: ${e.getMessage}"); Seq(-1.0) }
      spark.sparkContext.setJobDescription(null)
      afterGate(idx + 1)
      q.name -> passes
    }

  /** The timing fields of a bench contract line. `value` sums the best
    * pass of the gates that ran; `failed` names every gate that threw and
    * `complete` is false when there is one, so a crash never reads as a
    * faster total. `queries`/`passes` keep -1.0 for a failed gate. */
  private[graft] def timingFields(results: Seq[(String, Seq[Double])]): String = {
    val failed = results.collect { case (k, v) if v.exists(_ < 0) => k }
    val total = results.collect { case (_, v) if !v.exists(_ < 0) => v.min }.sum
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v.min }
      .mkString("{", ",", "}")
    val ps = results.map { case (k, v) => "\"" + k + "\":" + v.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    s""""value":$total,"unit":"sec","queries":$qs,"passes":$ps,"failed":$fs,"complete":${failed.isEmpty}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local("graft-bench", cpus)
    spark.sparkContext.setLogLevel("ERROR")

    // warmup: small scan+agg to absorb codegen/JIT/IO-pool startup
    try graft.sources.Tables.lineitem(spark, sfDir).limit(1000).count()
    catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}") }

    // Driver contract times the headline set; SPARK_GRAFT_BENCH_ALL=1 times
    // every gated batch query (local telemetry for finding regressions the
    // 14-query headline set wouldn't surface). The all mode still excludes
    // the streaming run-to-completion queries (they time Structured
    // Streaming machinery, not a batch plan) and the deliberate O(N²)
    // small-SF-only baselines, which must never run above test scale.
    val smallSfOnly = Set("qd05_embedding_dup", "qs01_knn_brute")
    // SPARK_GRAFT_ONLY=qa,qb: restrict to a subset for fast local iteration
    // (Verify/PlanCensus's knob; the driver never sets it — full set there).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val headline =
      (if (sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1"))
        Registry.all.filterNot(q =>
          q.name.startsWith("qst") || smallSfOnly(q.name))
      else Registry.all.filter(_.headline))
        .filter(q => only.forall(_.contains(q.name)))
    // Fixed-cost calibration probe + idle-watch, shared machinery in
    // [[BenchCal]] (factored out r18 so the YSB streaming bench runs the
    // same watch — VERDICT r17 Next #4).
    def calibrate(): Double = BenchCal.calibrate(spark)
    calibrate() // untimed: absorb the probe's own codegen/JIT so pre/post
                // measure machine load, not first-pass warmup
    val watch = BenchCal.idleWatch(spark)
    // When the watch fired, its successful probe IS the pre-calibration:
    // an immediate re-probe would read that probe's own exhaust (probes
    // closer than a refill window interfere — ADVICE r17), so a clean
    // watch hit could yield an inflated calPre and a falsely degraded
    // artifact.
    val calPre = if (watch.ran) watch.lastProbe else calibrate()
    // Best-of-2 per query: a single cold pass bills one-time JVM/codegen/
    // page-cache effects to whichever query hits them first (round-1 driver
    // run measured 23.7 s where warm local runs measured 14.5 s). Two timed
    // passes, keep the faster — still honest end-to-end plan execution. Both
    // pass times are emitted (`passes`) so inter-pass variance is visible in
    // the artifact.
    // Segmented calibration (VERDICT r17 Next #6): the pre/post pair
    // brackets the WHOLE suite, so one mid-run burst taints the whole
    // artifact (r17's BENCH_ALL post-cal hit 7.04 for a 152 s run). A
    // calibration checkpoint every SPARK_GRAFT_CAL_SEGMENT queries
    // (default 40 — never fires on the 14-query headline set) localizes
    // a burst to its segment: per-segment cals land in the artifact, so
    // a degraded segment is attributable while the others stay quotable.
    val segLen = sys.env.get("SPARK_GRAFT_CAL_SEGMENT").map(_.toInt).getOrElse(40)
    val segCals = Seq.newBuilder[(Int, Double)]
    val r0 = BenchCal.reading()
    val results = timeGates(spark, sfDir, headline, "bench") { done =>
      if (done % segLen == 0 && done < headline.size)
        segCals += ((done, calibrate()))
    }
    val region = BenchCal.regionFields(spark, r0, BenchCal.reading())
    // r15 established the throttle mechanism: the query passes themselves
    // drain a host burst budget that refills in ~1–2 min, so an IMMEDIATE
    // post-calibration reads the run's own exhaust, not ambient load
    // (every r15 post-cal was degraded while pre-cals minutes later read
    // clean). An optional cooldown lets one sitting produce both
    // calibrations clean when the box itself is idle; the seconds slept
    // are recorded in the artifact so the gap is disclosed, not hidden
    // (VERDICT r15 #4).
    val cooldownS =
      sys.env.get("SPARK_GRAFT_CAL_COOLDOWN_S").map(_.toInt).getOrElse(0)
    if (cooldownS > 0) Thread.sleep(cooldownS * 1000L)
    val calPost = calibrate()
    // Self-gate (VERDICT r14 Next #3): the probe's idle wall time on this
    // box is ~1.0 s (r11-r13 clean anchors: 1.00-1.07; every throttled r14
    // artifact: 2.15-3.02). If EITHER calibration exceeds 1.5× that idle
    // reference, the artifact stamps itself degraded so downstream tooling
    // never quotes its timings unqualified — the load was present during
    // (post) or before (pre) the query passes either way.
    // calIdleRef is a property of the BOX (idle probe wall time at this
    // core count), not of the engine — overridable via env on different
    // hardware / SPARK_GRAFT_CPUS, and emitted in the JSON so the
    // threshold each artifact was judged against is recorded in it
    // (ADVICE r15).
    val calIdleRef = BenchCal.idleRef
    val degraded = math.max(calPre, calPost) > 1.5 * calIdleRef
    val segs = segCals.result()
      .map { case (after, c) => s"""{"after":$after,"cal":$c}""" }
      .mkString("[", ",", "]")
    println(s"""{"metric":"headline_total",${timingFields(results)},"calibration":{"pre":$calPre,"post":$calPost,"idle_ref":$calIdleRef,"cooldown_s":$cooldownS,"idle_watch_attempts":${watch.attempts},"idle_watch_waited_s":${watch.waitedS},"segments":$segs},$region,"degraded":$degraded,"sf":"$sfDir"}""")
    spark.stop()
  }
}
