package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run in one JVM:
  *
  * {{{
  * Main --workload ysb_open --seed 1 --seconds 10 --trace 0 --cores 4
  *      --data <table dir> --work <scratch dir> --result <json path>
  * }}}
  *
  * Sets up `SetupReps` times (fresh `local[cores]` session plus the
  * workload's preparation) and keeps the last session, takes one
  * calibration probe, runs the workload and writes the result JSON. The
  * caller (run.py) adds the oracle checks and the metrics' units, and
  * prints the contract line.
  */
object Main {
  val SetupReps = 3

  /** Fixed-cost CPU + shuffle job at the run's own core count; recorded
    * beside the result as the machine-state reading, never gated on. */
  def calibrate(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1L << 18, 1, cores).selectExpr("id % 100003 as k")
      .groupBy("k").count().agg(org.apache.spark.sql.functions.sum("count"))
      .collect()
    Workload.secs(t0)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val w = Workload.byName(opt("workload"))
    val cores = opt("cores").toInt
    val traced = opt("trace") == "1"
    val heap = new HeapPeak

    val setups = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      val s = GraftSession.local("perfbench", cores.toString)
      s.sparkContext.setLogLevel("ERROR")
      w.prepare(s, opt("data"))
      val t = Workload.secs(t0)
      if (i < SetupReps) s.stop()
      t
    }
    val spark = SparkSession.active
    heap.sample()
    val cal = calibrate(spark, cores)

    val ctx = Ctx(spark, cores, opt("seed").toLong, opt("seconds").toInt,
      opt("data"), opt("work"), heap)
    val r0 = System.nanoTime()
    val out = try w.run(ctx, traced) catch {
      case e: Throwable =>
        e.printStackTrace()
        Outcome(1, Seq(s"${e.getClass.getName}: ${e.getMessage}"), Map.empty)
    }
    val result = Map(
      "workload" -> w.name,
      "seed" -> ctx.seed,
      "seconds" -> ctx.seconds,
      "trace" -> traced,
      "cores" -> cores,
      "attempted" -> out.attempted,
      "failures" -> out.failures,
      "setup_s_samples" -> setups,
      "calibration_s" -> cal,
      "workload_s" -> Workload.secs(r0),
      "end_to_end" -> (out.e2e ++ Map("setup_s" -> Stats.median(setups),
        "heap_live_peak_mb" -> heap.peak)),
      "per_layer" -> (if (traced) out.perLayer else Map.empty),
      "detail" -> out.detail)
    Files.write(Paths.get(opt("result")), Json(result).getBytes(StandardCharsets.UTF_8))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
