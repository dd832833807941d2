package graft

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** The suites `graft.Bench` times and the fields it prints on their
  * contract line: each argument selects a fixed gate set in registry
  * order; a gate that throws must be named in `failed`, must clear
  * `complete`, and must add nothing to `value` — so a crash can never
  * make the total look faster; and the timed region reports its CPU
  * steal share, its code generation and the size of the session's Hadoop
  * conf, so a working set that outgrows Spark's compiled-class cache, or
  * Hadoop's defaults coming back into the conf, shows in the artifact. */
class BenchContractSpec extends SparkSpec {

  private def contract(results: Seq[(String, Seq[Double])]) =
    new ObjectMapper().readTree("{" + Bench.timingFields(results) + "}")

  private def names(args: String*)(only: String => Boolean): (String, Seq[String]) = {
    val (metric, gates) = Bench.suite(args, only)
    metric -> gates.map(_.name)
  }

  test("each suite selects its gates in registry order, and SPARK_GRAFT_ONLY narrows it") {
    val all = Registry.all.map(_.name)
    val stream = all.filter(_.startsWith("qst"))
    val headline = Registry.all.filter(_.headline).map(_.name)
    val every = (_: String) => true
    assert(headline.size === 14)
    assert(names()(every) === ("headline_total" -> headline))
    assert(names("headline")(every) === ("headline_total" -> headline))
    assert(names("batch")(every) === ("headline_total" ->
      all.filterNot(n => stream.contains(n) ||
        n == "qd05_embedding_dup" || n == "qs01_knn_brute")))
    assert(stream.size === 44)
    assert(names("stream")(every) === ("stream_total" -> stream))
    // the narrowing keeps registry order and drops names outside the suite
    val only = Set("qst09_stream_outer_join", "q02_filter_project",
      "q01_pricing_summary", "qd05_embedding_dup")
    assert(names()(only)._2 === Seq("q01_pricing_summary", "q02_filter_project"))
    assert(names("batch")(only)._2 === Seq("q01_pricing_summary", "q02_filter_project"))
    assert(names("stream")(only)._2 === Seq("qst09_stream_outer_join"))
  }

  test("an unknown suite argument throws with the usage message") {
    for (args <- Seq(Seq("all"), Seq("stream", "batch"), Seq("")))
      assert(intercept[IllegalArgumentException](Bench.suite(args, _ => true))
        .getMessage.contains(Bench.usage))
  }

  test("a throwing gate is listed in failed, clears complete, and adds nothing to value") {
    val ok = Q("ok_gate", (s, _) => s.range(100).toDF("id"), None)
    // one gate throws while building its plan, one only when it executes
    val badPlan = Q("bad_plan_gate", (_, _) => throw new IllegalStateException("boom"), None)
    val badRun = Q("bad_run_gate",
      (s, _) => s.range(1).selectExpr("raise_error('boom') AS x"), None)
    val done = Seq.newBuilder[Int]
    val results = Bench.timeGates(spark, sf, Seq(ok, badPlan, badRun),
      "bench-spec")(done += _)
    assert(done.result() === Seq(1, 2, 3))
    assert(results.map(_._1) === Seq("ok_gate", "bad_plan_gate", "bad_run_gate"))
    assert(results(0)._2.size === 2 && results(0)._2.forall(_ >= 0))
    assert(results(1)._2 === Seq(-1.0) && results(2)._2 === Seq(-1.0))

    val json = contract(results)
    assert(!json.get("complete").asBoolean())
    assert(json.get("failed").elements().asScala.map(_.asText()).toSeq ===
      Seq("bad_plan_gate", "bad_run_gate"))
    assert(json.get("value").asDouble() === results(0)._2.min)
    // the per-gate keys keep their shape: -1.0 marks a failed gate
    assert(json.get("queries").get("bad_run_gate").asDouble() === -1.0)
    assert(json.get("passes").get("ok_gate").size() === 2)
    assert(json.get("unit").asText() === "sec")
  }

  test("a run with no failures is complete and sums every gate's best pass") {
    val json = contract(Seq("a" -> Seq(2.0, 1.5), "b" -> Seq(0.25, 0.5)))
    assert(json.get("complete").asBoolean())
    assert(json.get("failed").size() === 0)
    assert(json.get("value").asDouble() === 1.75)
    assert(BenchCal.stealShare(BenchCal.cpuTimes("cpu  90 5 5 700 9 2 3 10 0 0"),
      BenchCal.cpuTimes("cpu  310 5 25 900 9 2 3 90 0 0")) === 0.25)
  }

  test("the region fields carry the steal share and the codegen compiles and ms") {
    val r0 = BenchCal.reading()
    // the inlined literal is used nowhere else, so this compiles a new class
    spark.range(0, 4, 1, 1).selectExpr("id * 1234567891 AS x")
      .write.format("noop").mode("overwrite").save()
    val json = new ObjectMapper().readTree(
      "{" + BenchCal.regionFields(spark, r0, BenchCal.reading()) + "}")
    assert(json.fieldNames().asScala.toSet === Set("cpu_steal_share",
      "codegen_compiles", "codegen_compile_ms", "hadoop_conf_keys", "hadoop_conf_bytes"))
    assert(json.get("codegen_compiles").asLong() >= 1)
    assert(json.get("codegen_compile_ms").asDouble() > 0)
    assert(json.get("hadoop_conf_keys").asInt() ===
      spark.sessionState.newHadoopConf().size)
    assert(json.get("hadoop_conf_bytes").asInt() > 0)
  }
}
