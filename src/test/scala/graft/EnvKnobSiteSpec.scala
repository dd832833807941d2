package graft

/** Env-knob census for library code: a `SPARK_GRAFT_*` environment read
  * inside an operator changes a shipped plan or store layout without the
  * change showing in any call site, so each one must earn its place. Every
  * env read (and every line naming a `SPARK_GRAFT_` variable) under
  * operators/ext/streaming/ysb/sinks/functions/sources must be listed
  * below with the reason it stays a knob rather than a constant. The
  * measurement mains at the top of the package read their own run
  * settings and are out of scope. A probe that needs a different value
  * passes it as a parameter; a knob with no deployment reason becomes a
  * constant.
  */
class EnvKnobSiteSpec extends SiteLint {

  /** (file, trimmed line) -> (expected occurrences, why it stays a knob). */
  private val manifest: Map[(String, String), (Int, String)] = Map(
    ("streaming/FingerprintStore.scala", """sys.env.get("SPARK_GRAFT_SCREEN_PART_ROWS").map(_.toLong)""") ->
      (1, "store fanout sizing: rows per partition is a deployment choice " +
        "(file-system page size vs task count); ScreenCurve sweeps it"),
    ("streaming/FingerprintStore.scala", """sys.env.get("SPARK_GRAFT_SCREEN_FANOUT_MAX").map(_.toInt).getOrElse(4096)""") ->
      (1, "fanout clamp: ScreenCurve lowers it to reach the beyond-clamp " +
        "regime at test scale"),
    ("streaming/FingerprintStore.scala", """sys.env.get("SPARK_GRAFT_SCREEN_PUSHDOWN_CAP").map(_.toInt).getOrElse(32768)""") ->
      (1, "h-IN pushdown cap: bounded by the deployment's plan-size budget; " +
        "ScreenCurve A/Bs the lever (0 disables)"),
    ("streaming/FingerprintStore.scala", """sys.env.get("SPARK_GRAFT_SCREEN_COMPACT_EVERY").map(_.toInt).getOrElse(8)""") ->
      (1, "compaction cadence: the write-amplification vs file-count trade " +
        "a deployment tunes; ScreenIngestCurve sets it past the batch count"))

  test("every SPARK_GRAFT_* env read in library code is classified") {
    val found = scan(libraryRoots) { l =>
      l.contains("SPARK_GRAFT_") || l.contains("sys.env") || l.contains("getenv")
    }
    assertClassified(found, manifest, "env-knob", "make it a constant, or " +
      "add it to the manifest with the reason a deployment would turn it")
  }
}
