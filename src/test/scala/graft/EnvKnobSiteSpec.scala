package graft

/** Env-knob census for library code: a `SPARK_GRAFT_*` environment read
  * inside an operator changes a shipped plan or store layout without the
  * change showing in any call site, so each one must earn its place. Every
  * env read (and every line naming a `SPARK_GRAFT_` variable) under
  * operators/ext/streaming/ysb/sinks/functions/sources/store/fs must be listed
  * below with the reason it stays a knob rather than a constant. The
  * measurement mains at the top of the package read their own run
  * settings; a second manifest lists every `SPARK_GRAFT_*` name read
  * anywhere under src/main, so a new knob in a main fails until it is
  * classified and a removed one shows as a manifest diff. A probe that
  * needs a different value passes it as a parameter; a knob with no
  * deployment reason becomes a constant.
  */
class EnvKnobSiteSpec extends SiteLint {

  /** (file, trimmed line) -> (expected occurrences, why it stays a knob). */
  private val manifest: Map[(String, String), (Int, String)] = Map()

  /** Every `SPARK_GRAFT_*` name read under src/main -> why a run sets it. */
  private val names: Map[String, String] = Map(
    "SPARK_GRAFT_SF_DIR" -> ("the fixture dir or graft.Tiers tier a " +
      "measurement main reads: the one switch between sf0.01, sf0.1 and a grown tier"),
    "SPARK_GRAFT_CPUS" -> "local[N] cores when they should differ from the host's",
    "SPARK_GRAFT_ONLY" -> ("gate subset for Verify, Bench and PlanCensus: " +
      "re-running one gate without the suite"),
    "SPARK_GRAFT_CAL_IDLE_REF" -> "BenchCal's calm probe time on this host")

  test("every SPARK_GRAFT_* name read under src/main is listed with its reason") {
    val name = "SPARK_GRAFT_[A-Z0-9_]+".r
    val found = scan(Seq(root))(_.contains("SPARK_GRAFT_")).keySet
      .flatMap { case (_, l) => name.findAllIn(l) }
    val unlisted = found -- names.keySet
    assert(unlisted.isEmpty, "SPARK_GRAFT_* names with no reason (make the " +
      "value a main argument or a constant, or list it with the reason a run " +
      "sets it):\n  " + unlisted.toSeq.sorted.mkString("\n  "))
    val stale = names.keySet -- found
    assert(stale.isEmpty, "listed names no longer read under src/main:\n  " +
      stale.toSeq.sorted.mkString("\n  "))
  }

  test("every SPARK_GRAFT_* env read in library code is classified") {
    val found = scan(libraryRoots) { l =>
      l.contains("SPARK_GRAFT_") || l.contains("sys.env") || l.contains("getenv")
    }
    assertClassified(found, manifest, "env-knob", "make it a constant, or " +
      "add it to the manifest with the reason a deployment would turn it")
  }
}
