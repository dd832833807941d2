package graft

/** Env-knob census for library code: a `SPARK_GRAFT_*` environment read
  * inside an operator changes a shipped plan or store layout without the
  * change showing in any call site, so each one must earn its place. Every
  * env read (and every line naming a `SPARK_GRAFT_` variable) under
  * operators/ext/streaming/ysb/sinks/functions/sources/store/fs must be listed
  * below with the reason it stays a knob rather than a constant. The
  * measurement mains at the top of the package read their own run
  * settings and are out of scope. A probe that needs a different value
  * passes it as a parameter; a knob with no deployment reason becomes a
  * constant.
  */
class EnvKnobSiteSpec extends SiteLint {

  /** (file, trimmed line) -> (expected occurrences, why it stays a knob). */
  private val manifest: Map[(String, String), (Int, String)] = Map()

  test("every SPARK_GRAFT_* env read in library code is classified") {
    val found = scan(libraryRoots) { l =>
      l.contains("SPARK_GRAFT_") || l.contains("sys.env") || l.contains("getenv")
    }
    assertClassified(found, manifest, "env-knob", "make it a constant, or " +
      "add it to the manifest with the reason a deployment would turn it")
  }
}
