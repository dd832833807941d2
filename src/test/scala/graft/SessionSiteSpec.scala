package graft

import java.io.File

/** Session census for all source, main and test: Spark reads some confs
  * once per JVM, from the first session (`spark.sql.codegen.cache.maxEntries`
  * sizes the compiled-class cache when the code generator first loads), so
  * every engine JVM, the forked test JVM included, must build its first
  * session from `GraftSession.settings`, and every session must have its
  * Hadoop conf trimmed (`GraftSession.trimHadoopConf`). A session or
  * context built any other way could miss both. The only builder is
  * `GraftSession.local`; everything else calls it.
  */
class SessionSiteSpec extends SiteLint {

  private val roots = Seq(new File("src/main/scala"), new File("src/test/scala"))

  /** (file, trimmed first line of the chain) -> (expected occurrences,
    * why it may build a session). */
  private val manifest: Map[(String, String), (Int, String)] = Map(
    ("GraftSession.scala", """SparkSession.builder().master(s"local[$cores]").appName(appName)) {""") ->
      (1, "the engine's one session builder: applies GraftSession.settings, trims the Hadoop conf"))

  test("SparkSession.builder appears only in GraftSession") {
    val found = scanChains(roots)(_.contains("Spark")) { chain =>
      // string literals are text, not calls (this spec names the patterns)
      val c = chain.replaceAll("\"\"\".*?\"\"\"", "")
        .replaceAll("\"(\\\\.|[^\"\\\\])*\"", "").replaceAll("\\s", "")
      c.contains("SparkSession.builder") || c.contains("newSparkSession.Builder") ||
        c.contains("newSparkContext(") || c.contains("SparkContext.getOrCreate(")
    }
    assertClassified(found, manifest, "session-builder",
      "build the session with GraftSession.local")
  }
}
