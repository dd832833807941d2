package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** Spark's compiled-class cache holds the engine's working set of
  * generated classes: a set of more than Spark's default 100 entries,
  * run twice, compiles once. Under the default the second round would
  * recompile every class (the cache evicts least-recently-used, and a
  * cycle through a larger set never hits). */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the session carries the engine's codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a working set of more than 100 generated classes compiles once, then hits the cache") {
    val base = spark.range(0, 4, 1, 1).toDF("id")
    // each projection inlines a different literal, so its classes are its
    // own: two per query (~150 in all), well under the cache's size
    def round(): Unit = (0 until 75).foreach { i =>
      base.select((col("id") * lit(7000003L + i)).as("x"))
        .write.format("noop").mode("overwrite").save()
    }
    val c0 = compiles
    round()
    val c1 = compiles
    assert(c1 - c0 > 100, s"the first round must compile a set larger than Spark's default cache, got ${c1 - c0}")
    round()
    assert(compiles - c1 === 0, "the second round must hit the cache for every class")
  }
}
