package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.hdfs.HdfsConfiguration
import org.apache.hadoop.mapred.JobConf
import org.apache.spark.sql.SparkSession

import graft.fs.{NioLocalFileSystem, NioLocalFs}

/** Session factory with the engine's scale-appropriate defaults, shared by
  * every main (Verify / Bench / PlanCensus / Explain / Tiers), the test
  * session and perfbench. The mains size it with [[cores]].
  *
  * Local mode sizes `shuffle.partitions` to the core count (local[4] → 4,
  * not Spark's default 200: at small SF, 200 near-empty shuffle
  * partitions cost more scheduling than they buy in parallelism). On a
  * real cluster the same knob should be ~2–3× total executor cores, or
  * left to AQE coalescing — see README "Running at 100 TB".
  *
  * AQE stays on everywhere: runtime partition coalescing, skew-join
  * splitting, and dynamic join-strategy switches are exactly the safety
  * nets a 100 TB run needs, and they cost nothing at test SF.
  *
  * `file:` paths go through [[graft.fs.RawNioFileSystem]] under both
  * Hadoop file APIs: without libhadoop, Hadoop's own local file system
  * forks `chmod` for every file and directory it creates and `readlink`
  * for every `FileContext` rename. `FileSystem` (parquet, the persisted
  * stores) stays checksummed; `FileContext` (Spark's streaming
  * checkpoints) stays raw, so checkpoints carry no Hadoop `.crc`.
  *
  * Spark's compiled-class cache (`spark.sql.codegen.cache.maxEntries`,
  * least-recently-used, Spark's default 100) holds [[CodegenCacheEntries]]
  * generated classes. The size comes from a census of distinct generated
  * classes (Janino compiles, `CodegenMetrics`, with the cache unbounded;
  * sf0.01, `local[4]`):
  *  - perfbench `gates_read`: ~168 over the 14 headline gates, the same
  *    set for its parquet check pass and its noop timed passes. Each pass
  *    walks the whole set in a cycle, so under 100 entries every pass
  *    missed on every class: 166 compiles and 0.8-1.0 s of compiling per
  *    2.5-3.6 s pass, against 0 compiles and 1.4-1.8 s passes at 400.
  *  - BENCH_ALL: 2,207 over 163 gates. A gate's two passes run back to
  *    back, so the set cycled is one gate's, at most 137 (qd18, which
  *    under 100 entries recompiled ~210 classes in each pass). A run
  *    compiles 3,490 classes at 100 (483 in second passes), 2,422 at 400
  *    (50) and 2,207 unbounded (61: code that is new on every run).
  *  - the stream suite: 1,771 over 44 gates, at most 71 per gate
  *    (qst44); 630 are new code on every run, which no cache size keeps.
  * 400 is the smallest round size with about 2× headroom over the largest
  * cycled set (168); the headroom also covers Guava splitting the cache
  * into four LRU segments (its default concurrency level). Each entry
  * keeps ~29 KB of heap and ~3.5 KB of metaspace alive (after a full GC:
  * 168 cached gate classes against a cache of one);
  * small single-projection classes keep ~22 KB and ~5 KB. A long-running
  * stream whose plans generate new code every batch (YSB's state-eviction
  * predicate) fills the cache to the cap, so the cap's worst case is
  * ~400 × 35 KB ≈ 14 MB. It is a static conf: the code generator sizes
  * its cache once per JVM, when it first loads, so the first session in a
  * JVM fixes it (`SessionSiteSpec` keeps every session built here).
  *
  * Hadoop configuration: Spark copies `sparkContext.hadoopConfiguration`
  * into every parquet scan and every state-store RDD (two per `ysb_open`
  * trigger), Java-serializes the copy and broadcasts it. Loaded from
  * `core-`, `mapred-` and `yarn-default.xml`, that conf holds 1,097 keys,
  * 1,070 of them only from those files, and serializes to 112,900 bytes
  * (`local[4]`, after a parquet read). [[trimHadoopConf]] unsets those
  * 1,070. Programmatic keys, the keys Spark sets from `spark.hadoop.*`
  * (`fs.file.impl` above) and `*-site.xml` keys stay: 27 keys and 4,608
  * bytes are left (`HadoopConfSpec` bounds both after parquet,
  * streaming-state and persisted-store work). No default is kept back for
  * a reader: Tier-1 and `graft.Verify` at sf0.01 and sf0.1 pass on the
  * trimmed conf, every Hadoop reader they run falling back to its code
  * default. A default resource added later would reload every conf and
  * restore the defaults, so the trim first loads `JobConf` (it adds the
  * `mapred` and `yarn` resources) and `HdfsConfiguration` (the `hdfs`
  * ones, otherwise added when the `FileSystem` service loader first meets
  * `DistributedFileSystem`, at the first file-system lookup). perfbench
  * `ysb_open` p50 went from 125.6 to 111.3 ms with the trim (10
  * interleaved pairs, 4-vCPU VM).
  */
object GraftSession {

  /** The `local[N]` cores of every main: `SPARK_GRAFT_CPUS`, else the
    * host's processor count. */
  def cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** Entries of Spark's compiled-class cache; derivation above. */
  val CodegenCacheEntries = 400

  /** The settings every session of the engine starts from. */
  private def settings(cores: String, aqe: Boolean): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores,
    "spark.sql.adaptive.enabled" -> aqe.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.warehouse.dir" ->
      (sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-warehouse"),
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** A `local[cores]` session carrying [[settings]], then `conf`, with its
    * Hadoop conf trimmed. The engine's only way to a session. */
  def local(appName: String, cores: String, aqe: Boolean = true,
      conf: Seq[(String, String)] = Nil): SparkSession = {
    val spark = (settings(cores, aqe) ++ conf).foldLeft(
      SparkSession.builder().master(s"local[$cores]").appName(appName)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    trimHadoopConf(spark.sparkContext.hadoopConfiguration)
    spark
  }

  /** Unsets every key of `conf` that only `*-default.xml` resources set;
    * see the class doc. */
  private[graft] def trimHadoopConf(conf: Configuration): Unit = {
    // both register default resources once per JVM, on first load
    Class.forName(classOf[JobConf].getName)
    HdfsConfiguration.init()
    conf.iterator().asScala.map(_.getKey).filter { k =>
      val sources = conf.getPropertySources(k)
      sources != null && sources.forall(_.endsWith("-default.xml"))
    }.toList.foreach(conf.unset)
  }
}
