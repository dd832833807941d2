package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Every load is `spark.read.schema(schemaOf(path)).parquet(path)`, the
  * same relation a bare `spark.read.parquet` builds, so Catalyst keeps full
  * pushdown/pruning freedom: filters and column selections applied by the
  * query compose into the parquet scan (visible as `PushedFilters` /
  * `ReadSchema` in `.explain`). Data is never cached: at 100 TB a scan
  * cache is wrong by default, callers broadcast/cache small dims
  * explicitly, and Spark lists the files afresh on every load. Only the
  * schema is memoized: a bare `spark.read.parquet` runs a schema-inference
  * job (a footer read) on every load, ~0.1 s of fixed cost per table per
  * gate, and here it runs once per file version. See [[schemaOf]].
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** Memoized schemas, least recently used first. */
  private val schemas = new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[SchemaKey, StructType]): Boolean =
      size > 256
  }

  /** A file version ([[fileVersion]]) plus the session's parquet read
    * confs, which shape the inferred types (`nanosAsLong` turns a
    * TIMESTAMP(NANOS) column into a long). */
  private case class SchemaKey(files: Seq[(String, Long, Long)], conf: Seq[(String, String)])

  /** The schema `spark.read.parquet(path)` infers, inferred once per file
    * version. The version read on each call keys it, so a rewritten
    * table is re-inferred, never served stale; an entry is kept only when
    * the version read before the inference still holds after it. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    def version(): SchemaKey =
      SchemaKey(fileVersion(spark, path), spark.conf.getAll.toSeq.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      }.sorted)
    val key = version()
    schemas.synchronized(Option(schemas.get(key))).getOrElse {
      val schema = spark.read.parquet(path).schema
      if (version() == key) schemas.synchronized(schemas.put(key, schema))
      schema
    }
  }

  /** The version of `path`: (qualified path, length, modification time)
    * of the file, or of every leaf file under the directory. */
  def fileVersion(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val leaves =
      if (!st.isDirectory) Seq(st)
      else {
        val it = fs.listFiles(st.getPath, true)
        val b = Seq.newBuilder[FileStatus]
        while (it.hasNext) b += it.next()
        b.result()
      }
    leaves.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet has stored `ts` as INT64 TIMESTAMP(NANOS) (read as a
    * long, see [[graft.GraftSession]], and truncated to microseconds,
    * DuckDB's own coercion) and, in later driver generations, as
    * timestamp[us] WITHOUT timezone (Spark's TIMESTAMP_NTZ — unusable for
    * event-time watermarks and unix_* functions). Both forms normalize to
    * plain TimestampType; the session timezone is pinned UTC
    * (GraftSession), so the NTZ cast is value-identical to DuckDB's naive
    * reading. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEvents(load(s, d, "events"))

  /** Coerce the `ts` column to TimestampType (micros) from whichever
    * physical form the driver generated (nanos-as-long or TIMESTAMP_NTZ).
    * Every read of the events table goes through [[events]]; the streaming
    * replay slices its output. */
  private def normalizeEvents(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // the NTZ→TimestampType cast interprets the naive value in the
        // SESSION timezone; only UTC reproduces DuckDB's naive reading. A
        // non-UTC session (one not built via GraftSession) would silently
        // shift every event time and watermark — fail loudly instead.
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"normalizeEvents requires spark.sql.session.timeZone=UTC (got $tz): " +
            "the TIMESTAMP_NTZ cast is only value-identical to DuckDB under UTC")
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
