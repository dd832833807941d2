package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All loads are plain `spark.read.parquet` so Catalyst keeps full
  * pushdown/pruning freedom: filters and column selections applied by the
  * query compose into the parquet scan (visible as `PushedFilters` /
  * `ReadSchema` in `.explain`). Nothing is cached here — at 100 TB a scan
  * cache is wrong by default; callers broadcast/cache small dims explicitly.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet has stored `ts` as INT64 TIMESTAMP(NANOS) (which Spark 4
    * rejects outright — read nanos as long via the legacy flag and truncate
    * to microseconds, DuckDB's own coercion) and, in later driver
    * generations, as timestamp[us] WITHOUT timezone (Spark's TIMESTAMP_NTZ —
    * unusable for event-time watermarks and unix_* functions). Both forms
    * normalize to plain TimestampType; the session timezone is pinned UTC
    * (GraftSession), so the NTZ cast is value-identical to DuckDB's naive
    * reading. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEvents(load(s, d, "events"))
  }

  /** Coerce the `ts` column to TimestampType (micros) from whichever
    * physical form the driver generated (nanos-as-long or TIMESTAMP_NTZ).
    * Applied after both batch and streaming reads of the events table. */
  def normalizeEvents(df: DataFrame): DataFrame =
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
