package graft.ysb

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** YSB data generation, UDF-free (every column is a codegen'd Catalyst
  * expression, unlike the reference's 5 Scala UDFs
  * [ysb/benchmark/yahoo/YahooBenchmarkRunner.scala:78-80] — SURVEY §2.9).
  *
  * Three shapes:
  *  - `campaigns`: the static dimension, `numCampaigns × adsPerCampaign`
  *    rows [YahooBenchmark.scala:40-43], built on the driver. The
  *    reference's Spark path has an off-by-one (99 campaigns);
  *    `numCampaigns = 99` reproduces it.
  *  - `boundedEvents`: deterministic seeded batch of N events — replaces the
  *    reference's file-replay source [sbx/Unbounded.h:1042-1188] for
  *    repeatable tests; ids are pure functions of the row index so a SQL
  *    oracle can regenerate the identical table.
  *  - `rateStream`: unbounded rate-source stream at rowsPerSecond with
  *    ramp-up [YahooBenchmarkRunner.scala:68-98].
  *
  * Scale note: event generation is embarrassingly parallel (`spark.range`;
  * rate source per-partition counters) — no shuffle, no driver loop,
  * scales linearly with executors. The campaign dimension is the one
  * driver-side table: it is bounded by construction (`Ysb.CampaignCap`).
  */
object Gen {
  private val epoch2024Us = 1704067200000000L // 2024-01-01T00:00:00Z

  private def pick(values: Seq[String], idx: org.apache.spark.sql.Column) =
    element_at(array(values.map(lit): _*), (pmod(idx, lit(values.size)) + 1).cast(IntegerType))

  /** Static ad→campaign dimension: ad index a ∈ [0, n*ads) maps to campaign
    * a / adsPerCampaign. Deterministic ids (`ad<i>`, `camp<j>`) instead of
    * the reference's random UUIDs so tests and oracles can regenerate it.
    * A driver-local relation: `Ysb.enrichCampaign`'s `limit(...).collect()`
    * of it folds to a local table scan, so defining a YSB query runs no
    * Spark job.
    */
  def campaigns(spark: SparkSession, numCampaigns: Int = 100,
      adsPerCampaign: Int = 10): DataFrame = {
    val rows = (0L until numCampaigns.toLong * adsPerCampaign)
      .map(a => Row(s"ad$a", s"camp${a / adsPerCampaign}"))
    spark.createDataFrame(rows.asJava, CampaignSchema)
  }

  private val CampaignSchema = StructType(Seq(
    StructField("ad_id", StringType, nullable = false),
    StructField("campaign_id", StringType, nullable = false)))

  /** Deterministic bounded event batch: event i has ad_id `ad(i % nAds)`,
    * round-robin ad/event types, event_time = base + i·periodUs.
    * Mirrors the generator's modulo scheme [YahooBenchmarkRunner.scala:90-97]
    * with a seeded clock instead of `current_timestamp` (SURVEY §7.4).
    * `partitions` <= 0 (the default) splits the rows into the session's
    * `defaultParallelism` tasks, one per core in local mode; rows are a
    * pure function of their index, so the split never changes them.
    */
  def boundedEvents(spark: SparkSession, n: Long, numCampaigns: Int = 100,
      adsPerCampaign: Int = 10, periodUs: Long = 1000L,
      baseUs: Long = epoch2024Us, partitions: Int = 0): DataFrame = {
    val nAds = numCampaigns.toLong * adsPerCampaign
    val splits = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, splits).select(
      lit("user0").as("user_id"),
      lit("page0").as("page_id"),
      concat(lit("ad"), pmod(col("id"), lit(nAds))).as("ad_id"),
      pick(Model.adTypes, col("id")).as("ad_type"),
      pick(Model.eventTypes, col("id")).as("event_type"),
      timestamp_micros(lit(baseUs) + col("id") * lit(periodUs)).as("event_time"),
      lit("255.255.255.255").as("ip_address"))
  }

  /** Unbounded streaming generator on the built-in rate source with ramp-up,
    * same column derivations as `boundedEvents` (S1). */
  def rateStream(spark: SparkSession, rowsPerSecond: Long,
      numPartitions: Int = 32, rampUpSeconds: Int = 0,
      numCampaigns: Int = 100, adsPerCampaign: Int = 10): DataFrame = {
    val nAds = numCampaigns.toLong * adsPerCampaign
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .option("numPartitions", numPartitions)
      .option("rampUpTime", s"${rampUpSeconds}s")
      .load()
      .select(
        lit("user0").as("user_id"),
        lit("page0").as("page_id"),
        concat(lit("ad"), pmod(col("value"), lit(nAds))).as("ad_id"),
        pick(Model.adTypes, col("value")).as("ad_type"),
        pick(Model.eventTypes, col("value")).as("event_type"),
        col("timestamp").as("event_time"),
        lit("255.255.255.255").as("ip_address"))
  }
}
