package graft.ysb

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.Q
import graft.functions.{HashLookup, StringDict}
import graft.sources.Tables

/** The Yahoo Streaming Benchmark query as composable DataFrame stages —
  * filter → project → static campaign lookup → event-time tumbling
  * windowed count+max [ysb/benchmark/spark/SparkYahooRunner.scala:71-84;
  * ysb/benchmark/flink/YahooBenchmark.scala:214-242].
  *
  * The same stages run bounded (batch, oracle-checkable here) and unbounded
  * (Structured Streaming, graft.streaming.YsbStreaming). Output columns use
  * snake_case (`last_update`) rather than the reference's `lastUpdate` for
  * cross-engine alias stability.
  *
  * Scale: `enrichCampaign` is a hashed lookup, not a join. The canonical
  * YSB dimension is BOUNDED BY CONSTRUCTION — the generator emits a fixed
  * ad→campaign table (1000 ads × 100 campaigns in the reference) whose
  * size is independent of how many events stream past — so it is
  * collected to the driver ONCE, when the query is defined, and travels in
  * the plan as a `graft.functions.HashLookup` table. That is the
  * reference's semantics on Flink (`StaticJoinMapper`'s closure map) and
  * StreamBox (an `unordered_map`): the dimension is a snapshot taken at
  * definition time. It differs from a Spark stream-static join, which
  * re-reads the static side on every micro-batch — and re-plans its
  * broadcast, one extra job and a rebuilt hash relation per trigger. A
  * dimension above `CampaignCap` rows, or a streaming one, is rejected.
  * The guarantee does NOT extend to corpus-derived dimensions: qysb02
  * builds its dim from `events.select(user_id).distinct()`, which grows
  * with the user universe, so that join is left UNHINTED for AQE (a
  * pinned broadcast or a driver-side table there would bypass
  * autoBroadcastJoinThreshold and OOM the driver at 100 TB). The windowed
  * agg shuffles once on (window, campaign_id) with map-side partial
  * aggregation.
  */
object Ysb {

  /** P1: keep only view events (~1/3 selectivity). */
  def filterViews(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "view")

  /** P3: prune to the join/agg columns early (Catalyst would derive this,
    * declared for API parity with the reference). */
  def projectAdTime(events: DataFrame): DataFrame =
    events.select(col("ad_id"), col("event_time"))

  /** Row cap on the campaign dimension: 100× the canonical 1000 ads. */
  val CampaignCap = 100000

  /** J1: enrich with campaign_id by a hashed lookup in the campaign
    * dimension, snapshotted here (see the object scaladoc). Same rows and
    * columns as `events.join(broadcast(campaigns), Seq("ad_id"))`: `ad_id`,
    * the other event columns, then `campaign_id`; events whose ad_id is
    * null or unknown are dropped. `campaigns` must be a bounded frame of
    * exactly (ad_id, campaign_id) strings with distinct ad_ids and no null
    * campaign_id. */
  def enrichCampaign(events: DataFrame, campaigns: DataFrame): DataFrame = {
    val dict = campaignDict(campaigns)
    val rest = events.columns.toSeq.filter(_ != "ad_id").map(col)
    events.select(col("ad_id") +: rest :+
        HashLookup.lookup(col("ad_id"), dict).as("campaign_id"): _*)
      .filter(col("campaign_id").isNotNull)
  }

  private def campaignDict(campaigns: DataFrame): StringDict = {
    require(!campaigns.isStreaming,
      "the campaign dimension must be a bounded frame, not a stream")
    require(campaigns.schema.map(f => f.name -> f.dataType).toSet ==
        Set("ad_id" -> StringType, "campaign_id" -> StringType),
      s"the campaign dimension must be exactly (ad_id string, campaign_id string), got ${campaigns.schema.simpleString}")
    val rows = campaigns.select(col("ad_id"), col("campaign_id")).limit(CampaignCap + 1).collect()
    require(rows.length <= CampaignCap,
      s"the campaign dimension has more than $CampaignCap rows; join a larger dimension instead")
    // a null ad_id never matches an inner join, so it is left out
    val pairs = rows.collect { case r if !r.isNullAt(0) => r.getString(0) -> r.getString(1) }
    val repeated = pairs.groupBy(_._1).collect { case (k, v) if v.length > 1 => k }
    require(repeated.isEmpty, "the campaign dimension repeats ad_id " +
      repeated.toSeq.sorted.take(3).mkString(", ") +
      "; a join would emit one event row per matching campaign")
    require(pairs.forall(_._2 != null),
      "the campaign dimension has a null campaign_id, which a lookup cannot tell from a miss")
    new StringDict(pairs.toSeq)
  }

  /** A1/W1: tumbling event-time window per campaign — count + max(event_time),
    * window keyed by epoch millis of its start [SparkYahooRunner.scala:75-76]. */
  def windowedCounts(enriched: DataFrame, windowLength: String): DataFrame =
    enriched
      .groupBy(window(col("event_time"), windowLength), col("campaign_id"))
      .agg(count(lit(1)).as("count"), max(col("event_time")).as("last_update"))
      .select(
        unix_millis(col("window.start")).as("time_window"),
        col("campaign_id"), col("count"), col("last_update"))

  /** The full YSB pipeline. */
  def query(events: DataFrame, campaigns: DataFrame,
      windowLength: String = "10 seconds"): DataFrame =
    windowedCounts(enrichCampaign(projectAdTime(filterViews(events)), campaigns),
      windowLength)

  // ---------------------------------------------------------------------
  // qysb01: YSB on the deterministic synthetic generator (100k events,
  // 1 ms apart → 10 tumbling 10 s windows × 100 campaigns). The oracle
  // regenerates the identical events + dimension in SQL — generator parity
  // is part of what's checked.
  // ---------------------------------------------------------------------
  private def qysb01(s: SparkSession, d: String): DataFrame =
    query(Gen.boundedEvents(s, 100000L), Gen.campaigns(s))

  private val qysb01Sql =
    """WITH ev AS (
      |  SELECT 'ad' || CAST(i % 1000 AS VARCHAR) AS ad_id,
      |         ['view','click','purchase'][CAST(i % 3 AS INT) + 1] AS event_type,
      |         make_timestamp(1704067200000000 + i * 1000) AS event_time
      |  FROM range(0, 100000) t(i)),
      |dim AS (
      |  SELECT 'ad' || CAST(a AS VARCHAR) AS ad_id,
      |         'camp' || CAST(a // 10 AS VARCHAR) AS campaign_id
      |  FROM range(0, 1000) t(a))
      |SELECT epoch_ms(make_timestamp(epoch_us(event_time) // 10000000 * 10000000)) AS time_window,
      |  campaign_id, count(*) AS count, max(event_time) AS last_update
      |FROM ev JOIN dim USING (ad_id)
      |WHERE event_type = 'view'
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // qysb02: YSB shape on the driver's `events` table — ad dimension derived
  // deterministically from user_id (20 "campaigns"), 6 h tumbling windows.
  // ---------------------------------------------------------------------
  private def qysb02(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val dim = ev.select(col("user_id")).distinct()
      .select(col("user_id"),
        concat(lit("c"), pmod(col("user_id"), lit(20))).as("campaign_id"))
    // dim grows with the user universe (corpus-derived distinct) — unhinted,
    // AQE broadcasts at small SF and shuffles at scale (see object scaladoc)
    ev.filter(col("event_type") === "view")
      .join(dim, Seq("user_id"), "inner")
      .groupBy(window(col("ts"), "6 hours"), col("campaign_id"))
      .agg(count(lit(1)).as("count"), max(col("ts")).as("last_update"))
      .select(unix_millis(col("window.start")).as("time_window"),
        col("campaign_id"), col("count"), col("last_update"))
  }

  private val qysb02Sql =
    """WITH dim AS (
      |  SELECT DISTINCT user_id, 'c' || CAST(user_id % 20 AS VARCHAR) AS campaign_id
      |  FROM events)
      |SELECT epoch_ms(make_timestamp(epoch_us(ts) // 21600000000 * 21600000000)) AS time_window,
      |  campaign_id, count(*) AS count, max(ts) AS last_update
      |FROM events JOIN dim USING (user_id)
      |WHERE event_type = 'view'
      |GROUP BY 1, 2""".stripMargin

  def queries: Seq[Q] = Seq(
    Q("qysb01_synthetic", qysb01, Some(qysb01Sql), headline = true),
    Q("qysb02_events", qysb02, Some(qysb02Sql), headline = true))
}
