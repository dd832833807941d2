package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{HashLookup, StringDict}
import graft.ysb.{CampaignAd, Event, Gen, Ysb}

class YsbSpec extends SparkSpec {

  test("campaign dimension has numCampaigns × adsPerCampaign rows, 10 ads each") {
    val dim = Gen.campaigns(spark, numCampaigns = 100, adsPerCampaign = 10)
    assert(dim.count() === 1000)
    val perCampaign = dim.groupBy("campaign_id").count().select("count").distinct().collect()
    assert(perCampaign.map(_.getLong(0)).toSet === Set(10L))
  }

  test("reference off-by-one variant is reproducible (99 campaigns)") {
    // the reference's Spark path generates numCampaigns−1 campaigns
    // [ysb/benchmark/yahoo/YahooBenchmark.scala:40]; we model that as an
    // explicit parameter instead
    assert(Gen.campaigns(spark, numCampaigns = 99).select("campaign_id").distinct().count() === 99)
  }

  test("bounded generator: deterministic, round-robin types") {
    val ev = Gen.boundedEvents(spark, 3000L)
    assert(ev.count() === 3000)
    val types = ev.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types === Map("view" -> 1000L, "click" -> 1000L, "purchase" -> 1000L))
    // determinism: same seed → same content hash
    val h1 = ev.agg(sum(hash(col("ad_id"), col("event_time")))).collect()(0).getLong(0)
    val h2 = Gen.boundedEvents(spark, 3000L)
      .agg(sum(hash(col("ad_id"), col("event_time")))).collect()(0).getLong(0)
    assert(h1 === h2)
    // one split per core by default; the rows do not depend on the split
    assert(ev.rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
    val h32 = Gen.boundedEvents(spark, 3000L, partitions = 32)
      .agg(sum(hash(col("ad_id"), col("event_time")))).collect()(0).getLong(0)
    assert(h32 === h1)
  }

  test("defining a YSB query runs no Spark job: the campaign dimension is a local relation") {
    assert(jobsStartedBy(Ysb.query(Gen.boundedEvents(spark, 1000L), Gen.campaigns(spark))) === 0)
  }

  test("YSB query: window totals equal filtered-join input size") {
    val events = Gen.boundedEvents(spark, 30000L) // 30 s of events at 1 ms
    val dim = Gen.campaigns(spark)
    val out = Ysb.query(events, dim, "10 seconds")
    val totalCounted = out.agg(sum("count")).collect()(0).getLong(0)
    assert(totalCounted === 10000L) // exactly 1/3 are views, all ads resolve
    // 3 windows × ≤100 campaigns
    assert(out.select("time_window").distinct().count() === 3)
    assert(out.count() <= 300)
  }

  test("YSB window starts are 10 s aligned epoch millis") {
    val out = Ysb.query(Gen.boundedEvents(spark, 5000L), Gen.campaigns(spark), "10 seconds")
    val misaligned = out.filter(pmod(col("time_window"), lit(10000L)) =!= 0).count()
    assert(misaligned === 0)
  }

  /** The bounded generator plus events the dimension does not resolve: an
    * unknown ad_id and a null one, each a view. */
  private def eventsWithMisses(s: SparkSession): DataFrame = {
    import s.implicits._
    val t = new Timestamp(1704067200000L)
    Gen.boundedEvents(s, 3000L).union(Seq(
      Event("user0", "page0", "ad-unknown", "banner", "view", t, "255.255.255.255"),
      Event("user0", "page0", null, "banner", "view", t, "255.255.255.255"),
      Event("user0", "page0", "ad7", "banner", "view", t, "255.255.255.255")).toDF())
  }

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.count() === b.count())
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  test("campaign lookup equals the broadcast join it replaces, unknown and null ad_ids included") {
    val ev = eventsWithMisses(spark)
    val dim = Gen.campaigns(spark)
    for (events <- Seq(ev, Ysb.projectAdTime(ev))) {
      val got = Ysb.enrichCampaign(events, dim)
      val want = events.join(broadcast(dim), Seq("ad_id"))
      assert(got.schema.map(f => f.name -> f.dataType) === want.schema.map(f => f.name -> f.dataType))
      sameRows(got, want)
    }
    assert(Ysb.enrichCampaign(ev, dim).count() === 3001) // every generated row, plus ad7
  }

  test("campaign dimension with a repeated ad_id is rejected") {
    import spark.implicits._
    val dim = Gen.campaigns(spark).union(Seq(("ad5", "camp99")).toDF("ad_id", "campaign_id"))
    val e = intercept[IllegalArgumentException](Ysb.enrichCampaign(Gen.boundedEvents(spark, 10L), dim))
    assert(e.getMessage.contains("repeats ad_id ad5"))
  }

  test("campaign dimension that is a stream, or over the row cap, is rejected") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val events = Gen.boundedEvents(spark, 10L)
    val stream = MemoryStream[CampaignAd].toDF()
    assert(intercept[IllegalArgumentException](Ysb.enrichCampaign(events, stream))
      .getMessage.contains("not a stream"))
    val big = spark.range(Ysb.CampaignCap + 1L)
      .select(concat(lit("ad"), col("id")).as("ad_id"), lit("camp0").as("campaign_id"))
    assert(intercept[IllegalArgumentException](Ysb.enrichCampaign(events, big))
      .getMessage.contains(s"more than ${Ysb.CampaignCap} rows"))
  }

  test("campaign lookup: interpreted and generated code agree") {
    def enriched(conf: Map[String, String]): Set[(String, Long, String)] = {
      val s = spark.newSession()
      conf.foreach { case (k, v) => s.conf.set(k, v) }
      Ysb.enrichCampaign(Ysb.projectAdTime(eventsWithMisses(s)), Gen.campaigns(s))
        .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getString(2))).toSet
    }
    val interpreted = enriched(Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))
    val generated = enriched(Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))
    assert(interpreted.size === 3001)
    assert(interpreted === generated)
    val dict = new StringDict(Seq("ad1" -> "camp0", "ad2" -> "camp0"))
    assert(HashLookup(Literal("ad2"), dict).eval() === org.apache.spark.unsafe.types.UTF8String.fromString("camp0"))
    assert(HashLookup(Literal("ad3"), dict).eval() === null)
    assert(HashLookup(Literal.create(null, org.apache.spark.sql.types.StringType), dict).eval() === null)
  }

  test("campaign lookup prints its entry count, not its entries") {
    val out = Ysb.enrichCampaign(Gen.boundedEvents(spark, 10L), Gen.campaigns(spark))
    val lookup = out.queryExecution.optimizedPlan.expressions
      .flatMap(_.collect { case h: HashLookup => h }).head
    assert(lookup.toString === s"hash_lookup(${lookup.child}, 1000 entries)")
    assert(lookup.sql === s"hash_lookup(${lookup.child.sql})")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("1000 entries") && !plan.contains("camp99"))
  }

  test("campaign dictionary: a serialized copy keeps every entry in at most half a HashMap's bytes") {
    def serialize(o: AnyRef): Array[Byte] = {
      val b = new ByteArrayOutputStream
      val out = new ObjectOutputStream(b)
      try out.writeObject(o) finally out.close()
      b.toByteArray
    }
    def copy(d: StringDict): StringDict =
      new ObjectInputStream(new ByteArrayInputStream(serialize(d))).readObject().asInstanceOf[StringDict]
    def u(s: String) = UTF8String.fromString(s)
    val pairs = Gen.campaigns(spark).collect().map(r => r.getString(0) -> r.getString(1)).toSeq
    val dict = new StringDict(pairs)
    val back = copy(dict)
    assert(back.size === 1000)
    pairs.foreach { case (k, v) => assert(back.get(u(k)) === u(v), k) }
    assert(back.get(u("ad1000")) === null)
    assert(HashLookup(Literal.create(null, StringType), back).eval() === null)
    assert(back === dict && back.hashCode === dict.hashCode)
    assert(back !== new StringDict(pairs.tail))
    assert(back !== new StringDict(pairs.updated(0, pairs.head._1 -> "camp-x")))
    assert(back.toString === "1000 entries")
    // Spark's closure serializer, which ships the task binary
    val ser = new JavaSerializer(spark.sparkContext.getConf).newInstance()
    assert(ser.deserialize[StringDict](ser.serialize(dict)) === dict)
    // empty, multi-byte and long (multi-byte length) strings
    val odd = Seq("" -> "empty", "ad\u00e9" -> "\u00fc" * 200, "k" * 300 -> "")
    val oddBack = copy(new StringDict(odd))
    odd.foreach { case (k, v) => assert(oddBack.get(u(k)) === u(v)) }
    assert(oddBack === new StringDict(odd))
    // the form it replaced: a Java-serialized HashMap of UTF8Strings
    val map = new java.util.HashMap[UTF8String, UTF8String]()
    pairs.foreach { case (k, v) => map.put(u(k), u(v)) }
    assert(serialize(dict).length * 2 <= serialize(map).length,
      s"${serialize(dict).length} bytes vs ${serialize(map).length}")
  }

  test("campaign dictionary: deserialized copies share one table per JVM, equal dictionaries only") {
    val ser = new JavaSerializer(spark.sparkContext.getConf).newInstance()
    def copy[T: scala.reflect.ClassTag](o: T): T = ser.deserialize[T](ser.serialize(o))
    val pairs = Gen.campaigns(spark).collect().map(r => r.getString(0) -> r.getString(1)).toSeq
    val dict = new StringDict(pairs)
    val (a, b) = (copy(dict), copy(dict))
    assert(a.sharesTable(b) && !a.sharesTable(dict))
    assert(copy(a).sharesTable(a)) // a re-serialized copy packs the same bytes
    val other = copy(new StringDict(pairs.updated(0, pairs.head._1 -> "camp-x")))
    assert(!other.sharesTable(a))
    assert(other !== a)
    assert(a === dict && b === dict && a.hashCode === dict.hashCode)
    pairs.foreach { case (k, v) =>
      assert(a.get(UTF8String.fromString(k)) === UTF8String.fromString(v), k) }
    // the expression and the plan it prints in are those of the original
    val out = Ysb.enrichCampaign(Gen.boundedEvents(spark, 10L), Gen.campaigns(spark))
    val lookup = out.queryExecution.optimizedPlan.expressions
      .flatMap(_.collect { case h: HashLookup => h }).head
    val back = copy(lookup)
    assert(back === lookup && back.hashCode === lookup.hashCode)
    assert(back.toString === lookup.toString)
  }
}
