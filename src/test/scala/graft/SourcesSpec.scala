package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

class SourcesSpec extends SparkSpec {

  test("CSV source roundtrip equals parquet source (S6)") {
    val pq = Tables.orders(spark, sf)
    val dir = s"${graft.store.PartitionedStore.tempRoot("graft-csv-test-")}/orders"
    pq.write.mode("overwrite").option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss").csv(dir)
    val csv = spark.read.schema(pq.schema).option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss").csv(dir)
    assert(csv.count() === pq.count())
    assert(csv.exceptAll(pq).count() === 0)
    assert(pq.exceptAll(csv).count() === 0)
  }

  test("DataSourceV2 replay source: multi-batch streaming YSB equals batch YSB") {
    val stream = spark.readStream
      .format("graft.sources.ReplaySourceProvider")
      .option("totalRows", "30000")
      .option("rowsPerBatch", "7000")
      .option("numPartitions", "3")
      .load()
    assert(stream.isStreaming)
    val dim = graft.ysb.Gen.campaigns(spark)
    val q = graft.ysb.Ysb.query(stream, dim, "10 seconds")
      .writeStream.outputMode("complete")
      .format("memory").queryName("replay_ysb").start()
    try {
      q.processAllAvailable()
      val got = spark.table("replay_ysb")
      val want = graft.ysb.Ysb.query(
        graft.ysb.Gen.boundedEvents(spark, 30000L), dim, "10 seconds")
      assert(got.exceptAll(want).count() === 0)
      assert(want.exceptAll(got).count() === 0)
    } finally q.stop()
  }

  test("replay source rows equal Gen.boundedEvents row for row across batch and stripe edges") {
    // 3333-row micro-batches in 3 stripes of 1111, and one 10001-row batch
    // in 2 stripes that each cross the 4096-row columnar batch
    for ((perBatch, parts) <- Seq((3333, 3), (10001, 2))) {
      val name = s"replay_rows_${perBatch}_$parts"
      val q = spark.readStream.format("graft.sources.ReplaySourceProvider")
        .option("totalRows", "10001").option("rowsPerBatch", perBatch.toString)
        .option("numPartitions", parts.toString).load()
        .writeStream.format("memory").queryName(name).start()
      try {
        q.processAllAvailable()
        val got = spark.table(name).orderBy("event_time").collect()
        val want = graft.ysb.Gen.boundedEvents(spark, 10001L).orderBy("event_time").collect()
        assert(spark.table(name).schema === graft.ysb.Model.eventSchema)
        assert(got.length === 10001)
        assert(got.toSeq === want.toSeq)
      } finally q.stop()
    }
  }

  test("events nanos timestamps truncate to DuckDB-equal micros") {
    // Tables.events must expose ts as TimestampType (micros)
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    assert(ev.filter(col("ts").isNull).count() === 0)
  }

  test("corrupt JSONL: PERMISSIVE accounts, DROPMALFORMED drops, FAILFAST throws") {
    import spark.implicits._
    val dir = graft.store.PartitionedStore.tempRoot("graft_corrupt").toString
    val lines = Seq(
      """{"doc_id":1,"text":"ok one"}""",
      """{"doc_id":2,"text":"torn""", // unterminated string
      """{"doc_id":3,"text":"ok three"}""",
      """not json at all""")
    lines.toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    val schema = "doc_id LONG, text STRING, _corrupt_record STRING"

    // corrupt-column-only queries on the raw file are disallowed
    // (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — cache the
    // parsed result first, exactly as the error message prescribes
    val perm = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
      .cache()
    assert(perm.count() === 4)
    assert(perm.filter(col("_corrupt_record").isNotNull).count() === 2)
    // the clean side must be exactly the two good rows
    assert(perm.filter(col("_corrupt_record").isNull)
      .select("doc_id").as[Long].collect().toSet === Set(1L, 3L))

    val dropped = spark.read.schema("doc_id LONG, text STRING")
      .option("mode", "DROPMALFORMED").json(dir)
    assert(dropped.count() === 2)

    val failfast = spark.read.schema("doc_id LONG, text STRING")
      .option("mode", "FAILFAST").json(dir)
    intercept[org.apache.spark.SparkException] { failfast.collect() }
  }

  test("text-line codec: limit-2 split keeps tabs inside the payload") {
    import spark.implicits._
    val dir = graft.store.PartitionedStore.tempRoot("graft_txt").toString
    val rows = Seq((7L, "plain payload"), (8L, "payload\twith\ttabs"))
    rows.toDF("doc_id", "text")
      .select(concat(col("doc_id").cast("string"), lit("\t"), col("text")).as("value"))
      .coalesce(1).write.mode("overwrite").text(dir)
    val back = spark.read.text(dir)
      .select(split(col("value"), "\t", 2).as("p"))
      .select(element_at(col("p"), 1).cast("long").as("doc_id"),
        element_at(col("p"), 2).as("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back === rows.toMap)
  }

  test("mergeSchema: added columns null-fill; incompatible type drift fails loudly") {
    import spark.implicits._
    val tmp = graft.store.PartitionedStore.tempRoot("graft-mergeschema-").toString
    try {
      // compatible drift: gen 2 adds a column → union schema, null-fill
      Seq((1L, "a")).toDF("id", "text").write.parquet(s"$tmp/ok/gen=1")
      Seq((2L, "b", "en")).toDF("id", "text", "lang").write.parquet(s"$tmp/ok/gen=2")
      val merged = spark.read.option("mergeSchema", "true").parquet(s"$tmp/ok")
      assert(merged.columns.toSet === Set("id", "text", "lang", "gen"))
      assert(merged.filter(col("gen") === 1 && col("lang").isNull).count() === 1)
      // incompatible drift: same column, conflicting physical types — the
      // footer merge must THROW, not coerce silently (a reader that
      // guessed would corrupt every pre-drift file's column)
      Seq(Tuple1(1)).toDF("v").write.parquet(s"$tmp/bad/gen=1")      // int
      Seq(Tuple1("x")).toDF("v").write.parquet(s"$tmp/bad/gen=2")    // string
      val e = intercept[org.apache.spark.SparkException] {
        spark.read.option("mergeSchema", "true").parquet(s"$tmp/bad").collect()
      }
      assert(e.getMessage.toLowerCase.contains("merge"))
    } finally {
      import java.nio.file._
      Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    }
  }
}
