package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamingQueries

/** The run paths of the streaming gates (`StreamingQueries.toMemorySink`
  * and `StreamingQueries.drainForeachBatch`): the sink's temp view is
  * dropped once its rows are in the returned frame, and the query is
  * stopped even when waiting on it or a batch throws, so no gate leaves a
  * live stream or a driver-heap sink behind for the next one. Both require
  * at least 2 data-carrying micro-batches, so a replay that cannot split
  * fails instead of passing a cross-batch contract vacuously. */
class MemorySinkSpec extends SparkSpec {

  private def graftViews(): Set[String] =
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_")).toSet

  test("a qst gate leaves no graft_ view, and its frame still holds the sink's rows") {
    val before = graftViews()
    val ids = StreamingQueries.runBounded(spark, sf, "events", "append")(
      _.select(col("event_id")))
    assert(graftViews() === before)
    assert(ids.collect().map(_.getLong(0)).sorted.toSeq ===
      graft.sources.Tables.events(spark, sf).select(col("event_id"))
        .collect().map(_.getLong(0)).sorted.toSeq)
    val gate = Registry.byName("qst01_stream_tumbling").run(spark, sf)
    assert(graftViews() === before)
    val rows = gate.collect().map(_.toString).sorted.toSeq
    assert(rows.nonEmpty && gate.collect().map(_.toString).sorted.toSeq === rows)
  }

  test("a stream whose wait throws is stopped and its view dropped") {
    val before = graftViews()
    val active = spark.streams.active.map(_.id).toSet
    def docs() = StreamingQueries.replayTable(spark, sf, "documents")
      .select(col("doc_id"))
    // the wait fails while the stream is still live
    val e = intercept[IllegalStateException](
      StreamingQueries.toMemorySink(docs(), "throwing_wait", "append") { _ =>
        throw new IllegalStateException("boom")
      })
    assert(e.getMessage === "boom")
    assert(spark.streams.active.map(_.id).toSet === active)
    // the stream itself fails
    intercept[Exception](StreamingQueries.toMemorySink(
      docs().select(raise_error(lit("boom"))), "throwing_stream", "append")())
    assert(spark.streams.active.map(_.id).toSet === active)
    assert(graftViews() === before)
  }

  test("a foreachBatch drain whose batch body throws is stopped") {
    val active = spark.streams.active.map(_.id).toSet
    val docs = StreamingQueries.replayTable(spark, sf, "documents")
      .select(col("doc_id"))
    val e = intercept[Exception](
      StreamingQueries.drainForeachBatch(docs, "throwing_batch") { (_, _) =>
        throw new IllegalStateException("boom")
      })
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "boom"))
    assert(spark.streams.active.map(_.id).toSet === active)
  }

  test("a replay whose slice key holds one value fails both run paths with need ≥2") {
    val tmp = graft.store.PartitionedStore.tempRoot("graft-onekey-").toString
    graft.sources.Tables.documents(spark, sf).limit(50)
      .withColumn("doc_id", lit(7L))
      .write.parquet(s"$tmp/documents.parquet")
    val active = spark.streams.active.map(_.id).toSet
    val viaSink = intercept[IllegalArgumentException](
      StreamingQueries.runBounded(spark, tmp, "documents", "append")(identity))
    assert(viaSink.getMessage.contains("ran 1 data-carrying micro-batches; need ≥2"))
    val viaDrain = intercept[IllegalArgumentException](
      StreamingQueries.drainForeachBatch(
        StreamingQueries.replayTable(spark, tmp, "documents"), "one_key") { (b, _) =>
        b.count(): Unit // a foreachBatch batch counts its input rows once it is read
      })
    assert(viaDrain.getMessage.contains("ran 1 data-carrying micro-batches; need ≥2"))
    assert(spark.streams.active.map(_.id).toSet === active)
  }
}
