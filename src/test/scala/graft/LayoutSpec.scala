package graft

import org.apache.spark.sql.functions._

import graft.sinks.Layout
import graft.sources.Tables

class LayoutSpec extends SparkSpec {

  test("date-partitioned layout prunes partitions for date predicates") {
    val path = s"${graft.store.PartitionedStore.tempRoot("graft-layout-test-")}/events_by_day"
    Layout.writeDatePartitioned(Tables.events(spark, sf), path, "ts")
    val pruned = Layout.readDatePartitioned(spark, path)
      .filter(col("dt") === "2024-01-05")
    pruned.count()
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("dt#") || plan.contains("isnotnull(dt"),
      s"no partition pruning visible in plan:\n${plan.take(800)}")
    // pruning must not change semantics
    val expected = Tables.events(spark, sf)
      .filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-05").count()
    assert(pruned.count() === expected)
  }

  test("idempotent foreachBatch sink: replayed batch replaces, not duplicates") {
    val path = s"${graft.store.PartitionedStore.tempRoot("graft-layout-test-")}/idempotent"
    val b0 = Tables.events(spark, sf).limit(100)
    Layout.writeIdempotent(b0, 0, path)
    Layout.writeIdempotent(Tables.events(spark, sf).limit(50), 1, path)
    val before = spark.read.parquet(path).count()
    assert(before === 150)
    // replay batch 1 (failure recovery) — must overwrite, not append
    Layout.writeIdempotent(Tables.events(spark, sf).limit(50), 1, path)
    val after = spark.read.parquet(path).count()
    assert(after === 150)
  }

  test("clustered batch sink: idempotent replay AND per-batch z envelopes prune") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val path = s"${graft.store.PartitionedStore.tempRoot("graft-layout-test-")}/clustered"
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val b0 = ev.filter(col("event_id") % 2 === 0)
    val b1 = ev.filter(col("event_id") % 2 === 1)
    Layout.writeClusteredBatch(b0, 0, path, "user_id", "event_id", files = 8)
    Layout.writeClusteredBatch(b1, 1, path, "user_id", "event_id", files = 8)
    val total = ev.count()
    assert(spark.read.parquet(path).count() === total)
    // replayed batch replaces its own partition, never duplicates
    Layout.writeClusteredBatch(b1, 1, path, "user_id", "event_id", files = 8)
    assert(spark.read.parquet(path).count() === total)
    // clustering holds inside every batch partition: a user_id range reads
    // fewer rows than a full scan (z envelopes prune row groups per batch)
    def scanRows(df: DataFrame): Long = {
      df.collect()
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case s: FileSourceScanExec => Seq(s)
        case o => o.children.flatMap(scans)
      }
      scans(df.queryExecution.executedPlan)
        .map(_.metrics("numOutputRows").value).sum
    }
    val maxUser = ev.agg(max("user_id")).collect()(0).getLong(0)
    val read = scanRows(
      spark.read.parquet(path).filter(col("user_id") <= maxUser / 10))
    assert(read < (total * 7) / 10,
      s"clustered batches read $read of $total rows for a 10% user range")
    // and pruning never changes semantics
    assert(spark.read.parquet(path)
      .filter(col("user_id") <= maxUser / 10).count() ===
      ev.filter(col("user_id") <= maxUser / 10).count())

    // compaction: batch partitions fold into one clustered table — same
    // content, fewer files, pruning at least as tight
    def parquetFiles(p: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Seq(f))
      walk(new java.io.File(p)).count(_.getName.endsWith(".parquet"))
    }
    val filesBefore = parquetFiles(path)
    val contentBefore = spark.read.parquet(path).drop("batch_id")
      .collect().map(_.toSeq).sortBy(_.toString)
    Layout.compactClustered(spark, path, "user_id", "event_id", files = 8)
    assert(parquetFiles(path) < filesBefore, "compaction did not reduce file count")
    val contentAfter = spark.read.parquet(path)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(contentAfter === contentBefore, "compaction changed table content")
    val readCompacted = scanRows(
      spark.read.parquet(path).filter(col("user_id") <= maxUser / 10))
    assert(readCompacted <= read,
      s"compaction loosened pruning: $readCompacted > $read")
  }
}
