package graft

import java.nio.file.{Files, Path => NioPath, StandardCopyOption}

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType}

import graft.sources.Tables

/** `Tables` infers each table's schema once per file version and otherwise
  * builds exactly the relation a bare `spark.read.parquet` builds. */
class TablesSpec extends SparkSpec {

  private def tempDir(): NioPath = Files.createTempDirectory("graft-tables-")

  /** Copies `sf`'s `table` into a fresh directory, so its schema is not
    * memoized yet. */
  private def freshCopy(table: String): NioPath = {
    val dir = tempDir()
    Files.copy(java.nio.file.Paths.get(s"$sf/$table.parquet"), dir.resolve(s"$table.parquet"))
    dir
  }

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  private def stripIds(plan: String): String = plan.replaceAll("#\\d+L?", "#")

  test("the first load of a table starts one schema-inference job, a repeat load none") {
    val dir = freshCopy("orders").toString
    assert(jobsStartedBy(Tables.load(spark, dir, "orders")) === 1)
    assert(jobsStartedBy(Tables.load(spark, dir, "orders")) === 0)
    assert(jobsStartedBy(Tables.orders(spark, dir).filter(col("o_orderkey") > 0)) === 0)
    // a bare read infers again on every load
    assert(jobsStartedBy(spark.read.parquet(s"$dir/orders.parquet")) === 1)
  }

  test("every fixture table loads with the schema and the plan of a bare read") {
    Tables.all.foreach { t =>
      val memo = Tables.load(spark, sf, t)
      val bare = spark.read.parquet(s"$sf/$t.parquet")
      assert(memo.schema === bare.schema, t)
      assert(stripIds(memo.queryExecution.optimizedPlan.toString) ===
        stripIds(bare.queryExecution.optimizedPlan.toString), t)
      // filters and column selections still compose into the scan
      def probe(df: DataFrame): String = {
        val c = df.columns.head
        stripIds(df.filter(col(c).isNotNull).select(col(c))
          .queryExecution.executedPlan.toString)
      }
      assert(probe(memo) === probe(bare), t)
      assert(memo.count() === bare.count(), t)
    }
  }

  test("a table overwritten with a different schema is re-inferred") {
    val dir = freshCopy("nation")
    val file = dir.resolve("nation.parquet")
    assert(Tables.load(spark, dir.toString, "nation").schema ===
      spark.read.parquet(s"$sf/nation.parquet").schema)
    Files.copy(java.nio.file.Paths.get(s"$sf/region.parquet"), file,
      StandardCopyOption.REPLACE_EXISTING)
    val region = spark.read.parquet(s"$sf/region.parquet")
    val reread = Tables.load(spark, dir.toString, "nation")
    assert(reread.schema === region.schema)
    assert(reread.collect().toSet === region.collect().toSet)
  }

  test("a directory table is keyed by its leaf files and re-inferred when they change") {
    val path = tempDir().resolve("docs.parquet").toString
    val docs = Tables.documents(spark, sf)
    docs.select(col("doc_id")).write.parquet(path)
    assert(Tables.schemaOf(spark, path).fieldNames.toSeq === Seq("doc_id"))
    assert(jobsStartedBy(Tables.schemaOf(spark, path)) === 0)
    docs.select(col("doc_id"), col("text")).write.mode("overwrite").parquet(path)
    assert(Tables.schemaOf(spark, path) === spark.read.parquet(path).schema)
    assert(Tables.schemaOf(spark, path).fieldNames.toSeq === Seq("doc_id", "text"))
  }

  test("events read with nanosAsLong on, then off, types ts as a bare read does") {
    // an events table in the driver's older form: ts as INT64 TIMESTAMP(NANOS)
    val dir = tempDir()
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(dir.resolve("events.parquet").toString))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val rows = new SimpleGroupFactory(schema)
    try (0 until 3).foreach { i =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", 1700000000123456789L + i))
    } finally w.close()
    def tsType(read: => StructType): Either[String, DataType] =
      Try(read("ts").dataType).toEither.left.map(_.getClass.getName)
    val path = dir.resolve("events.parquet").toString
    val types = Seq("true", "false", "true").map { on =>
      withConf("spark.sql.legacy.parquet.nanosAsLong", on) {
        val memo = tsType(Tables.load(spark, dir.toString, "events").schema)
        assert(memo === tsType(spark.read.parquet(path).schema), s"nanosAsLong=$on")
        memo
      }
    }
    assert(types.head === Right(LongType))
    assert(types(1) !== types.head)
    // the fixture's events: the NTZ inference flag flips the type the same way
    Seq("true", "false").foreach { on =>
      withConf("spark.sql.parquet.inferTimestampNTZ.enabled", on) {
        assert(Tables.schemaOf(spark, s"$sf/events.parquet") ===
          spark.read.parquet(s"$sf/events.parquet").schema, s"inferTimestampNTZ=$on")
      }
    }
  }
}
