package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.fs.NioLocalFileSystem
import graft.store.{FileOps, PartitionedStore}

/** The session's Hadoop conf keeps only the keys someone set
  * (`GraftSession.trimHadoopConf`), and stays trimmed: Spark copies it
  * into every parquet scan and state-store RDD, and a default resource
  * Hadoop adds later would reload every conf and bring ~1,070 default
  * keys back. */
class HadoopConfSpec extends SparkSpec {

  private val SparkSource = "Set by Spark from keys starting with 'spark.hadoop'"

  test("the trim drops default-only keys and keeps programmatic, spark.hadoop and site keys") {
    val dir = PartitionedStore.tempRoot("graft-hconf-")
    val site = dir.resolve("graft-test-site.xml")
    Files.writeString(site,
      """<?xml version="1.0"?>
        |<configuration>
        |  <property><name>graft.test.site.key</name><value>site</value></property>
        |  <property><name>hadoop.tmp.dir</name><value>/graft-site-tmp</value></property>
        |</configuration>
        |""".stripMargin)
    val conf = new Configuration()
    conf.addResource(new Path(site.toUri))
    conf.set("graft.test.key", "set")
    conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName, SparkSource)
    assert(conf.get("io.file.buffer.size") === "4096")
    assert(conf.size > 300, "a fresh conf must load Hadoop's default resources")

    GraftSession.trimHadoopConf(conf)
    assert(conf.get("io.file.buffer.size") === null)
    assert(conf.get("fs.defaultFS") === null)
    assert(conf.get("graft.test.key") === "set")
    assert(conf.get("fs.file.impl") === classOf[NioLocalFileSystem].getName)
    assert(conf.get("graft.test.site.key") === "site")
    // a site value over a default keeps its key
    assert(conf.get("hadoop.tmp.dir") === "/graft-site-tmp")
    val left = conf.iterator().asScala.map(_.getKey).toSeq
    assert(left.forall(k => !conf.getPropertySources(k).forall(_.endsWith("-default.xml"))))
    assert(left.size < 10, s"left: ${left.sorted.mkString(", ")}")
    FileUtil.fullyDelete(dir.toFile)
  }

  test("after parquet, streaming-state and store work the session conf stays small and keeps the nio file system") {
    import spark.implicits._
    val dir = PartitionedStore.tempRoot("graft-hconf-work-")
    val pq = dir.resolve("pq").toString
    spark.range(0, 100, 1, 2).selectExpr("id", "id % 7 AS k")
      .write.mode("overwrite").parquet(pq)
    assert(spark.read.parquet(pq).agg(sum("id")).as[Long].head() === 4950L)

    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val counts = ms.toDF().toDF("k", "v").groupBy(col("k")).agg(sum(col("v")))
      .writeStream.outputMode("update").format("noop")
      .option("checkpointLocation", dir.resolve("ckpt").toString).start()
    try {
      ms.addData(("a", 1L), ("b", 2L))
      counts.processAllAvailable()
      ms.addData(("a", 3L))
      counts.processAllAvailable()
      assert(counts.lastProgress.stateOperators.head.numRowsTotal === 2L)
    } finally counts.stop()

    val root = dir.resolve("store").toString
    val store = new PartitionedStore(spark, root, Seq("t"), FileOps(spark, root))
    store.transact(PartitionedStore.Replace.All) {
      store.stage("t", spark.range(0, 20).selectExpr("id", "id % 4 AS p"), "p")
    }
    assert(spark.read.parquet(store.dir("t")).count() === 20L)

    val (keys, bytes) = BenchCal.hadoopConfSize(spark)
    assert(keys <= 64, s"the session's Hadoop conf holds $keys keys")
    assert(bytes <= 16 * 1024, s"the session's Hadoop conf serializes to $bytes bytes")
    assert(spark.sessionState.newHadoopConf().getClass("fs.file.impl", null) ===
      classOf[NioLocalFileSystem])
    FileUtil.fullyDelete(dir.toFile)
  }
}
