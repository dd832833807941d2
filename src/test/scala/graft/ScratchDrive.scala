package graft

/** Scratch driver for manual verification runs (not a test). */
object ScratchDrive {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-scratch", "4", conf = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // stream user_ids from the DSv2 replay source → keyed running counters
    val keys = spark.readStream.format("graft.sources.ReplaySourceProvider")
      .option("totalRows", "9000").option("rowsPerBatch", "3000").load()
      .selectExpr("cast(substring(ad_id, 3) as long) % 7 as k").as[Long]
    val q = graft.streaming.RunningCounters.countByKey(keys)
      .writeStream.outputMode("update").format("memory").queryName("drive").start()
    q.processAllAvailable(); q.stop()
    spark.sql("select key, max(total) as final_total, count(*) as n_updates from drive group by key order by key")
      .show(20, false)
    spark.stop()
  }
}
