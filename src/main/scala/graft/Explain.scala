package graft

import org.apache.spark.sql.SparkSession

/** Plan inspection: prints the formatted physical plan for the named
  * queries (default: headline set). Used to audit pushdown (PushedFilters /
  * ReadSchema), join strategies (BroadcastHashJoin vs SortMergeJoin), and
  * WholeStageCodegen coverage after every operator change.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local("graft-explain", GraftSession.cores)
    spark.sparkContext.setLogLevel("ERROR")
    val wanted =
      if (args.nonEmpty) Registry.all.filter(q => args.contains(q.name))
      else Registry.all.filter(_.headline)
    wanted.foreach { q =>
      println(s"\n========== ${q.name} ==========")
      try q.run(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
