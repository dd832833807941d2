package graft

import org.apache.spark.sql.SparkSession

import graft.fs.{NioLocalFileSystem, NioLocalFs}

/** Session factory with the engine's scale-appropriate defaults, shared by
  * every main (Verify / Bench / Explain / harness benches) and the test
  * session.
  *
  * Local mode sizes `shuffle.partitions` to the core count (the driver
  * contract's local[32] → 32, not Spark's default 200: at small SF, 200
  * near-empty shuffle partitions cost more scheduling than they buy in
  * parallelism). On a real cluster the same knob should be ~2–3× total
  * executor cores, or left to AQE coalescing — see README "Running at
  * 100 TB".
  *
  * AQE stays on everywhere: runtime partition coalescing, skew-join
  * splitting, and dynamic join-strategy switches are exactly the safety
  * nets a 100 TB run needs, and they cost nothing at test SF.
  *
  * `file:` paths go through [[graft.fs.RawNioFileSystem]] under both
  * Hadoop file APIs: without libhadoop, Hadoop's own local file system
  * forks `chmod` for every file and directory it creates and `readlink`
  * for every `FileContext` rename. `FileSystem` (parquet, the persisted
  * stores) stays checksummed; `FileContext` (Spark's streaming
  * checkpoints) stays raw, so checkpoints carry no Hadoop `.crc`.
  */
object GraftSession {

  /** The settings every session of the engine starts from. */
  private def settings(cores: String, aqe: Boolean): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores,
    "spark.sql.adaptive.enabled" -> aqe.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.warehouse.dir" ->
      (sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-warehouse"),
    "spark.ui.enabled" -> "false",
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** A `local[cores]` builder carrying [[settings]]. */
  def builder(appName: String, cores: String, aqe: Boolean = true): SparkSession.Builder =
    settings(cores, aqe).foldLeft(
      SparkSession.builder().master(s"local[$cores]").appName(appName)) {
      case (b, (k, v)) => b.config(k, v)
    }

  def local(appName: String, cores: String, aqe: Boolean = true): SparkSession = {
    val spark = builder(appName, cores, aqe).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
