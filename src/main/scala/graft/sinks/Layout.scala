package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.{FileOps, PartitionedStore}

/** Storage-layout helpers for the 100 TB path:
  *
  *  - [[writeDatePartitioned]]: hive-style `dt=YYYY-MM-DD` partition layout,
  *    so date-range predicates prune whole directories at planning time
  *    (PartitionFilters in the scan, zero IO for excluded days).
  *  - [[writeIdempotent]]: the foreachBatch exactly-once pattern — each
  *    micro-batch lands in a `batch_id=N` subdir, so replayed batches after
  *    a failure overwrite their own output instead of duplicating it
  *    (dynamic partition overwrite).
  */
object Layout {

  /** Write `df` partitioned by the date of `tsCol` (hive layout `dt=...`). */
  def writeDatePartitioned(df: DataFrame, path: String, tsCol: String): Unit =
    df.withColumn("dt", date_format(col(tsCol), "yyyy-MM-dd"))
      .write
      .partitionBy("dt")
      .mode("overwrite")
      .parquet(path)

  def readDatePartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Z-order (Morton) curve value of two non-negative integer keys: the
    * low `bits` bits of each are interleaved (x on even positions, y on
    * odd), so sorting by z keeps rows that are close in EITHER dimension
    * close in file order. That gives every file/row-group a TIGHT min/max
    * envelope in BOTH columns — parquet statistics then prune scans for
    * range predicates on either column, the lever a single-column sort
    * (or hive partitioning, which burns the directory level on ONE key)
    * cannot give a second dimension at 100 TB. Pure bit arithmetic, fully
    * codegen'd; `bits` must cover the key domain (⌈log₂(max+1)⌉ — high
    * bits beyond it are dropped, which scatters, never corrupts: z is a
    * SORT key only, the data columns are untouched).
    */
  def zorder2(x: Column, y: Column, bits: Int = 21): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val xl = x.cast("long")
    val yl = y.cast("long")
    (0 until bits).map { j =>
      shiftleft(shiftright(xl, j).bitwiseAND(lit(1L)), 2 * j)
        .bitwiseOR(shiftleft(shiftright(yl, j).bitwiseAND(lit(1L)), 2 * j + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Hilbert-clustered variant of [[writeZOrdered]] — same rank
    * normalization and range-partition-by-curve plumbing, with the
    * CONTINUOUS Hilbert curve (native codegen Expression — see
    * [[graft.functions.HilbertExpression]]) in place of Morton bit
    * interleave: a contiguous curve range maps to a more compact
    * rectangle, so per-file min/max envelopes are tighter in both
    * dimensions at the same file count (LAYOUT_PROBE_r14.json records
    * the delta). */
  def writeHilbertOrdered(df: DataFrame, path: String, cx: String, cy: String,
                          files: Int, rankBits: Int = 12): Unit =
    curveClustered(df, cx, cy, files, rankBits,
      graft.functions.HilbertExpression.hilbertIndex(_, _, rankBits))
      .write.mode("overwrite").parquet(path)

  /** Write `df` z-ordered on (`cx`, `cy`): range-partition by the Morton
    * value into `files` output files, sort within each, drop the key. The
    * range partitioner's sampled bounds make the files near-equal-sized
    * regardless of key skew; each file covers one contiguous z-range ⇒
    * tight per-file min/max on both columns.
    *
    * The curve runs over min/max-NORMALIZED rank space (`rankBits` bits
    * per dimension), not raw values: raw interleave degrades to a
    * single-column sort whenever one key's domain is wider than the
    * other's (a 4-bit user_id against a 20-bit event_id contributes no
    * high z-bits, so file boundaries split only the wide key — measured
    * zero dim-2 pruning before this normalization). Normalization is one
    * 4-scalar agg broadcast into the projection — no collect, no extra
    * shuffle; a skew-robust upgrade is quantile ranks from
    * approx_percentile cut points, same plumbing. (x−min)·2^rankBits
    * must fit a long: rankBits=12 leaves 51 bits of key span. */
  def writeZOrdered(df: DataFrame, path: String, cx: String, cy: String,
                    files: Int, rankBits: Int = 12): Unit =
    zClustered(df, cx, cy, files, rankBits)
      .write.mode("overwrite").parquet(path)

  /** The normalized-rank Morton clustering shape shared by the batch
    * writer and the streaming clustered sink. */
  private def zClustered(df: DataFrame, cx: String, cy: String,
                         files: Int, rankBits: Int): DataFrame =
    curveClustered(df, cx, cy, files, rankBits, zorder2(_, _, rankBits))

  /** Rank-normalize, compute a space-filling-curve key, range-partition
    * and sort by it — the clustering plumbing shared by the Morton and
    * Hilbert writers (the curve is the only pluggable piece). */
  private def curveClustered(df: DataFrame, cx: String, cy: String,
      files: Int, rankBits: Int,
      curve: (Column, Column) => Column): DataFrame = {
    val stats = df.agg(
      min(col(cx)).cast("long").as("__xmin"),
      max(col(cx)).cast("long").as("__xmax"),
      min(col(cy)).cast("long").as("__ymin"),
      max(col(cy)).cast("long").as("__ymax"))
    val scale = 1L << rankBits
    def rank(c: String, lo: String, hi: String) =
      (col(c).cast("long") - col(lo)) * scale / (col(hi) - col(lo) + 1L)
    df.crossJoin(broadcast(stats))
      .withColumn("__z", curve(
        rank(cx, "__xmin", "__xmax"), rank(cy, "__ymin", "__ymax")))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z", "__xmin", "__xmax", "__ymin", "__ymax")
  }

  /** Idempotent micro-batch sink body for `writeStream.foreachBatch`:
    * overwrite only this batch's partition — re-delivered batches replace
    * themselves, giving effectively-once file output.
    */
  def writeIdempotent(batch: DataFrame, batchId: Long, path: String): Unit =
    idempotentOverwrite(batch, batchId, path)(identity)

  /** Clustered idempotent sink: [[writeIdempotent]]'s exactly-once
    * batch_id=N layout with each batch's files Z-ORDERED on (`cx`, `cy`)
    * before landing — streaming ingest that keeps the table clustered as
    * it grows, so range predicates on either key prune row groups inside
    * EVERY batch partition (qx17's envelope property, maintained
    * incrementally; a periodic compaction folds batch partitions into
    * fewer, still-clustered files exactly as it would fold sizes). */
  def writeClusteredBatch(batch: DataFrame, batchId: Long, path: String,
      cx: String, cy: String, files: Int, rankBits: Int = 12): Unit =
    idempotentOverwrite(batch, batchId, path)(
      zClustered(_, cx, cy, files, rankBits))

  /** Compaction for a [[writeClusteredBatch]] table: fold the accumulated
    * batch_id partitions into ONE globally z-clustered table (the
    * OPTIMIZE step after streaming ingest). Per-batch clustering keeps
    * envelopes tight WITHIN each batch, but every batch spans the whole
    * key space — a predicate pays its pruning fraction once per batch and
    * the file count grows with ingest. Compacting re-clusters across
    * batches: same content (spec-pinned), bounded file count, one set of
    * envelopes. The new table is staged beside the old and replaces all
    * of it in one [[graft.store.PartitionedStore]] commit (its scaladoc
    * holds the protocol): a failed compaction is rolled back at once,
    * and after a crash the next compaction restores the table before it
    * reads it. */
  def compactClustered(spark: SparkSession, path: String,
      cx: String, cy: String, files: Int, rankBits: Int = 12): Unit =
    compactClusteredWith(FileOps(spark, path))(spark, path, cx, cy, files, rankBits)

  private[graft] def compactClusteredWith(ops: FileOps)(spark: SparkSession,
      path: String, cx: String, cy: String, files: Int, rankBits: Int): Unit = {
    val store = new PartitionedStore(spark, path, Seq(""), ops)
    store.transact(PartitionedStore.Replace.All) {
      writeZOrdered(spark.read.parquet(path).drop("batch_id"),
        store.stageDir(""), cx, cy, files, rankBits)
    }
  }

  private def idempotentOverwrite(batch: DataFrame, batchId: Long,
      path: String)(shape: DataFrame => DataFrame): Unit = {
    val spark = batch.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try shape(batch).withColumn("batch_id", lit(batchId))
      .write
      .partitionBy("batch_id")
      .mode("overwrite")
      .parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }
}
