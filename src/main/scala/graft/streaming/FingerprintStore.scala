package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Log-structured persisted fingerprint store — the INGEST face of the
  * qst43 screen (VERDICT r17 Next #1). The r17 store was build-once
  * ([[FingerprintStore.write]]): the "fingerprint-once / screen-many"
  * story had no path for a screened batch's accepted documents to join
  * the store, so every corpus refresh meant a full rebuild. This class
  * closes the loop with qd18's log-structured move applied to the
  * fingerprint index:
  *
  *  - '''append''' (per ingest batch): the batch's distinct fingerprints
  *    are anti-joined against the store through the SAME pruned scan the
  *    screen uses (partition pruning on the batch's ≤fanout hp set, the
  *    capped h-IN parquet pushdown over h-sorted files), so finding the
  *    NOVEL fingerprints costs what one screen costs — O(batch), never
  *    O(|store|). Novel rows are written partition-LOCALLY: one new
  *    h-sorted file per touched `hp=` directory (parquet append mode —
  *    existing files are never rewritten). The store therefore holds
  *    distinct h BY CONSTRUCTION at every point, which the screen's
  *    left-join rollup requires (duplicate store rows would double-count
  *    `n_shared` AND `n_fps`).
  *  - '''compact''' (amortized, every [[FingerprintStore.CompactEvery]]
  *    appends): folds each partition's accumulated append files into one
  *    h-sorted file — appends grow the per-task FILE count, and file
  *    count is the screen's task-overhead unit once pages are pruned by
  *    the h-IN filter. Compaction is also where FANOUT GROWS: partition
  *    count re-derives from the live row count ([[fanoutFor]]), and
  *    because fanouts are powers of two, `h % 2f` splits each old
  *    partition into exactly two — the rewrite is O(|store|) but runs
  *    once per doubling, so re-layout work amortizes to O(1) per
  *    ingested row over the store's life (the LSM argument, same as
  *    qd18's per-C-batches compact).
  *  - '''crash safety''': compaction stages the full new layout beside
  *    the live dir, then swaps via two same-filesystem directory renames
  *    (atomic). [[FingerprintStore.recover]] resolves any crash point
  *    from what exists on disk: live+aside → the live dir is a complete
  *    new layout (rename atomicity), drop the aside; aside only → the
  *    swap never placed the stage, restore the aside. The meta sidecar
  *    lives INSIDE the layout dir, so fanout and data commit together;
  *    per-append meta updates go through a temp-file + atomic rename.
  *    Appends themselves are crash-safe via the parquet committer (files
  *    invisible until job commit); a crash between data and meta commit
  *    only UNDERCOUNTS `rows`, which can delay a fanout doubling but
  *    never breaks reads (the probe hashes with the fanout recorded in
  *    meta, which always matches the layout). Single sequential writer
  *    assumed — concurrent appends are the table-format upgrade, out of
  *    scope like qd18's.
  *
  * Scale shape at 100 TB: per-batch append IO = one screen + one
  * file-per-touched-partition write; compaction is partition-parallel
  * and amortized; the store itself is only ever read through
  * partition-pruned, page-pruned scans. The qst44 gate proves
  * incremental ≡ one-shot semantics by hashing against qt22's oracle
  * verbatim after N append batches; ScreenIngestCurve measures the
  * per-batch cost flat while the store grows.
  */
private[graft] final class FingerprintStore(s: SparkSession, val dir: String) {
  import FingerprintStore._

  private var meta: Meta = readMeta(s, dir)
  private var appendsSinceCompact = 0

  def fanout: Int = meta.fanout
  def rows: Long = meta.rows

  /** The full store as (h, hp) — spec/probe surface, full scan. */
  def distinctH: DataFrame = storeScan(s, dir)

  /** Append `hRows` (any frame with a long `h` column): dedups the batch,
    * anti-joins it against the pruned store, writes the novel rows
    * partition-locally, returns the novel count. */
  def append(hRows: DataFrame): Long = {
    val fps = hRows.select(col("h")).distinct()
      .withColumn("hp", fpPrefix(fanout))
      .localCheckpoint(true)
    val pruned = prunedScan(s, dir, fps, ScreenProbePushdownCap, fanout)
    // novel = batch minus store; the pruned scan is EXACT for the anti
    // join (store rows outside the batch's hp set / h values cannot match
    // any batch row, and the anti join only asks which batch rows match).
    // Eager checkpoint: materialize BEFORE writing into the same dir the
    // plan reads from — novel must never lazily re-list the store mid-
    // append. Batch-bounded, same bound as fps itself.
    val novel = fps.join(pruned, Seq("hp", "h"), "left_anti")
      .localCheckpoint(true)
    val n = novel.count()
    if (n > 0) {
      val touched = novel.select(col("hp")).distinct().count().toInt
      novel.repartition(touched, col("hp"))
        .sortWithinPartitions(col("hp"), col("h"))
        .write.mode("append").partitionBy("hp").parquet(dir)
      meta = meta.copy(rows = meta.rows + n)
      writeMeta(s, dir, meta)
    }
    appendsSinceCompact += 1
    if (appendsSinceCompact >= CompactEvery) compact()
    n
  }

  /** Fold append files and re-derive fanout from the live row count; see
    * class doc for the amortization and crash-safety arguments.
    * `partRows` is a parameter so specs and the ScreenIngestCurve probe
    * can exercise fanout growth at test scale. */
  def compact(partRows: Long = ScreenPartRows): Unit = {
    val live = storeScan(s, dir)
    val n = live.count() // exact — self-heals any meta undercount
    val f = fanoutFor(n, partRows)
    val stage = s"$dir.compact"
    rmTree(new java.io.File(stage))
    live.select(col("h")).withColumn("hp", fpPrefix(f))
      .repartition(f, col("hp"))
      .sortWithinPartitions(col("hp"), col("h"))
      .write.mode("overwrite").partitionBy("hp").parquet(stage)
    writeMeta(s, stage, Meta(f, n))
    // atomic two-rename swap; recover() resolves any crash point
    val aside = new java.io.File(s"$dir.aside")
    require(new java.io.File(dir).renameTo(aside), s"aside move failed: $dir")
    require(new java.io.File(stage).renameTo(new java.io.File(dir)),
      s"stage place failed: $stage")
    rmTree(aside)
    meta = Meta(f, n)
    appendsSinceCompact = 0
  }
}

private[graft] object FingerprintStore {

  /** Rows-per-partition target for the content-hash fanout. Files are
    * h-sorted and the screen pushes its probe values as an h-IN parquet
    * filter, so partition SIZE is no longer the screen's IO unit — page
    * pruning is — while partition COUNT is the task/file-overhead unit
    * (each probed prefix pays a task and at least one file open). The
    * r17 same-sitting A/B showed exactly that: at a 9.2M-row store,
    * clamped fanout 16 + pushdown beat the 65536-rows/partition scaling
    * (fanout 256) by ~1.7× (SCREEN_AB_r17). Default raised 65536 →
    * 1048576 accordingly (VERDICT r17 Next #2; the r18 two-tier A/B is
    * the measured justification) — env-overridable so a deployment can
    * size partitions for its file system, and ScreenCurve can sweep it. */
  private[graft] val ScreenPartRows: Long =
    sys.env.get("SPARK_GRAFT_SCREEN_PART_ROWS").map(_.toLong)
      .getOrElse(1048576L)

  /** Upper fanout clamp — env-overridable so the ScreenCurve probe can
    * emulate the beyond-clamp regime (a store that outgrew its fanout)
    * at test scale and A/B the h-IN page-pruning lever there. */
  private[graft] val ScreenFanoutMax: Int =
    sys.env.get("SPARK_GRAFT_SCREEN_FANOUT_MAX").map(_.toInt).getOrElse(4096)

  /** Probe-size cap for pushing the batch's fingerprint VALUES into the
    * store scan as an `h IN (...)` parquet filter. Above the cap (a
    * catch-up batch) the IN list itself would bloat the plan; partition
    * pruning alone still applies. Env-overridable so the ScreenCurve
    * probe can A/B the lever (0 disables). */
  private[graft] val ScreenProbePushdownCap: Int =
    sys.env.get("SPARK_GRAFT_SCREEN_PUSHDOWN_CAP").map(_.toInt).getOrElse(32768)

  /** Appends between compactions — the amortization constant C of the
    * log-structured trade (qd18's argument): per-partition file count is
    * bounded by C, compaction cost is paid every C batches. */
  private[graft] val CompactEvery: Int =
    sys.env.get("SPARK_GRAFT_SCREEN_COMPACT_EVERY").map(_.toInt).getOrElse(8)

  /** Store fanout for a fingerprint row count: ~partRows rows per
    * partition, clamped to [16, ScreenFanoutMax]. Powers of two so a
    * grown store's re-partitioning splits each old partition cleanly in
    * two per doubling. */
  private[graft] def fanoutFor(rows: Long,
      partRows: Long = ScreenPartRows): Int = {
    var f = 16
    while (f < ScreenFanoutMax && rows / f > partRows) f *= 2
    f
  }

  /** Content-hash partition key over the winnowed fingerprint value (a
    * 64-bit rolling hash, so the low bits are uniform), at the store's
    * recorded fanout. */
  private[graft] def fpPrefix(fanout: Int): Column =
    pmod(col("h"), lit(fanout)).cast("int")

  private[graft] final case class Meta(fanout: Int, rows: Long)

  private def metaPath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_graft_index_meta.json")

  private def hadoopFs(s: SparkSession, dir: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), s.sparkContext.hadoopConfiguration)

  /** Meta write via temp file + atomic rename — a crash mid-write never
    * leaves a torn sidecar. */
  private[graft] def writeMeta(s: SparkSession, dir: String, m: Meta): Unit = {
    val fs = hadoopFs(s, dir)
    val tmp = new org.apache.hadoop.fs.Path(dir, "._graft_index_meta.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"""{"fanout":${m.fanout},"rows":${m.rows}}"""
      .getBytes("UTF-8")) finally out.close()
    fs.delete(metaPath(dir), false)
    require(fs.rename(tmp, metaPath(dir)), s"meta rename failed in $dir")
  }

  /** `rows` defaults to -1 for pre-r18 sidecars ({"fanout":F} only) —
    * the first compact() self-heals it from a live count. */
  private[graft] def readMeta(s: SparkSession, dir: String): Meta = {
    val fs = hadoopFs(s, dir)
    val in = fs.open(metaPath(dir))
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
    Meta(node.get("fanout").asInt(),
      Option(node.get("rows")).map(_.asLong()).getOrElse(-1L))
  }

  /** The store as a batch frame with explicit schema: the partition
    * values must read back as the int the probe side computes,
    * independent of partition-value type inference. */
  private[graft] def storeScan(s: SparkSession, dir: String): DataFrame =
    s.read.schema(StructType(Seq(
        StructField("h", LongType), StructField("hp", IntegerType))))
      .parquet(dir)

  /** The pruned store scan both the screen and the append anti-join read:
    * partition-pruned to the batch's prefix set, page-pruned by the
    * capped h-IN pushdown. Both driver probes are bounded BY CONSTRUCTION
    * (VERDICT r17 #1): the prefix set is ≤ fanout ≤ ScreenFanoutMax rows
    * (hp is pmod(h, fanout) — the distinct runs distributed, the driver
    * only sees its bounded image), and the value probe is limit(cap + 1)
    * — an over-cap batch materializes at most cap + 1 longs before the
    * pushdown is skipped, never the full distinct set. */
  private[graft] def prunedScan(s: SparkSession, dir: String, fps: DataFrame,
      pushdownCap: Int, fanout: Int): DataFrame = {
    val hps = fps.select(col("hp")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    val hVals = fps.select(col("h")).distinct()
      .limit(pushdownCap + 1).collect().map(_.getLong(0))
    val scan = storeScan(s, dir).filter(col("hp").isin(hps: _*))
    if (hVals.length <= pushdownCap)
      scan.filter(col("h").isin(hVals.toSeq: _*))
    else scan
  }

  /** One-shot index build: parquet partitioned by hp at a row-count-
    * scaled fanout, one h-SORTED file per partition (sorted pages make
    * the screen's pushed `h IN` filter prune at row-group/page
    * granularity), plus the meta sidecar recording the fanout the probe
    * side must hash with. Store distinctness — which the screen's
    * left-join rollup requires — is enforced HERE, not assumed of the
    * caller: the `.distinct()` is a no-op exchange for the production
    * path (already distinct; RemoveRedundantAggregates collapses it) and
    * closes the silent-overcount hazard for probe callers feeding salted
    * tiers whose cross-copy h values could collide (ADVICE r17). The
    * qst44 spec pins that N appends + compact produce EXACTLY this
    * store's content. */
  private[graft] def write(hRows: DataFrame, dir: String): Unit = {
    // corpus-sized distinct-fingerprint frame: materialize once (LocalDisk
    // strategy) so the fanout count and the write don't recompute the
    // winnowing regex pass twice
    val fps = graft.ext.CheckpointStrategy.LocalDisk(hRows.distinct())
    val f = fanoutFor(fps.count())
    fps.withColumn("hp", fpPrefix(f))
      .repartition(f, col("hp"))
      .sortWithinPartitions(col("hp"), col("h"))
      .write.partitionBy("hp").parquet(dir)
    writeMeta(hRows.sparkSession, dir,
      Meta(f, -1L)) // rows self-heals at first compact; the one-shot
                    // build path never appends, so -1 is only ever read
                    // by a store later OPENED for ingest
  }

  /** Create an empty store (fanout 16, zero rows) ready for appends. */
  private[graft] def create(s: SparkSession, dir: String): FingerprintStore = {
    import s.implicits._
    Seq.empty[(Long, Int)].toDF("h", "hp")
      .repartition(1).write.partitionBy("hp").parquet(dir)
    writeMeta(s, dir, Meta(16, 0L))
    new FingerprintStore(s, dir)
  }

  /** Open an existing store, resolving any interrupted compaction swap
    * first (see [[recover]]). */
  private[graft] def open(s: SparkSession, dir: String): FingerprintStore = {
    recover(dir)
    new FingerprintStore(s, dir)
  }

  /** Resolve an interrupted compaction from what exists on disk. Both
    * swap renames are same-filesystem directory renames, hence atomic:
    *  - live + aside present → the live dir is a COMPLETE layout (either
    *    the stage was atomically placed, or the aside move never
    *    happened and the aside is a stray) → drop the aside;
    *  - aside only → crash between the two renames → restore the aside;
    *  - a leftover `.compact` stage is garbage either way. */
  private[graft] def recover(dir: String): Unit = {
    val live = new java.io.File(dir)
    val aside = new java.io.File(s"$dir.aside")
    if (aside.exists()) {
      if (live.exists()) rmTree(aside)
      else require(aside.renameTo(live), s"aside restore failed: $aside")
    }
    rmTree(new java.io.File(s"$dir.compact"))
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }
}
