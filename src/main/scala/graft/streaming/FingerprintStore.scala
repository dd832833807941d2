package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.store.{FileOps, PartitionedStore}
import graft.store.PartitionedStore.Replace

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
  *    h-sorted file per touched `hp=` directory (existing files are
  *    never rewritten). The store therefore holds distinct h BY
  *    CONSTRUCTION at every point, which the screen's left-join rollup
  *    requires (duplicate store rows would double-count
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
  *  - '''crash safety''': every append and compaction is ONE commit of the
  *    data and the meta (fanout, row count) through
  *    [[graft.store.PartitionedStore]] (its scaladoc holds the protocol),
  *    so the fanout in meta always matches every row's `hp`; the meta is
  *    re-read from disk by every operation, never cached.
  *
  * Scale shape at 100 TB: per-batch append IO = one screen + one
  * file-per-touched-partition write; compaction is partition-parallel
  * and amortized; the store itself is only ever read through
  * partition-pruned, page-pruned scans. The qst44 gate proves
  * incremental ≡ one-shot semantics by hashing against qt22's oracle
  * verbatim after N append batches; SCREEN_INGEST_r20.jsonl records the
  * per-batch cost while the store grows.
  */
private[graft] final class FingerprintStore(s: SparkSession, val dir: String,
    ops: FileOps) {
  import FingerprintStore._

  private val store = new PartitionedStore(s, dir, Seq(""), ops)
  private var appendsSinceCompact = 0

  def meta: Meta = parseMeta(store.meta.getOrElse(
    throw new java.io.FileNotFoundException(s"no store meta in $dir")))
  def fanout: Int = meta.fanout
  def rows: Long = meta.rows

  /** The full store as (h, hp) — spec/probe surface, full scan. */
  def distinctH: DataFrame = storeScan(s, dir)

  /** Append `hRows` (any frame with a long `h` column): dedups the batch,
    * anti-joins it against the pruned store, writes the novel rows
    * partition-locally, returns the novel count. */
  def append(hRows: DataFrame): Long = {
    val m = meta
    val fps = hRows.select(col("h")).distinct()
      .withColumn("hp", fpPrefix(m.fanout))
      .localCheckpoint(true)
    val pruned = prunedScan(s, dir, fps, ScreenProbePushdownCap, m.fanout)
    // novel = batch minus store; the pruned scan is EXACT for the anti
    // join (store rows outside the batch's hp set / h values cannot match
    // any batch row, and the anti join only asks which batch rows match).
    // Eager checkpoint: the count and the staged write read it once.
    val novel = fps.join(pruned, Seq("hp", "h"), "left_anti")
      .localCheckpoint(true)
    val n = novel.count()
    if (n > 0)
      store.transact(Replace.Append, Some(m.copy(rows = m.rows + n).json)) {
        store.stage("", novel, "hp", "h")
      }
    appendsSinceCompact += 1
    if (appendsSinceCompact >= CompactEvery) compact()
    n
  }

  /** Fold append files and re-derive fanout from the live row count; see
    * class doc for the amortization argument. The new layout replaces
    * every partition, and the meta, in one commit. `partRows` is a
    * parameter so specs can exercise fanout growth at test scale. */
  def compact(partRows: Long = ScreenPartRows): Unit = {
    val live = storeScan(s, dir)
    val n = live.count() // exact — self-heals any meta undercount
    val f = fanoutFor(n, partRows)
    store.transact(Replace.All, Some(Meta(f, n).json)) {
      store.stage("", live.select(col("h")).withColumn("hp", fpPrefix(f)),
        "hp", "h")
    }
    appendsSinceCompact = 0
  }
}

private[graft] object FingerprintStore {

  /** Rows-per-partition target for the content-hash fanout. Files are
    * h-sorted and the screen pushes its probe values as an h-IN parquet
    * filter, so page pruning is the screen's IO unit while partition
    * COUNT is its task/file-overhead unit: at a 9.2M-row store, clamped
    * fanout 16 + pushdown beat the 65536-rows/partition scaling (fanout
    * 256) by ~1.7× (SCREEN_AB_r17, SCREEN_CURVE_r18). */
  private[graft] val ScreenPartRows: Long = 1048576L

  /** Upper fanout clamp. */
  private[graft] val ScreenFanoutMax: Int = 4096

  /** Probe-size cap for pushing the batch's fingerprint VALUES into the
    * store scan as an `h IN (...)` parquet filter. Above the cap (a
    * catch-up batch) the IN list itself would bloat the plan; partition
    * pruning alone still applies. */
  private[graft] val ScreenProbePushdownCap: Int = 32768

  /** Appends between compactions — the amortization constant C of the
    * log-structured trade (qd18's argument): per-partition file count is
    * bounded by C, compaction cost is paid every C batches. */
  private[graft] val CompactEvery: Int = 8

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

  private[graft] final case class Meta(fanout: Int, rows: Long) {
    def json: String = s"""{"fanout":$fanout,"rows":$rows}"""
  }

  /** `rows` defaults to -1 for pre-r18 sidecars ({"fanout":F} only) —
    * the first compact() self-heals it from a live count. */
  private def parseMeta(txt: String): Meta = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
    Meta(node.get("fanout").asInt(),
      Option(node.get("rows")).map(_.asLong()).getOrElse(-1L))
  }

  private[graft] def readMeta(s: SparkSession, dir: String): Meta =
    parseMeta(FileOps(s, dir).read(s"$dir/${PartitionedStore.MetaFile}"))

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
    val s = hRows.sparkSession
    // corpus-sized distinct-fingerprint frame: materialize once (LocalDisk
    // strategy) so the fanout count and the write don't recompute the
    // winnowing regex pass twice
    val fps = graft.ext.CheckpointStrategy.LocalDisk(hRows.distinct())
    val f = fanoutFor(fps.count())
    // rows = -1 self-heals at first compact; the one-shot build path never
    // appends, so -1 is only ever read by a store later OPENED for ingest
    val store = new PartitionedStore(s, dir, Seq(""), FileOps(s, dir))
    store.transact(Replace.All, Some(Meta(f, -1L).json)) {
      store.stage("", fps.withColumn("hp", fpPrefix(f)), "hp", "h")
    }
  }

  /** Create an empty store (fanout 16, zero rows) ready for appends. */
  private[graft] def create(s: SparkSession, dir: String): FingerprintStore = {
    new PartitionedStore(s, dir, Seq(""), FileOps(s, dir))
      .transact(Replace.Append, Some(Meta(16, 0L).json))(())
    open(s, dir)
  }

  /** Open an existing store, recovering an interrupted append or
    * compaction first. */
  private[graft] def open(s: SparkSession, dir: String): FingerprintStore =
    new FingerprintStore(s, dir, FileOps(s, dir))
}
