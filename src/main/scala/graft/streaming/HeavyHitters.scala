package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues}

/** Streaming approximate heavy hitters with BOUNDED state — the production
  * form of qst24's leaderboard (VERDICT r09 Next #1). qst24 keeps one
  * aggregation row per key and re-sorts the whole keyspace per trigger;
  * at a 100 TB key universe that state is untenable. This operator keeps a
  * SpaceSaving summary (Metwally et al., "Efficient Computation of
  * Frequent and Top-k Elements in Data Streams", ICDT 2005 — public
  * algorithm) of FIXED capacity `m` per shard: total state is exactly
  * `shards × m` counters no matter how many distinct keys flow through —
  * the analogue of qst21's HLL treatment of countDistinct, applied to
  * top-k.
  *
  * Sharding: each key belongs to exactly ONE shard (`key mod shards`), so
  * a key's whole mass lands in one summary and the per-shard SpaceSaving
  * guarantees apply to its TOTAL count. `shards` is the parallelism knob
  * (a fleet spreads shards across executors); `m` is the accuracy knob.
  *
  * SpaceSaving invariants (per shard with `n_s` rows absorbed) — these are
  * ARRIVAL-ORDER-INDEPENDENT, which is what makes the gate deterministic
  * under any micro-batch split or shuffle order:
  *   1. overestimate only:  true ≤ est,  and  est − err ≤ true;
  *   2. err ≤ min-est ≤ n_s / m;
  *   3. every key with true count > n_s / m is IN the summary.
  * qst26 checks all three against the exact batch counts (q18/qst21's
  * property-gate pattern).
  *
  * State layout: one ListState["summary"] of (key, est, err) triples per
  * shard, capped at `m` entries — auditable from the checkpoint via the
  * state reader (qst23's path), which is exactly how qst26 extracts the
  * final summary: the sketch IS the state.
  *
  * Reference capability analogue: A6's approx-distinct row
  * [sbx/Values.h:2190-2205] — the same replace-exact-state-with-a-sketch
  * move, for the top-k aggregation instead of distinct-count.
  */
object HeavyHitters {

  final case class KeyEvent(shard: Int, key: Long)
  final case class SketchEntry(shard: Int, key: Long, est: Long, err: Long)

  /** SpaceSaving per shard. Batch rows are processed in sorted key order so
    * a bounded replay with fixed batch boundaries is bit-deterministic; the
    * correctness properties above hold under ANY order. */
  private class SpaceSavingProcessor(m: Int)
      extends StatefulProcessor[Int, KeyEvent, SketchEntry] {
    // resolved driver-side: Encoders.product from executor-side init()
    // livelocks under concurrent tasks (see BlockDedup.KeeperProcessor)
    private val entryEnc = Encoders.product[(Long, Long, Long)]
    @transient private var summary: ListState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      summary = getHandle.getListState("summary", entryEnc,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Int, rows: Iterator[KeyEvent],
        timerValues: TimerValues): Iterator[SketchEntry] = {
      // (key → (est, err)); LinkedHashMap keeps rebuild order stable
      val counters = scala.collection.mutable.LinkedHashMap.empty[Long, (Long, Long)]
      summary.get().foreach { case (k, est, err) => counters(k) = (est, err) }
      rows.toArray.sortBy(_.key).foreach { r =>
        counters.get(r.key) match {
          case Some((est, err)) => counters(r.key) = (est + 1, err)
          case None if counters.size < m => counters(r.key) = (1L, 0L)
          case None =>
            // evict the min-est entry (smallest key on ties — determinism);
            // the newcomer inherits its count as the overestimate bound
            val (mk, (mEst, _)) = counters.minBy { case (k, (est, _)) => (est, k) }
            counters.remove(mk)
            counters(r.key) = (mEst + 1, mEst)
        }
      }
      val entries = counters.toArray.map { case (k, (est, err)) => (k, est, err) }
      summary.clear()
      summary.appendList(entries)
      entries.iterator.map { case (k, est, err) => SketchEntry(key, k, est, err) }
    }
  }

  /** `keyed` must have a LONG `key` column (non-negative). Returns the
    * per-trigger summary emission; the authoritative final summary lives in
    * the checkpoint's "summary" ListState. */
  def sketch(keyed: DataFrame, shards: Int, m: Int): Dataset[SketchEntry] = {
    val spark = keyed.sparkSession
    import spark.implicits._
    keyed
      .select((col("key") % shards).cast("int").as("shard"), col("key"))
      .as[KeyEvent]
      .groupByKey(_.shard)
      .transformWithState(new SpaceSavingProcessor(m), TimeMode.None(),
        OutputMode.Update())
  }
}
