package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import org.apache.spark.util.LongAccumulator

/** Streaming near-duplicate filtering — the streaming face of the batch
  * SimHash pipeline (qd06/qd07): what an LLM ingest pipeline actually runs,
  * dropping a document on arrival when it is a near-dup of anything already
  * seen. Reference analogue: the stateful dedup/window operators the
  * benchmark exercises per-key [sbx/YahooMapper.h:53-99]; here state is keyed
  * by SimHash band.
  *
  * Mechanics: each doc's 48-bit SimHash (identical expression to the batch
  * qd06 — graft.functions.TokenSimHash) is split into 4 × 12-bit chunks;
  * a doc flows to the 4 chunk buckets, and a `transformWithState` processor
  * per (chunk-index, chunk-value) bucket flags it against every bucket-mate
  * with Hamming distance ≤ 12 (RocksDB-backed ListState). A doc is dropped
  * iff flagged in ANY of its 4 buckets — same recall guarantee as qd07
  * (any Hamming ≤ 3 pair shares at least one exact chunk).
  *
  * Determinism contract (what makes qst10 oracle-gatable): "earlier" is
  * doc_id order, not arrival order — doc b is a duplicate iff some doc a
  * with a.doc_id < b.doc_id is within the Hamming bound, whether a arrived
  * before or after b and whether a itself was kept (cascade-free, matching
  * the qd07 pair semantics). The contract holds under ANY micro-batch split
  * of the input, including out-of-order arrival: within a trigger the batch
  * is processed in doc_id order, and when a doc r arrives AFTER a
  * higher-doc_id bucket-mate a that r retroactively makes a duplicate
  * (a.doc_id > r.doc_id, Hamming ≤ bound), the processor re-emits a's flag
  * row with dup=1 — the sink-side max(dup) reduction merges the correction
  * with a's earlier dup=0 row.
  *
  * State bound (100 TB ingest): `bucketCap` — the streaming face of the
  * batch [[graft.ext.Dedup.BucketCap]], with the SAME semantics as qd07's
  * capped oracle: a bucket whose membership exceeds the cap produces no
  * near-dup flags at all. The processor enforces it by POISONING: the
  * moment a bucket's cumulative membership would pass the cap it emits a
  * poison marker row, clears its list state (so per-bucket state is ≤ cap
  * entries + one bit, ever after one bit), and stops comparing; the
  * sink-side reduction discards every dup flag from a poisoned bucket.
  * This keeps the any-split determinism guarantee THROUGH the cap: a
  * bucket's final membership count is arrival-order independent, so
  * whether it ends poisoned is too — whichever trigger crosses the cap,
  * the marker eventually lands and invalidates the same bucket's flags.
  * The gated qst10 runs at `Dedup.BucketCap` and its DuckDB oracle states
  * the identical rule (HAVING count(*) <= cap on the candidate buckets —
  * the qd07/qd13 capped form). The `evictions` accumulator is an
  * AT-LEAST signal of poisoned-bucket traffic, not an exact dropped-entry
  * count: the poisoning trigger adds nPrior + batch, every later batch
  * routed to the dead bucket adds again, and Spark may re-add on task
  * retry. Nonzero ⇔ the cap engaged somewhere (mirroring
  * Dedup.oversizedLshBuckets); SOAK_FULL_r12–r14.jsonl's
  * `soak_stream_neardup` rows record it on a 30× corpus.
  *
  * `ttl` additionally bounds state by a processing-time dedup horizon
  * (RocksDB-native expiry) — a wall-clock trade, deliberately NOT part of
  * the gated config since expiry timing is not deterministic.
  *
  * The shuffle carries only (chunk-key, doc_id, simhash) — 4 compact rows
  * per doc, never text.
  */
object NearDupDedup {

  final case class ChunkDoc(c: Int, chunk: Long, docId: Long, simhash: Long)

  /** One flag row per doc per bucket per trigger. `poisoned = 1` rows are
    * bucket-level markers (docId = −1), not doc flags. */
  final case class ChunkFlag(c: Int, chunk: Long, docId: Long, simhash: Long,
      dup: Long, poisoned: Long)

  private class BucketProcessor(ttl: TTLConfig, bucketCap: Int,
      hammingMax: Int, evictions: Option[LongAccumulator])
      extends StatefulProcessor[(Int, Long), ChunkDoc, ChunkFlag] {
    // driver-side once: Encoders.product from init() (per task, on
    // executors) livelocks Scala reflection's TypeTag lock under
    // concurrent tasks — see BlockDedup.KeeperProcessor
    private val seenEnc = Encoders.product[(Long, Long)]
    @transient private var seen: ListState[(Long, Long)] = _
    @transient private var dead: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      seen = getHandle.getListState[(Long, Long)]("seen", seenEnc, ttl)
      dead = getHandle.getValueState[Boolean]("poisoned",
        Encoders.scalaBoolean, ttl)
    }

    override def handleInputRows(key: (Int, Long), rows: Iterator[ChunkDoc],
        timerValues: TimerValues): Iterator[ChunkFlag] = {
      val (c, chunk) = key
      // Sort batch-mates by doc_id so the "earlier doc" rule is evaluated
      // identically whether two docs share a micro-batch or not.
      val batch = rows.toArray.sortBy(_.docId)
      def ownRows = batch.iterator.map(r =>
        ChunkFlag(c, chunk, r.docId, r.simhash, 0L, 0L))
      if (dead.exists()) {
        // Poisoned bucket: docs still surface (the sink needs the full doc
        // universe) but nothing is stored or compared here.
        evictions.foreach(_.add(batch.length))
        return ownRows
      }
      val state = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val it = seen.get()
      while (it.hasNext) state += it.next()
      val nPrior = state.size // entries emitted in earlier triggers
      if (nPrior + batch.length > bucketCap) {
        // Final membership exceeds the cap (counts only grow, so this is
        // arrival-order independent): poison. The marker tells the sink to
        // discard every dup flag this bucket ever produced — qd07's
        // "oversized buckets produce no pairs", enforced online.
        dead.update(true)
        seen.clear()
        evictions.foreach(_.add(nPrior + batch.length))
        return Iterator.single(ChunkFlag(c, chunk, -1L, 0L, 0L, 1L)) ++ ownRows
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[ChunkFlag]
      batch.foreach { r =>
        var dup = false
        var i = 0
        while (i < state.size) {
          val (aid, ash) = state(i)
          if (java.lang.Long.bitCount(ash ^ r.simhash) <= hammingMax) {
            if (aid < r.docId) dup = true
            // Out-of-order correction: an earlier trigger emitted dup=0
            // for aid, and r (a lower doc_id inside the Hamming bound)
            // retroactively makes it a duplicate under the doc_id-ordered
            // rule. Re-emit with dup=1; the sink-side max(dup) merges.
            // (i < nPrior is implied for aid > r.docId: batch-mates
            // already in `state` sort before r.)
            else if (i < nPrior && aid > r.docId)
              out += ChunkFlag(c, chunk, aid, ash, 1L, 0L)
          }
          i += 1
        }
        state += ((r.docId, r.simhash))
        out += ChunkFlag(c, chunk, r.docId, r.simhash, if (dup) 1L else 0L, 0L)
      }
      batch.foreach(r => seen.appendValue((r.docId, r.simhash)))
      out.iterator
    }
  }

  /** (doc_id, simhash) frame → one ChunkDoc per band chunk. Same chunking
    * arithmetic as the batch qd07 bucket stage; the simhash column must
    * carry `scheme.simBits` bits (Dedup.withSimhash(_, scheme.simBits)). */
  private def chunked(sim: DataFrame,
      scheme: graft.ext.Dedup.BandScheme): Dataset[ChunkDoc] =
    sim.select(explode(scheme.chunks).as("cd"),
        col("doc_id").as("docId"), col("simhash"))
      .select(col("cd.c"), col("cd.chunk"), col("docId"), col("simhash"))
      .as[ChunkDoc](Encoders.product[ChunkDoc])

  /** Per-chunk duplicate flags for a streaming (doc_id, simhash) frame: one
    * (c, chunk, docId, simhash, dup, poisoned=0) row per doc per chunk per
    * trigger, dup=1 correction rows when out-of-order arrival retroactively
    * flags an earlier emission, and one (c, chunk, −1, 0, 0, 1) poison
    * marker per bucket whose membership passes `bucketCap`. A doc is a
    * near-duplicate iff it has a dup=1 row in some NON-poisoned bucket —
    * the final reduction runs wherever the flags land (sink-side at test,
    * a downstream stage in production); the poisoned-bucket key set is
    * bounded by the chunk keyspace (≤ 4·2^12), so it broadcasts
    * legitimately. State per bucket is ≤ bucketCap list entries (one bit
    * once poisoned), optionally TTL-bounded. Requires the RocksDB state
    * store provider (transformWithState contract). */
  def flagNearDuplicates(sim: DataFrame,
      ttl: TTLConfig = TTLConfig.NONE,
      bucketCap: Int = graft.ext.Dedup.BucketCap,
      evictions: Option[LongAccumulator] = None,
      scheme: graft.ext.Dedup.BandScheme = graft.ext.Dedup.GateScheme): DataFrame = {
    implicit val outEnc = Encoders.product[ChunkFlag]
    val timeMode =
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    chunked(sim, scheme)
      .groupByKey(r => (r.c, r.chunk))(Encoders.product[(Int, Long)])
      .transformWithState(
        new BucketProcessor(ttl, bucketCap, scheme.hammingMax, evictions),
        timeMode, OutputMode.Update())
      .toDF()
  }
}
