package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale patterns that matter at 100 TB but are invisible at test SF:
  * skew-salted joins and bucketed (shuffle-free) co-located joins.
  * Correctness is asserted by equivalence specs (ScaleSpec); plan shape
  * (no Exchange on bucketed joins) is asserted structurally.
  */
object Scale {

  /** Salted broadcast-free equi-join for skewed fact keys: the fact side
    * gets a per-row salt in [0, salt); the dim side is exploded `salt` ways,
    * so one hot key's rows spread across `salt` shuffle partitions instead
    * of one straggler. Join output is identical to the unsalted join.
    *
    * (AQE's skew-join handles sort-merge skew automatically; explicit
    * salting remains necessary for skewed *aggregations* and for pinning
    * behavior in streaming state, so the pattern lives here as a first-class
    * operator.)
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salt: Int): DataFrame = {
    val saltedFact = fact.withColumn("__salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(salt)))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedFact.join(saltedDim, Seq(key, "__salt")).drop("__salt")
  }

  /** Two-stage skew-safe aggregation: partial aggregate on (key, salt),
    * then final on key. Identical results to a direct groupBy(key) count/sum
    * (both are algebraic), but the first shuffle fans a hot key over `salt`
    * reducers.
    */
  def saltedCountSum(df: DataFrame, key: String, valueCol: String, salt: Int): DataFrame =
    df.withColumn("__salt", pmod(hash(col(key), monotonically_increasing_id()), lit(salt)))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__n"), sum(col(valueCol)).as("__s"))
      .groupBy(col(key))
      .agg(sum(col("__n")).as("n"), sum(col("__s")).as("sum_value"))

  /** Write a frame as a bucketed+sorted table: co-locates and pre-sorts by
    * the join key so subsequent equi-joins between same-bucketed tables are
    * shuffle-free AND sort-free (the 100 TB repeated-join layout).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    // a fresh session's in-memory catalog doesn't know about leftover table
    // dirs in the warehouse from previous JVMs — clear both catalog + dir
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(wh, table)): Unit
    df.write
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .mode("overwrite")
      .saveAsTable(table)
  }

  /** Join two same-bucketed tables on their bucket key. With matching
    * bucket counts the plan contains no Exchange. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      key: String): DataFrame =
    spark.table(left).join(spark.table(right), Seq(key))

  // ---------------------------------------------------------------------
  // Driver-gated forms (oracle = the unsalted / unbucketed equivalent —
  // which IS the correctness claim of these rewrites).
  // ---------------------------------------------------------------------
  import graft.Q
  import graft.sources.Tables

  private def qx01(s: SparkSession, d: String): DataFrame =
    saltedCountSum(Tables.lineitem(s, d), "l_orderkey", "l_quantity", salt = 8)

  private val qx01Sql =
    """SELECT l_orderkey, count(*) AS n, sum(l_quantity) AS sum_value
      |FROM lineitem GROUP BY l_orderkey""".stripMargin

  private def qx02(s: SparkSession, d: String): DataFrame = {
    writeBucketed(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity")),
      "graft_li_bkt", "l_orderkey", buckets = 8)
    writeBucketed(Tables.orders(s, d)
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice")),
      "graft_ord_bkt", "l_orderkey", buckets = 8)
    bucketedJoin(s, "graft_li_bkt", "graft_ord_bkt", "l_orderkey")
  }

  private val qx02Sql =
    """SELECT l_orderkey, l_quantity, o_totalprice
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin

  // ---------------------------------------------------------------------
  // qx03: deterministic stratified sampling — the mixture-control primitive
  // of a training-data pipeline: per-source keep rates applied through a
  // uniform md5-derived bucket of doc_id. No RNG state, so the sample is
  // reproducible, independent of partitioning/visit order, and re-runnable
  // incrementally (the same doc always lands on the same side — what
  // `df.sample()` cannot promise across retries/scans at 100 TB). The
  // predicate is a pure per-row projection of (doc_id, source): a map-side
  // filter, no shuffle at all. Rate table: a literal CASE here (even
  // sources 50%, odd 20%); a broadcast dim in production.
  // ---------------------------------------------------------------------
  /** The qx03 sampling predicate over an arbitrary (doc_id, source) frame —
    * a pure map-side filter, so it applies unchanged to a stream (qst13). */
  private[graft] def stratifiedSample(docs: DataFrame): DataFrame =
    docs
      .withColumn("bucket", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) % 100"))
      .withColumn("rate", expr(
        "CASE WHEN cast(substring(source, 4) as int) % 2 = 0 THEN 50 ELSE 20 END"))
      .filter(col("bucket") < col("rate"))
      .select(col("doc_id"), col("source"), col("bucket"))

  private def qx03(s: SparkSession, d: String): DataFrame =
    stratifiedSample(Tables.documents(s, d))

  private[graft] val qx03Sql =
    """SELECT doc_id, source,
      |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bucket
      |FROM documents
      |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
      |      < CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN 50 ELSE 20 END""".stripMargin

  // ---------------------------------------------------------------------
  // qx04: domain-mixing allocation — the other half of mixture control
  // (qx03 executes a rate; this computes the rates): given a global token
  // budget and per-source mixing weights, allocate tokens per source
  // proportionally and derive the keep-rate each source needs. The
  // Pile/Dolma-style planning step. All integer arithmetic (floor
  // divisions on positive operands are identical in Spark `div` and DuckDB
  // `//`), so the oracle matches exactly. Shape: one groupBy(source)
  // (tiny: |sources| groups, partial-agg does the work) + a 1-row weight-
  // sum frame joined via broadcast cross (the q17/qt06 corpus-N pattern).
  // ---------------------------------------------------------------------
  private val MixBudget = 1000000L // target tokens in the mixed corpus

  private def qx04(s: SparkSession, d: String): DataFrame = {
    val perSource = Tables.documents(s, d)
      .select(col("source"),
        size(expr("split(trim(text), '\\\\s+')")).cast("long").as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .withColumn("weight", expr(
        "CASE WHEN cast(substring(source, 4) as int) % 2 = 0 THEN 3L ELSE 1L END"))
    val wsum = perSource.agg(sum(col("weight")).as("wsum"))
    perSource.crossJoin(broadcast(wsum))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        expr(s"$MixBudget * weight div wsum").as("alloc_tokens"))
      .withColumn("keep_rate_pct",
        least(lit(100L), expr("alloc_tokens * 100 div n_tokens")))
  }

  private val qx04Sql =
    s"""WITH per_source AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_tokens,
      |    CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN 3 ELSE 1 END AS weight
      |  FROM documents GROUP BY source),
      |ws AS (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM per_source)
      |SELECT source, n_docs, n_tokens, CAST(weight AS BIGINT) AS weight,
      |  CAST($MixBudget * weight // wsum AS BIGINT) AS alloc_tokens,
      |  least(100, CAST(($MixBudget * weight // wsum) * 100 // n_tokens AS BIGINT))
      |    AS keep_rate_pct
      |FROM per_source, ws""".stripMargin

  // ---------------------------------------------------------------------
  // qx05: sequence packing — assign documents to fixed-capacity training
  // contexts (4096 tokens) by contiguous cumulative offset within each
  // source: bin = floor(starting_offset / 4096) over a doc_id-ordered
  // running sum. Deterministic (no bin-packing heuristics with tie-break
  // ambiguity).
  //
  // Scale shape: a window partitioned by `source` alone is a skew trap —
  // a realistic 90%-one-source mix makes the cumsum ONE sequential task at
  // 100 TB. So the running sum is computed shard-wise: docs are sub-
  // sharded by (source, doc_id div ShardSize), each shard's cumsum runs as
  // its own bounded window partition (≤ ShardSize docs), and the global
  // per-source offset of each shard is composed in via a second, tiny
  // cumsum over per-shard totals (|corpus| / ShardSize rows — three orders
  // of magnitude smaller, and itself windowed per source over shard totals
  // only). The composed offset is mathematically IDENTICAL to the single
  // global window (associativity of +), so the oracle states the simple
  // global formulation and hash-matches. The shard-totals join is
  // merge-pinned: both sides grow with the corpus (the static-planner
  // broadcast trap, see qd04). ScaleSpec pins the bounded-partition claim
  // on a 90%-skew corpus and the shard/global equivalence.
  // ---------------------------------------------------------------------
  private val SeqLen = 4096L

  /** Max docs per packing window partition; sf-test value keeps multiple
    * shards live at 500 docs while production would size it ~1e5. */
  private[graft] val ShardSize = 128L

  /** (doc_id, source, nt, bin) with bin from the doc_id-ordered per-source
    * token cumsum, computed shard-wise. Package-private for ScaleSpec. */
  private[graft] def packedDocs(docs: DataFrame): DataFrame =
    packedDocsFrom(docs.select(col("doc_id"), col("source"),
      size(expr("split(trim(text), '\\\\s+')")).cast("long").as("nt")))

  /** The packing arithmetic over precomputed per-doc token counts
    * (doc_id, source, nt) — qx05 feeds whitespace counts, qx14 real BPE
    * tokenizer counts; the sub-sharded window composition is identical. */
  private[graft] def packedDocsFrom(counted: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val shardW = W.partitionBy(col("source"), col("shard"))
      .orderBy(col("doc_id")).rowsBetween(W.unboundedPreceding, 0)
    // per-source running total of PRIOR shards: cumsum over shard totals
    // shifted by one shard (current shard's docs excluded)
    val offW = W.partitionBy(col("source")).orderBy(col("shard"))
      .rowsBetween(W.unboundedPreceding, -1)
    val sharded = counted
      .withColumn("shard", expr(s"doc_id div $ShardSize"))
    val shardOffsets = sharded
      .groupBy(col("source"), col("shard"))
      .agg(sum(col("nt")).as("shard_nt"))
      .withColumn("offset", coalesce(sum(col("shard_nt")).over(offW), lit(0L)))
      .drop("shard_nt")
    sharded
      .join(shardOffsets.hint("merge"), Seq("source", "shard"))
      .withColumn("cum", col("offset") + sum(col("nt")).over(shardW))
      .withColumn("bin", expr(s"(cum - nt) div $SeqLen"))
      .select(col("doc_id"), col("source"), col("nt"), col("bin"))
  }

  private def qx05(s: SparkSession, d: String): DataFrame =
    packedDocs(Tables.documents(s, d))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .withColumn("fill_rate",
        expr(s"cast(least(n_tokens, $SeqLen) as double) / $SeqLen"))

  private val qx05Sql =
    s"""WITH docs AS (
      |  SELECT doc_id, source,
      |    len(regexp_split_to_array(trim(text), '\\s+')) AS nt
      |  FROM documents),
      |binned AS (
      |  SELECT source, doc_id, nt,
      |    (sum(nt) OVER (PARTITION BY source ORDER BY doc_id
      |                   ROWS UNBOUNDED PRECEDING) - nt) // $SeqLen AS bin
      |  FROM docs)
      |SELECT source, CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
      |  CAST(sum(nt) AS BIGINT) AS n_tokens,
      |  CAST(least(CAST(sum(nt) AS BIGINT), $SeqLen) AS DOUBLE) / $SeqLen AS fill_rate
      |FROM binned GROUP BY source, bin""".stripMargin

  // ---------------------------------------------------------------------
  // qx06: deterministic training-order shuffle + sharding — the last step
  // of a data pipeline: give every document a reproducible (shard, ord)
  // address so a training job can stream shard files in order and resume
  // from any global step. shard = md5-hash of doc_id (NumShards is the
  // 100 TB knob: pick shards ≈ corpus / target-shard-size); within-shard
  // order is an independent md5 sort key, so the order is a fixed uniform
  // permutation — re-runnable, partition-independent, no RNG state (what
  // df.orderBy(rand()) cannot promise across retries).
  //
  // Scale shape: a dense per-shard ordinal needs a row_number window, and
  // a window partitioned by shard alone is qx05's skew trap (shard size
  // N / NumShards is unbounded in N). Same remedy, composed offsets: the
  // window runs per (shard, sub) where sub = first 2 hex chars of the
  // sort key — a prefix coarsening, so sub-order refines key-order and
  // ordinals compose by adding the count of earlier subs. Oracle states
  // the plain global row_number; the composition is arithmetic-identical.
  // Sub-window partitions hold ~N/(NumShards·256) rows; deeper prefixes
  // extend the trick at larger N. Offsets join is merge-pinned (corpus-
  // sized both sides, the qd04 static-broadcast trap).
  // ---------------------------------------------------------------------
  private val NumShards = 32L

  private[graft] def shardShuffle(docs: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val keyed = docs
      .select(col("doc_id"),
        md5(col("doc_id").cast("string")).as("skey"),
        expr(s"""cast(conv(substring(md5(concat('s', cast(doc_id as string))),
                 1, 15), 16, 10) as bigint) % $NumShards""".replace("\n", " "))
          .as("shard"))
      .withColumn("sub", substring(col("skey"), 1, 2))
    val subW = W.partitionBy(col("shard"), col("sub"))
      .orderBy(col("skey"), col("doc_id"))
    val offW = W.partitionBy(col("shard")).orderBy(col("sub"))
      .rowsBetween(W.unboundedPreceding, -1)
    val offsets = keyed.groupBy(col("shard"), col("sub"))
      .agg(count(lit(1)).as("n"))
      .withColumn("offset", coalesce(sum(col("n")).over(offW), lit(0L)))
      .drop("n")
    keyed.join(offsets.hint("merge"), Seq("shard", "sub"))
      .select(col("doc_id"), col("shard"),
        (col("offset") + row_number().over(subW)).as("ord"))
  }

  private def qx06(s: SparkSession, d: String): DataFrame =
    shardShuffle(Tables.documents(s, d))

  private val qx06Sql =
    s"""SELECT doc_id,
      |  CAST('0x' || substr(md5('s' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      |    % $NumShards AS shard,
      |  CAST(row_number() OVER (
      |    PARTITION BY CAST('0x' || substr(md5('s' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % $NumShards
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS ord
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // qx07: temperature-flattened mixture — the published multilingual/
  // multi-domain rebalancing rule (temperature sampling, τ = 2): sampling
  // mass ∝ (source token share)^(1/τ) = sqrt(share), so rare sources are
  // upweighted relative to their natural share and dominant ones damped.
  // qx04 allocates by FIXED per-source weights; this derives the weights
  // from the data itself.
  //
  // Determinism (same discipline as qx04): share is an exact integer
  // ratio scaled to ppm BEFORE the sqrt, sqrt is the one correctly-
  // rounded IEEE op (bit-identical in any engine), floor back to integer,
  // then all allocation math is integer floor-division. No float sums
  // anywhere. Shape: one groupBy(source) with map-side partials + two
  // 1-row broadcast crosses — same as qx04.
  // ---------------------------------------------------------------------
  private val TempBudget = 20000L // target tokens in the flattened mix

  /** Temperature-flattened allocation over an arbitrary (source, text)
    * frame — package-private for the skew spec. */
  private[graft] def temperatureMix(docs: DataFrame): DataFrame = {
    val per = docs
      .select(col("source"),
        size(expr("split(trim(text), '\\\\s+')")).cast("long").as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("t_total"))
    val weighted = per.crossJoin(broadcast(tot))
      .withColumn("w", expr(
        "cast(floor(sqrt(cast((n_tokens * 1000000L) div t_total as double))) as bigint)"))
    val ws = weighted.agg(sum(col("w")).as("wsum"))
    weighted.crossJoin(broadcast(ws))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("w"),
        expr(s"($TempBudget * w) div wsum").as("alloc_tokens"),
        least(lit(100L),
          expr(s"(($TempBudget * w) div wsum) * 100 div n_tokens"))
          .as("keep_rate_pct"))
  }

  private def qx07(s: SparkSession, d: String): DataFrame =
    temperatureMix(Tables.documents(s, d))

  private val qx07Sql =
    s"""WITH per AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_total FROM per),
      |weighted AS (
      |  SELECT source, n_docs, n_tokens,
      |    CAST(floor(sqrt(CAST((n_tokens * 1000000) // t_total AS DOUBLE))) AS BIGINT) AS w
      |  FROM per, tot),
      |ws AS (SELECT CAST(sum(w) AS BIGINT) AS wsum FROM weighted)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens, w,
      |  CAST(($TempBudget * w) // wsum AS BIGINT) AS alloc_tokens,
      |  least(100, CAST((($TempBudget * w) // wsum) * 100 // n_tokens AS BIGINT))
      |    AS keep_rate_pct
      |FROM weighted, ws""".stripMargin

  // ---------------------------------------------------------------------
  // qx08: per-source document cap — bound any one domain's contribution to
  // the corpus by keeping a deterministic K-doc sample per source (md5
  // order, so the "sample" is a fixed uniform choice, re-runnable and
  // partition-independent — the per-domain cap step of a crawl pipeline).
  //
  // Scale shape: a naive row_number over (source) is the qx05/qx06 skew
  // trap. Remedy here is the classic two-phase distributed top-K: phase 1
  // takes the top K of each (source, 2-hex-prefix sub-shard) — bounded
  // window partitions, and ≤ 256·K survivors per source; phase 2 ranks
  // those survivors per source — a window over ≤ 256·K rows per source
  // however large the corpus. Correct because the global top-K is always
  // contained in the union of per-shard top-Ks. The oracle states the
  // naive single-window form; results are identical.
  // ---------------------------------------------------------------------
  private val CapK = 20

  /** Per-source K-doc cap over an arbitrary (doc_id, source) frame —
    * package-private for the equivalence spec. */
  private[graft] def perSourceCap(docs: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val keyed = docs.select(col("doc_id"), col("source"))
      .withColumn("skey", md5(col("doc_id").cast("string")))
      .withColumn("sub", substring(col("skey"), 1, 2))
    val subW = W.partitionBy(col("source"), col("sub"))
      .orderBy(col("skey"), col("doc_id"))
    val candidates = keyed
      .withColumn("r", row_number().over(subW))
      .filter(col("r") <= CapK).drop("r")
    val finW = W.partitionBy(col("source")).orderBy(col("skey"), col("doc_id"))
    candidates
      .withColumn("rank", row_number().over(finW).cast("long"))
      .filter(col("rank") <= CapK)
      .select(col("doc_id"), col("source"), col("rank"))
  }

  private def qx08(s: SparkSession, d: String): DataFrame =
    perSourceCap(Tables.documents(s, d))

  private val qx08Sql =
    s"""SELECT doc_id, source, CAST(rank AS BIGINT) AS rank FROM (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
      |  FROM documents)
      |WHERE rank <= $CapK""".stripMargin

  // ---------------------------------------------------------------------
  // qx09: epoch-mix upsampling — the multi-epoch face of data mixing:
  // where qx07 derives per-source sampling WEIGHTS (downsampling only,
  // keep_rate capped at 100%), this materializes the epoch-expanded
  // corpus listing when the allocation exceeds a source's natural size —
  // the published "rare sources are seen for multiple epochs" recipe.
  // Per source: alloc_docs (sqrt-temperature weights, qx07's exact
  // integer math) splits into full_epochs = alloc div n_docs repeats of
  // every doc plus a FRACTIONAL epoch: membership by md5 doc bucket
  // against rem/n_docs (qx03's deterministic-sample rule — a pure
  // map-side predicate), so no per-source window or rank exists anywhere.
  //
  // 100 TB shape: one groupBy(source) with map-side partials, two 1-row
  // broadcast crosses, a per-source plan frame (bounded by the domain
  // vocabulary, qx04's precedent) broadcast to the corpus scan, then a
  // map-side explode by repeat count. Zero corpus-sized shuffles beyond
  // the final rollup.
  // ---------------------------------------------------------------------
  private val EpochDocBudget = 1000L

  /** Epoch expansion over an arbitrary (doc_id, source) frame —
    * package-private for the spec. Returns (source, epoch, n). */
  private[graft] def epochMix(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"))
    val per = base.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val tot = per.agg(sum(col("n_docs")).as("d_total"))
    val weighted = per.crossJoin(broadcast(tot))
      .withColumn("w", expr(
        "cast(floor(sqrt(cast((n_docs * 1000000L) div d_total as double))) as bigint)"))
    val ws = weighted.agg(sum(col("w")).as("wsum"))
    val plan = weighted.crossJoin(broadcast(ws))
      .select(col("source"), col("n_docs"),
        expr(s"($EpochDocBudget * w) div wsum").as("alloc_docs"))
      .select(col("source"), col("n_docs"),
        expr("alloc_docs div n_docs").as("full_epochs"),
        expr("alloc_docs % n_docs").as("rem"))
    base.join(broadcast(plan), Seq("source"))
      .withColumn("bucket", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) % 1000000"))
      .withColumn("repeats", expr(
        "full_epochs + (case when bucket * n_docs < rem * 1000000L then 1 else 0 end)"))
      .filter(col("repeats") > 0)
      .select(col("source"),
        explode(expr("sequence(cast(0 as bigint), repeats - 1)")).as("epoch"))
      .groupBy(col("source"), col("epoch"))
      .agg(count(lit(1)).as("n"))
  }

  private def qx09(s: SparkSession, d: String): DataFrame =
    epochMix(Tables.documents(s, d))

  private val qx09Sql =
    s"""WITH base AS (SELECT doc_id, source FROM documents),
       |per AS (SELECT source, count(*) AS n_docs FROM base GROUP BY source),
       |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS d_total FROM per),
       |weighted AS (
       |  SELECT source, n_docs,
       |    CAST(floor(sqrt(CAST((n_docs * 1000000) // d_total AS DOUBLE))) AS BIGINT) AS w
       |  FROM per, tot),
       |ws AS (SELECT CAST(sum(w) AS BIGINT) AS wsum FROM weighted),
       |plan AS (
       |  SELECT source, n_docs,
       |    (($EpochDocBudget * w) // wsum) // n_docs AS full_epochs,
       |    (($EpochDocBudget * w) // wsum) % n_docs AS rem
       |  FROM weighted, ws),
       |rep AS (
       |  SELECT b.source,
       |    p.full_epochs + (CASE WHEN
       |      (CAST('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
       |        % 1000000) * p.n_docs < p.rem * 1000000
       |      THEN 1 ELSE 0 END) AS repeats
       |  FROM base b JOIN plan p USING (source)),
       |ex AS (
       |  SELECT source, unnest(range(0, repeats)) AS epoch
       |  FROM rep WHERE repeats > 0)
       |SELECT source, CAST(epoch AS BIGINT) AS epoch, count(*) AS n
       |FROM ex GROUP BY source, epoch""".stripMargin

  // ---------------------------------------------------------------------
  // qx10: bloom-pruned fact-fact join — the explicit two-phase runtime
  // filter for the 100 TB middle ground where the build side is too big to
  // broadcast but its KEY SET is sketchable. Phase 1 builds a bloom filter
  // over the selected orders' keys as a distributed aggregation (partial
  // sketches OR-merged executor-side — BloomFilterAggregate is a
  // TypedImperativeAggregate, so the driver receives ONE finished sketch,
  // MB-scale at any corpus size; the 1-row read is the same metric-class
  // driver read as the k-means convergence checks, NOT a data collect).
  // Phase 2 re-embeds the sketch as a binary literal in a
  // BloomFilterMightContain prefilter on the fact scan, so non-joining
  // lineitem rows die at the scan instead of crossing the shuffle — the
  // join itself stays an exact merge-pinned SMJ and false positives are
  // dropped by it, which is why the oracle is the PLAIN join (no false
  // negatives = semantics preserved). This is the same expression pair
  // Spark's InjectRuntimeFilter plants when stats thresholds allow;
  // materializing it explicitly makes the prune deterministic at any
  // stats state. Sketch sized 8 bits/key at the phase-1 cardinality.
  // ---------------------------------------------------------------------
  /** Phase-1 sketch + phase-2 prefiltered fact scan, package-private so the
    * spec can assert the pruning property (keeps every joining row, drops
    * most non-joining ones) independently of the gated aggregate. */
  private[graft] def bloomPrunedLineitem(s: SparkSession, d: String,
      sel: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types.BinaryType

    // Fixed sizing, like Spark's own InjectRuntimeFilter conf defaults: a
    // count() pass to size the sketch exactly would re-scan the build side
    // — at 100 TB that second dim scan costs more than the precision buys.
    // 1 M items / 8 M bits ≈ 2% fpp at the estimate; overflow degrades fpp
    // gracefully (never correctness — the exact join drops false
    // positives), and the sketch stays a fixed ~1 MB driver object.
    val bloomBytes: Array[Byte] = {
      val row = sel.select(ColumnBridge.toColumn(
        new BloomFilterAggregate(
          XxHash64(Seq(ColumnBridge.toExpression(col("o_orderkey"))), 42L),
          Literal(1000000L), Literal(8000000L)).toAggregateExpression()).as("bf"))
        .head()
      if (row.isNullAt(0)) null else row.getAs[Array[Byte]](0)
    }
    val prefilter =
      if (bloomBytes == null) lit(false) // empty build side: join is empty too
      else ColumnBridge.toColumn(BloomFilterMightContain(
        Literal(bloomBytes, BinaryType),
        XxHash64(Seq(ColumnBridge.toExpression(col("l_orderkey"))), 42L)))
    Tables.lineitem(s, d).filter(prefilter)
  }

  private def qx10(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val sel = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
    val rev = col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(12, 2)))
    bloomPrunedLineitem(s, d, sel)
      // both sides corpus-scaled: pin the exact SMJ (PlanLintSpec asserts
      // might_contain present + no BroadcastExchange)
      .join(sel.select(col("o_orderkey"), col("o_orderdate")).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
      .agg(sum(rev).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val qx10Sql =
    """SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // qx11: Zipf-skewed fact×dim join — the classic 100 TB shuffle killer
  // (VERDICT r07 Next #2). qx01 covers skewed AGGREGATION via salting;
  // this stages the skewed JOIN: the probe side's key distribution is
  // Zipf-like by construction (hot_key = ⌊D/(1+(event_id mod D))⌋ puts
  // ~half the rows on key 1, ~1/k(k+1) mass on key k — the crawl-hot-key
  // shape), joined to a one-row-per-key dim. Written as the PLAIN
  // declarative join — no salting — because the scale remedy is Spark's
  // own OptimizeSkewedJoin: AQE splits the oversized probe partition and
  // replicates the single matching dim row per split, preserving exact
  // join semantics (which is why the oracle is the plain join). At gate
  // SF the dim broadcasts and there is nothing to split — correct too;
  // ScaleSpec pins the split firing on a shuffle join, and BASELINE.md's
  // round-8/9 skewed-join sections hold the fact-scale timings vs both
  // the unsplit baseline and the targeted-salting rewrite.
  // ---------------------------------------------------------------------
  /** Attach the deterministic Zipf hot key. */
  private[graft] def zipfKeyed(ev: DataFrame, domain: Int): DataFrame =
    ev.withColumn("hot_key",
      expr(s"cast(floor($domain/(1 + (event_id % $domain))) as bigint)"))

  private def qx11(s: SparkSession, d: String): DataFrame =
    zipfKeyed(Tables.events(s, d), 1000)
      .join(Tables.part(s, d).select(col("p_partkey").as("hot_key"), col("p_name")),
        Seq("hot_key"))
      .groupBy(col("hot_key"), col("p_name"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE)").as("sum_value"))

  private val qx11Sql =
    """WITH keyed AS (
      |  SELECT CAST(floor(1000/(1 + (event_id % 1000))) AS BIGINT) AS hot_key,
      |    value
      |  FROM events)
      |SELECT hot_key, p_name, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM keyed JOIN part ON hot_key = p_partkey
      |GROUP BY hot_key, p_name""".stripMargin

  // ---------------------------------------------------------------------
  // qx12: AQE-rebalanced output layout — the WRITE-side skew primitive.
  // qx11 covers the skewed shuffle JOIN; this covers the other
  // place skew kills a 100 TB run: the final write. Partitioning output
  // by a low-cardinality/skewed column (here event_type — the layout
  // consumers want to prune on) makes one writer task own the hot
  // partition: a multi-GB output file next to thousands of tiny ones.
  // The REBALANCE hint compiles to a rebalance Exchange whose partitions
  // AQE both coalesces (small groups merge toward advisory size) and
  // SPLITS (OptimizeSkewsInRebalancePartitions divides the hot group
  // along map-output boundaries) — bounded, near-uniform output files
  // without hand-tuning a repartition count. Semantics are identity on
  // rows (oracle = plain projection); the layout property — the hot
  // group actually splitting — is pinned in ScaleSpec.
  // ---------------------------------------------------------------------
  private def qx12(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .hint("rebalance", col("event_type"))

  private[graft] val qx12Sql =
    "SELECT event_id, user_id, event_type, value FROM events"

  // ---------------------------------------------------------------------
  // qx13: deterministic train/val/test split — the holdout primitive every
  // training pipeline needs, with the two properties df.randomSplit cannot
  // give at 100 TB: (a) reproducibility independent of partitioning, visit
  // order, and retries (the assignment is a pure function of the ROW, no
  // RNG state), and (b) leakage safety against exact duplicates — the
  // split key is md5(text), not doc_id, so verbatim copies of a document
  // can NEVER straddle splits (near-dup-safe splitting composes the same
  // way: key on qd08's component id instead). A salt decorrelates this
  // hash from qx03's sampling buckets, so sampling and splitting compose
  // without correlation. Pure map-side projection: no shuffle, no state —
  // the same expression splits a stream (it is qx03's shape with a
  // three-way CASE). 90/5/5 over a 0..999 bucket.
  // ---------------------------------------------------------------------
  private def qx13(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("bucket", expr(
        "cast(conv(substring(md5(concat('split:', md5(text))), 1, 15), 16, 10) as bigint) % 1000"))
      .select(col("doc_id"), col("bucket"),
        expr("CASE WHEN bucket < 900 THEN 'train' WHEN bucket < 950 THEN 'val' ELSE 'test' END")
          .as("split"))

  private val qx13Sql =
    """SELECT doc_id, bucket,
      |  CASE WHEN bucket < 900 THEN 'train' WHEN bucket < 950 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM (SELECT doc_id,
      |        CAST('0x' || substr(md5('split:' || md5(text)), 1, 15) AS BIGINT) % 1000 AS bucket
      |      FROM documents)""".stripMargin

  // ---------------------------------------------------------------------
  // qx18: NEAR-DUP-safe train/val/test split — the composition qx13's
  // scaladoc defers to, now gated: the split key is the near-dup
  // CONNECTED COMPONENT id (qd08 over qd03's LSH pairs), so documents
  // linked by ANY chain of near-duplicate pairs land in the same split —
  // the strongest leakage guard short of semantic dedup (qx13's
  // md5(text) key only co-locates VERBATIM copies; a paraphrased or
  // boilerplate-wrapped near-copy of a training doc in the test split is
  // exactly the contamination eval suites get burned by). Docs in no
  // component (no near-dup pair anywhere) fall back to qx13's exact-text
  // key, so the assignment is total and still RNG-free/retry-stable.
  // Same salted md5 bucketing and 90/5/5 thresholds as qx13.
  // 100 TB shape: qd03+qd08's (the component build dominates; its
  // iteration count is log₂ of the duplicate-graph diameter), then ONE
  // doc-keyed merge join (corpus×components — never broadcast) and a
  // map-side projection.
  // ---------------------------------------------------------------------
  private def qx18(s: SparkSession, d: String): DataFrame = {
    val comp = graft.ext.Dedup.nearDupComponents(s, d) // (doc_id, component)
    Tables.documents(s, d).select(col("doc_id"), md5(col("text")).as("th"))
      .join(comp.hint("merge"), Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(
        concat(lit("c:"), col("component")), concat(lit("x:"), col("th"))))
      .withColumn("bucket", expr(
        "cast(conv(substring(md5(concat('split:', split_key)), 1, 15), 16, 10) as bigint) % 1000"))
      .select(col("doc_id"), col("split_key"), col("bucket"),
        expr("CASE WHEN bucket < 900 THEN 'train' WHEN bucket < 950 THEN 'val' ELSE 'test' END")
          .as("split"))
  }

  private val qx18Sql =
    s"""WITH RECURSIVE ${graft.ext.Dedup.componentsSqlCte},
       |keyed AS (
       |  SELECT d.doc_id AS doc_id,
       |    coalesce('c:' || CAST(c.component AS VARCHAR),
       |             'x:' || md5(d.text)) AS split_key
       |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
       |b AS (
       |  SELECT doc_id, split_key,
       |    CAST('0x' || substr(md5('split:' || split_key), 1, 15) AS BIGINT)
       |      % 1000 AS bucket
       |  FROM keyed)
       |SELECT doc_id, split_key, bucket,
       |  CASE WHEN bucket < 900 THEN 'train' WHEN bucket < 950 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM b""".stripMargin

  // ---------------------------------------------------------------------
  // qx14: sequence packing on REAL tokenizer counts — qx05's packing
  // arithmetic with the per-doc budget measured by the trained BPE
  // vocabulary (qt16's merges applied qt17-style) instead of the
  // whitespace stand-in. This is the form a training pipeline actually
  // runs: context windows are budgeted in TOKENIZER tokens, and a
  // whitespace proxy misbudgets by exactly the compression the merges
  // buy. The count is a higher-order lambda over the token array (one
  // codegen'd projection per doc — no explode, no shuffle beyond
  // training's N vocab-sized groupBys and the packing windows), so the
  // scale shape is qx05's: sub-sharded cumsum windows, merge-pinned
  // offsets join. Oracle: the shared train→apply CTE chain feeding the
  // qx05 packing SQL, with empty-token docs entering at nt = 0.
  // ---------------------------------------------------------------------
  private def qx14(s: SparkSession, d: String): DataFrame = {
    import graft.ext.TextAnalysis
    val merges = TextAnalysis.bpeDefaultMerges(s, d)
    val counted = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        aggregate(
          transform(expr("split(trim(text), '\\\\s+')"),
            t => TextAnalysis.bpeTokenCount(t, merges)),
          lit(0L), (a, b) => a + b).as("nt"))
    packedDocsFrom(counted)
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .withColumn("fill_rate",
        expr(s"cast(least(n_tokens, $SeqLen) as double) / $SeqLen"))
  }

  private def qx14Sql =
    s"""WITH ${graft.ext.TextAnalysis.bpeApplySqlCtes},
       |bpedocs AS (
       |  SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS nt FROM app GROUP BY doc_id),
       |docs AS (
       |  SELECT d.doc_id, d.source, coalesce(b.nt, 0) AS nt
       |  FROM documents d LEFT JOIN bpedocs b USING (doc_id)),
       |binned AS (
       |  SELECT source, doc_id, nt,
       |    (sum(nt) OVER (PARTITION BY source ORDER BY doc_id
       |                   ROWS UNBOUNDED PRECEDING) - nt) // $SeqLen AS bin
       |  FROM docs)
       |SELECT source, CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
       |  CAST(sum(nt) AS BIGINT) AS n_tokens,
       |  CAST(least(CAST(sum(nt) AS BIGINT), $SeqLen) AS DOUBLE) / $SeqLen AS fill_rate
       |FROM binned GROUP BY source, bin""".stripMargin

  // ---------------------------------------------------------------------
  // qx15: weighted (probability-proportional-to-size) sampling — the
  // published SYSTEMATIC PPS design: lay every doc's weight (n_chars)
  // end-to-end on an integer line in doc_id order, then pick the docs
  // containing each multiple of stride = totalW div target. Zero RNG —
  // reproducible under retries/partitioning like qx03, but weight-
  // proportional where qx03 is uniform-within-source; a doc heavier than
  // the stride is picked multiple times (n_picks — PPS with replacement,
  // exactly what loss-weighted corpus sampling wants). All arithmetic is
  // exact BIGINT, so the gate is hash-exact and order-stable.
  //
  // Scale shape — the cumsum is the trap: a global ORDER BY window is a
  // single-partition bottleneck at 100 TB. The distributed form is the
  // qx06 composed-offset pattern, two-phase: (1) within-bucket running
  // sums partitioned by doc_id div CumBucket (parallel, bounded frames),
  // (2) per-bucket totals prefix-summed in ONE small single-partition
  // window over #buckets rows (corpus/512 — at 1e9 docs that is 2M tiny
  // rows; a third level of the same trick covers any corpus), composed
  // by a merge-pinned bucket join (the offsets frame GROWS with the
  // corpus — never broadcast). The oracle computes the same line with
  // DuckDB's plain single-threaded window; equality IS the two-phase
  // correctness proof, re-checked at every SF.
  // ---------------------------------------------------------------------
  private val SampleTarget = 100L
  private val CumBucket = 512L

  /** Two-phase exact cumulative weights + systematic PPS picks over an
    * arbitrary (doc_id, n_chars) frame — package-private for the spec. */
  private[graft] def ppsSample(docs: DataFrame,
      target: Long = SampleTarget): DataFrame = {
    val base = docs.select(col("doc_id"),
      col("n_chars").cast("long").as("w"),
      expr(s"doc_id div $CumBucket").as("b"))
    val inBucket = base.withColumn("cum_in",
      sum(col("w")).over(Window.partitionBy(col("b")).orderBy(col("doc_id"))))
    val offsets = base.groupBy(col("b")).agg(sum(col("w")).as("bw"))
      .withColumn("off", coalesce(
        sum(col("bw")).over(Window.orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("b"), col("off"))
    val tot = base.agg(sum(col("w")).as("tw"))
    inBucket.join(offsets.hint("merge"), Seq("b"))
      .withColumn("cum", col("off") + col("cum_in"))
      .crossJoin(broadcast(tot))
      .withColumn("stride", greatest(expr(s"tw div $target"), lit(1L)))
      .withColumn("n_picks",
        expr("cum div stride") - expr("(cum - w) div stride"))
      .filter(col("n_picks") > 0)
      .select(col("doc_id"), col("w"), col("cum"), col("n_picks"))
  }

  private def qx15(s: SparkSession, d: String): DataFrame =
    ppsSample(Tables.documents(s, d))

  private val qx15Sql =
    s"""WITH w AS (
       |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents),
       |c AS (
       |  SELECT doc_id, w,
       |    CAST(sum(w) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM w),
       |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w),
       |s AS (SELECT greatest(tw // $SampleTarget, 1) AS stride FROM t)
       |SELECT doc_id, w, cum,
       |  CAST(cum // stride - (cum - w) // stride AS BIGINT) AS n_picks
       |FROM c CROSS JOIN s
       |WHERE cum // stride - (cum - w) // stride > 0""".stripMargin

  // ---------------------------------------------------------------------
  // qx16: weighted Bernoulli (Poisson-PPS) sampling — the STREAMING-SAFE
  // counterpart of qx15: qx15's systematic PPS draws a fixed-size sample
  // but needs the global weight cumsum (a barrier over the corpus);
  // Poisson sampling includes each doc INDEPENDENTLY with probability
  // proportional to its weight, so the predicate is a pure per-row
  // projection — no corpus statistic, no shuffle, applies unchanged to
  // a stream (qst32) and to incremental re-runs (same doc, same side —
  // the qx03 determinism argument, weight-proportional instead of
  // per-source). Exactness: weight = token count capped at WCap = 1024
  // (a power of two), hash = the 60-bit md5 prefix; accept iff
  // h < w · 2^50 — an exact integer comparison both engines state
  // identically (no float rates anywhere), giving inclusion probability
  // exactly w/1024. The cap is the standard PPS clip (certainty
  // inclusion would need w ≥ 1024 tokens).
  // ---------------------------------------------------------------------
  private val PpsWCap = 1024L
  private val PpsThresh = 1L << 50 // 2^60-bit hash space / WCap

  /** The qx16 predicate over an arbitrary (doc_id, text) frame — a pure
    * map-side filter, so it applies unchanged to a stream (qst32). */
  private[graft] def weightedBernoulli(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        least(expr("cast(size(split(trim(text), '\\\\s+')) as bigint)"),
          lit(PpsWCap)).as("w"),
        expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)")
          .as("h"))
      .filter(col("h") < col("w") * PpsThresh)
      .select(col("doc_id"), col("w"))

  private def qx16(s: SparkSession, d: String): DataFrame =
    weightedBernoulli(Tables.documents(s, d))

  private[graft] val qx16Sql =
    s"""SELECT doc_id,
       |  least(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT),
       |        $PpsWCap) AS w
       |FROM documents
       |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
       |  < least(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT),
       |          $PpsWCap) * $PpsThresh""".stripMargin

  // ---------------------------------------------------------------------
  // qx17: Z-order (Morton-curve) clustered layout — multi-dimensional
  // data clustering, the scan-pruning lever for the SECOND predicate
  // column. qf04's hive partitioning burns the directory level on one
  // key; a plain sort serves one key; z-order interleaves the bits of
  // (l_orderkey, l_partkey) and range-partitions + sorts by the curve, so
  // every output file carries a TIGHT parquet min/max envelope in BOTH
  // columns and a range predicate on EITHER prunes row groups. The gated
  // query is the lossless-layout contract: write z-ordered, re-read with
  // a partkey-only range predicate (the dimension a single-column sort
  // CANNOT serve), aggregate — the oracle replays the same predicate over
  // the RAW table. The pruning itself (rows read off the z layout vs a
  // linear layout, both dimensions) is measured in ScaleSpec and
  // LAYOUT_PROBE_r14.json — layout changes results never, IO always.
  // ---------------------------------------------------------------------
  private def zorderDir(d: String): String =
    graft.store.PartitionedStore.scratchDir("zorder-lineitem", d)

  private def qx17(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val path = zorderDir(d)
    graft.sinks.Layout.writeZOrdered(li, path, "l_orderkey", "l_partkey",
      files = 32)
    s.read.parquet(path)
      .filter(col("l_partkey") <= 40)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)")
          .as("sum_qty"),
        max(col("l_orderkey")).as("max_order"))
  }

  // ---------------------------------------------------------------------
  // qx19: HILBERT-curve clustered layout — qx17's lossless-layout
  // contract with the continuous curve: consecutive Hilbert positions are
  // Manhattan-adjacent (Z jumps at quadrant seams), so a contiguous curve
  // range maps to a more compact rectangle and per-file envelopes come
  // out tighter at the same file count — better row-group pruning for
  // identical write cost. Measured scope (LAYOUT_PROBE_r14 ladder,
  // 16–2048 files, two corpora): Hilbert reads 3–9% fewer rows than
  // Morton on SINGLE-dimension predicates at every granularity;
  // conjunctive-predicate deltas between the curves sit BELOW the
  // layout-write sampling variance (repartitionByRange boundary luck
  // swings them ±2× at ≤64 envelopes — r13's apparent 64-envelope
  // Morton win was one such draw), and at ≥16 files on an 18M-row table
  // the conjunctive is already at the row-group min/max floor for both
  // curves. Default to Hilbert; size ROW GROUPS, not just file counts,
  // for target conjunctive selectivity.
  // The curve value is a native codegen Expression
  // (see functions.HilbertExpression — a pure-Column formulation would
  // nest rotation when()-trees exponentially in bits). Same gate shape as
  // qx17: write clustered, re-read with the partkey-only range predicate,
  // aggregate; the oracle replays the predicate on the raw table — layout
  // changes results never, IO always (pruning in LAYOUT_PROBE_r14.json).
  // ---------------------------------------------------------------------
  private def qx19(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val path = zorderDir(d) + "-hilbert"
    graft.sinks.Layout.writeHilbertOrdered(li, path, "l_orderkey", "l_partkey",
      files = 32)
    s.read.parquet(path)
      .filter(col("l_partkey") <= 40)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)")
          .as("sum_qty"),
        max(col("l_orderkey")).as("max_order"))
  }

  private val qx17Sql =
    """SELECT l_partkey, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  max(l_orderkey) AS max_order
      |FROM lineitem WHERE l_partkey <= 40
      |GROUP BY l_partkey""".stripMargin

  def queries: Seq[Q] = Seq(
    Q("qx01_salted_agg", qx01, Some(qx01Sql)),
    Q("qx02_bucketed_join", qx02, Some(qx02Sql)),
    Q("qx03_stratified_sample", qx03, Some(qx03Sql)),
    Q("qx04_domain_mix", qx04, Some(qx04Sql)),
    Q("qx05_sequence_packing", qx05, Some(qx05Sql)),
    Q("qx06_shard_shuffle", qx06, Some(qx06Sql)),
    Q("qx07_temperature_mix", qx07, Some(qx07Sql)),
    Q("qx08_per_source_cap", qx08, Some(qx08Sql)),
    Q("qx09_epoch_mix", qx09, Some(qx09Sql)),
    Q("qx10_bloom_join", qx10, Some(qx10Sql)),
    Q("qx11_skew_join", qx11, Some(qx11Sql)),
    Q("qx12_rebalance_output", qx12, Some(qx12Sql)),
    Q("qx13_dataset_split", qx13, Some(qx13Sql)),
    Q("qx14_bpe_packing", qx14, Some(qx14Sql)),
    Q("qx15_weighted_sample", qx15, Some(qx15Sql)),
    Q("qx16_weighted_bernoulli", qx16, Some(qx16Sql)),
    Q("qx17_zorder_layout", qx17, Some(qx17Sql)),
    Q("qx18_component_split", qx18, Some(qx18Sql)),
    // same lossless-layout contract and oracle as qx17, Hilbert curve
    Q("qx19_hilbert_layout", qx19, Some(qx17Sql)))
}
