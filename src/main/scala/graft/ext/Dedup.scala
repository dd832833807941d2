package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Q
import graft.functions.Vectors
import graft.sources.Tables

/** Document deduplication operators for training-data pipelines:
  *
  *  - exact (hash groupBy),
  *  - MinHash signatures + LSH banding (near-dup candidate pairs),
  *  - SimHash (48-bit) + banded Hamming pairs,
  *  - n-gram (3-word shingle) exact Jaccard pairs,
  *  - embedding-cosine near-dup pairs.
  *
  * Everything is expression-level (no UDFs): shingling, hashing and
  * signatures are Catalyst higher-order functions over arrays, so the whole
  * pipeline stays in WholeStageCodegen and the DuckDB oracle can mirror it
  * exactly (md5-derived 60-bit integer hashes are identical in any engine).
  *
  * Scale design (100 TB): the only shuffles are groupBy(hash) for exact
  * dedup and a single groupBy(band-key) for LSH — both shuffle compact
  * keys (16-byte hashes / band strings), never document text. LSH
  * candidate pairs come from capped per-bucket pair explosion after that
  * one shuffle ([[BucketCap]] bounds the worst bucket; the DuckDB oracles
  * express the same capped semantics as a band self-join). This is the
  * standard linear-scale near-dup path (vs the quadratic all-pairs joins,
  * which are only enabled here for oracle-checkable small-SF runs; at
  * scale qd03's candidate generation replaces them).
  *
  * Lineage checkpoints, here and in every other ext/ and streaming/
  * operator: an iterative operator (components, PageRank, BPE training)
  * and a frame read more than once are eagerly local-checkpointed, or the
  * plan re-executes per reference (or, iterated, grows exponentially).
  * A bounded frame stays in memory (`localCheckpoint(true)`); a frame the
  * size of the corpus goes to disk (`localCheckpoint(true,
  * StorageLevel.DISK_ONLY)`), because a copy kept in the heap ran out of
  * memory at the 1000× tier (qd19, r14). A cluster build would call
  * `checkpoint(true)` after `setCheckpointDir` instead, so that an
  * executor loss recomputes rather than kills the query.
  */
object Dedup {

  private val P = 2147483647L // 2^31 − 1
  private val NumHashes = 32
  private val Bands = 8
  private val RowsPerBand = NumHashes / Bands

  private def hashA(i: Int): Long = (1000003L * (i + 1)) % P
  private def hashB(i: Int): Long = (7919L * (i + 1)) % P

  // ---------------------------------------------------------------------
  // qd01: exact dedup via content hash — groupBy(md5(text)), keep the
  // minimum doc_id as canonical representative.
  // ---------------------------------------------------------------------
  private def qd01(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  private val qd01Sql =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text)""".stripMargin

  // ---------------------------------------------------------------------
  // Shared shingling + MinHash signature computation.
  // Tokens: whitespace split; shingles: distinct 3-word n-grams; per-shingle
  // 60-bit base hash from md5 hex, reduced mod P; signature i =
  // min over shingles of (aᵢ·h + bᵢ) mod P.
  // ---------------------------------------------------------------------
  private[graft] def withSignature(docs: DataFrame): DataFrame = {
    val as = (0 until NumHashes).map(hashA)
    val bs = (0 until NumHashes).map(hashB)
    docs
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        graft.functions.ShingleMinHash.shingleMinhashSig(col("toks"), as, bs, P).as("sig"))
  }

  /** DuckDB mirror of [[withSignature]] as a CTE chain ending in sigs(doc_id, sig). */
  private def sigsSqlCte: String = {
    val sigList = (0 until NumHashes).map { i =>
      s"list_min(list_transform(bh, b -> (${hashA(i)} * b + ${hashB(i)}) % $P))"
    }.mkString("[", ", ", "]")
    s"""tokenized AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents),
       |shingled AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(toks) - 1),
       |      i -> array_to_string(toks[i:i+2], ' '))) AS shingles
       |  FROM tokenized WHERE len(toks) >= 3),
       |hashed AS (
       |  SELECT doc_id,
       |    list_transform(shingles,
       |      s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % $P) AS bh
       |  FROM shingled),
       |sigs AS (
       |  SELECT doc_id, $sigList AS sig FROM hashed)""".stripMargin
  }

  private def bandKey(j: Int) =
    expr(s"concat_ws('-', slice(sig, ${RowsPerBand * j + 1}, $RowsPerBand))")

  // ---------------------------------------------------------------------
  // qd02: MinHash signatures, banded — one row per doc with the 8 LSH band
  // keys (flat strings: portable across the oracle hash compare).
  // ---------------------------------------------------------------------
  private def qd02(s: SparkSession, d: String): DataFrame =
    withSignature(Tables.documents(s, d))
      .select(col("doc_id") +: (0 until Bands).map(j => bandKey(j).as(s"b$j")): _*)

  private val qd02Sql = {
    val bandCols = (0 until Bands).map { j =>
      s"array_to_string(sig[${RowsPerBand * j + 1}:${RowsPerBand * (j + 1)}], '-') AS b$j"
    }.mkString(", ")
    s"""WITH $sigsSqlCte
       |SELECT doc_id, $bandCols FROM sigs""".stripMargin
  }

  /** Max docs per LSH bucket considered for pair generation. A bucket
    * larger than this is almost always an exact-duplicate cluster (already
    * handled by qd01's hash dedup) and would make candidate generation
    * quadratic in the cluster size — the classic LSH hot-bucket skew
    * failure at 100 TB. Dropped buckets are observable via
    * [[oversizedLshBuckets]] (asserted 0 at test SF in DedupSpec).
    */
  val BucketCap = 64

  /** (band, key) → sorted member list, one shuffle. Shared by candidate
    * generation and the drop metric. Takes the signature frame so callers
    * can reuse a cached one instead of recomputing signatures. */
  private def lshBuckets(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      explode(array((0 until Bands).map(j =>
        struct(lit(j).as("band"), bandKey(j).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      .groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))

  /** Buckets exceeding [[BucketCap]] (the ones qd03 skips) — the "logged
    * drops" channel for the capped candidate generation. */
  def oversizedLshBuckets(s: SparkSession, d: String): DataFrame =
    lshBuckets(withSignature(Tables.documents(s, d)))
      .filter(size(col("ids")) > BucketCap)
      .select(col("band"), col("key"), size(col("ids")).as("n_docs"))

  /** All (a < b) pairs within one sorted id array — pair explosion is
    * bounded by BucketCap² per bucket, executed map-side after the single
    * groupBy shuffle. */
  private val pairExplode = expr(
    """flatten(transform(sequence(1, size(ids) - 1),
      |  i -> transform(slice(ids, i + 1, size(ids) - i),
      |    b -> struct(element_at(ids, i) AS doc_a, b AS doc_b))))"""
      .stripMargin.replace("\n", " "))

  // ---------------------------------------------------------------------
  // qd03: MinHash-LSH near-dup pairs — docs sharing ≥1 band become
  // candidates; signature-estimated Jaccard filters ≥ 0.2.
  // Candidate generation is groupBy(band,key) + capped pair explosion:
  // one shuffle of compact keys, explicit skew bound (vs the round-1
  // band self-join, which was three shuffles and unbounded per bucket).
  // ---------------------------------------------------------------------
  /** LSH candidate-generation stage: signatures → one groupBy(band,key)
    * shuffle → sorted bucket member lists. Exposed (package-private) so
    * PlanLintSpec can pin the single-Exchange contract — a refactor that
    * reintroduced the round-1 band self-join would fail that test. */
  private[graft] def lshStage(s: SparkSession, d: String): DataFrame =
    lshBuckets(withSignature(Tables.documents(s, d)))

  private def qd03(s: SparkSession, d: String): DataFrame = {
    // checkpoint (not cache): sigs is read three times below, so it is
    // materialized once either way, but the checkpoint's lifetime is owned
    // by the GC/ContextCleaner instead of leaking a session-lifetime cache
    // entry per invocation (bench best-of-2 / repeated tests). sigs is
    // corpus-sized (one row per doc carrying a 128-hash signature array),
    // so it goes to disk.
    val sigs = withSignature(Tables.documents(s, d))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    val cand = lshBuckets(sigs)
      .filter(size(col("ids")).between(2, BucketCap))
      .select(explode(pairExplode).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
    // merge hints: sigs (per-doc) and cand (candidate pairs) BOTH grow with
    // the corpus, so neither side is ever broadcast-safe — and the static
    // planner's size estimate after explode+aggregate chains is unreliable
    // (it guessed "small" for a 150k-doc corpus and chose a broadcast that
    // OOM'd the 30× soak in qd04's identical shape). The hint pins the
    // shuffle join the 100 TB plan needs; PlanLintSpec asserts no
    // BroadcastExchange anywhere in qd03/qd04.
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")).hint("merge"), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")).hint("merge"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr(s"cast(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) as double) / $NumHashes")
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.2)
  }

  /** CTE chain ending in lsh_pairs(doc_a, doc_b, est_jaccard) — shared by
    * qd03 and qd08's component closure. */
  private def lshPairsSqlCte =
    s"""$sigsSqlCte,
       |bands AS (
       |  SELECT doc_id, j,
       |    array_to_string(sig[$RowsPerBand*j+1 : $RowsPerBand*(j+1)], '-') AS key
       |  FROM sigs, range(0, $Bands) t(j)),
       |kept AS (
       |  SELECT j, key FROM bands GROUP BY j, key
       |  HAVING count(*) BETWEEN 2 AND $BucketCap),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.j = y.j AND x.key = y.key AND x.doc_id < y.doc_id
       |  JOIN kept k ON k.j = x.j AND k.key = x.key),
       |lsh_pairs AS (
       |  SELECT doc_a, doc_b,
       |    list_sum(list_transform(list_zip(sa.sig, sb.sig),
       |      p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) / $NumHashes.0 AS est_jaccard
       |  FROM cand
       |  JOIN sigs sa ON sa.doc_id = doc_a
       |  JOIN sigs sb ON sb.doc_id = doc_b
       |  WHERE list_sum(list_transform(list_zip(sa.sig, sb.sig),
       |      p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) / $NumHashes.0 >= 0.2)""".stripMargin

  private val qd03Sql =
    s"""WITH $lshPairsSqlCte
       |SELECT doc_a, doc_b, est_jaccard FROM lsh_pairs""".stripMargin

  // ---------------------------------------------------------------------
  // qd04: exact n-gram Jaccard pairs — distinct-shingle inverted index
  // self-join (common count) → |A∩B| / (|A|+|B|−|A∩B|), threshold 0.15.
  // Shingle strings are md5-hashed before the shuffle so join keys are
  // fixed-width.
  //
  // Stop-shingle bound: shingles with document frequency > ShingleDfCap
  // are excluded (from both the join and the per-doc counts, mirrored in
  // the oracle), so Jaccard is computed over *informative* shingles. A
  // boilerplate shingle shared by millions of documents would otherwise
  // make the inverted-index self-join quadratic in its df — the qd04
  // analogue of the LSH hot-bucket cap. df = 1 shingles are additionally
  // skipped on the join side only (they cannot produce a pair but still
  // count in the union size). Max observed df at sf0.1 is 25, so the cap
  // binds nothing at test SF.
  // ---------------------------------------------------------------------
  val ShingleDfCap = 64

  /** qd04 candidate-generation stage: shingle explode → one groupBy(sh)
    * shuffle → capped posting lists. Package-private for the PlanLintSpec
    * single-Exchange contract. */
  private def rawPostings(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(toks) - 2), i -> md5(concat_ws(' ', slice(toks, i, 3)))))"))
        .as("sh"))
    sh.groupBy(col("sh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"), count(lit(1)).as("df"))
  }

  private[graft] def postingStage(s: SparkSession, d: String): DataFrame =
    rawPostings(s, d).filter(col("df") <= ShingleDfCap)

  /** Shingles whose document frequency exceeds [[ShingleDfCap]] (the ones
    * qd04 excludes from Jaccard) — the logged-drops channel for the
    * posting-list cap, symmetric to [[oversizedLshBuckets]]. */
  def shingleDfDrops(s: SparkSession, d: String): DataFrame =
    rawPostings(s, d).filter(col("df") > ShingleDfCap)
      .select(col("sh"), col("df"))

  private def qd04(s: SparkSession, d: String): DataFrame = {
    // One shuffle builds the capped posting lists; per-doc counts and
    // pair explosion both derive from them — the shingle explode runs
    // once and there is no inverted-index self-join at all (same values
    // as the self-join formulation, which the oracle retains).
    // NOT checkpointed (measured): the posting subtree appears three times
    // in the plan (common + two counts joins), but AQE's stage cache
    // already reuses the identical shingle-explode Exchange at runtime —
    // an eager localCheckpoint here measured 45% SLOWER at sf0.1 (adds a
    // materialization barrier and breaks consumer pipelining).
    val posting = postingStage(s, d)
    val counts = posting.select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = posting.filter(col("df") >= 2)
      .select(explode(pairExplode).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    // merge hints: common (pairs) and counts (per-doc) both grow with the
    // corpus — see qd03's comment; the unhinted static plan broadcast one
    // of these from a bogus estimate and OOM'd at the 30× soak scale.
    common
      .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")).hint("merge"), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")).hint("merge"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.15)
  }

  private val qd04Sql =
    s"""WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(toks) - 1),
      |    i -> md5(array_to_string(toks[i:i+2], ' '))))) AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      |        FROM documents)
      |  WHERE len(toks) >= 3),
      |df AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
      |informative AS (
      |  SELECT doc_id, s.sh, d.df FROM sh s JOIN df d USING (sh)
      |  WHERE d.df <= $ShingleDfCap),
      |counts AS (SELECT doc_id, count(*) AS n_sh FROM informative GROUP BY doc_id),
      |common AS (
      |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
      |  FROM informative x JOIN informative y
      |    ON x.sh = y.sh AND x.doc_id < y.doc_id
      |  WHERE x.df >= 2
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |  CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common) AS jaccard
      |FROM common
      |JOIN counts ca ON ca.doc_id = doc_a
      |JOIN counts cb ON cb.doc_id = doc_b
      |WHERE CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common) >= 0.15""".stripMargin

  // ---------------------------------------------------------------------
  // qd05: embedding-cosine near-dup pairs (brute-force all-pairs at test SF;
  // the scale path is Similarity.qs02's LSH bucketing). Threshold 0.4.
  // ---------------------------------------------------------------------
  private def qd05(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Vectors.fastCosine(col("emb_a"), col("emb_b")).as("cos_sim"))
      .filter(col("cos_sim") >= 0.4)
  }

  private val qd05Sql = {
    val cos = Vectors.cosineSql("a.embedding", "b.embedding")
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, $cos AS cos_sim
       |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |WHERE $cos >= 0.4""".stripMargin
  }

  // ---------------------------------------------------------------------
  // qd05b: embedding near-dup pairs AT SCALE — banded random-hyperplane
  // LSH replaces qd05's O(N²) all-pairs candidate stage. EmbBands bands of
  // EmbWidth sign bits each (independent orthogonalized hyperplanes per
  // band, the qe02 machinery under this site's own seed); two vectors are
  // candidates iff some band's bits all agree, then the EXACT cosine
  // filters at the same 0.4 threshold as qd05. Candidate generation is
  // qd03's shape verbatim: one groupBy(band, key) shuffle of compact int
  // keys, BucketCap-capped map-side pair explosion, corpus-growing sides
  // merge-pinned. Width is the occupancy knob (per-band keyspace 2^width,
  // expected bucket N/2^width): 3×4 gates at test SF; the shipped wide
  // config is EmbWideScheme 3×10 — band count stays fixed (bands set the
  // recall floor AND multiply the shuffle volume; the BandScheme lesson is
  // to widen bands, never add them) while width scales the keyspace to
  // corpus size (100 TB wants width 20+ at the same 3 bands).
  // Recall loses only pairs no band
  // agrees on — P(band agrees) = prod_j P(sign_j equal) = (1 − θ/π)^width
  // per the random-hyperplane collision bound — and the oracle mirrors
  // the same blocking, so the gate stays hash-exact.
  // ---------------------------------------------------------------------
  private val EmbDim = 64
  private val EmbSeed = 2003L

  /** Embedding LSH band layout: `bands` bands of `width` sign bits
    * (planes = bands·width ≤ dim). Width is the occupancy knob (per-band
    * keyspace 2^width, expected bucket N/2^width): the GATE scheme's 3×4
    * collides enough at 500-doc test SF to exercise the pair path, but
    * saturates under corpus growth exactly like SimHash's 4×12 did (30×
    * soak: 60k docs / 16 buckets ≈ 3.7k per bucket ≫ BucketCap — nearly
    * every bucket dropped). As with [[BandScheme]], the scale remedy is
    * WIDER bands at the same band count, never a bigger cap. The
    * `soak_emb_band_width` rows of SOAK_FULL_r12–r14.jsonl record the
    * oversized-bucket drain, gate vs wide, on the same 30× corpus.
    */
  final case class EmbScheme(bands: Int, width: Int) {
    val planes: Int = bands * width
    require(planes <= EmbDim, "sign planes are orthogonalized: planes <= dim")
  }
  val EmbGateScheme: EmbScheme = EmbScheme(3, 4)
  val EmbWideScheme: EmbScheme = EmbScheme(3, 10)

  private def embCodeCol(sc: EmbScheme): org.apache.spark.sql.Column =
    (0 until sc.planes).map { j =>
      when(Vectors.fastDotFD(col("embedding"),
        typedLit(graft.ext.Hyperplanes.plane(EmbSeed, j, sc.planes, EmbDim))) > 0,
        lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  private def embCodeSql(sc: EmbScheme): String =
    (0 until sc.planes).map { j =>
      s"(CASE WHEN ${Vectors.dotSql("embedding",
        graft.ext.Hyperplanes.sqlList(EmbSeed, j, sc.planes, EmbDim))} > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** qd05b's bucket stage: one groupBy(band, key) shuffle → sorted member
    * lists. Package-private for the oversized-bucket channel + specs. */
  private[graft] def embLshBuckets(e: DataFrame, sc: EmbScheme): DataFrame =
    e.select(col("vec_id"), embCodeCol(sc).as("code"))
      .select(col("vec_id"),
        explode(expr(
          s"transform(sequence(0, ${sc.bands - 1}), j -> " +
            s"struct(j AS j, (shiftright(code, j * ${sc.width}) & ${(1 << sc.width) - 1}) AS key))"))
          .as("b"))
      .select(col("vec_id"), col("b.j").as("j"), col("b.key").as("key"))
      .groupBy(col("j"), col("key"))
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))

  private[graft] def embLshPairs(e: DataFrame, sc: EmbScheme): DataFrame = {
    val cand = embLshBuckets(e, sc)
      .filter(size(col("ids")).between(2, BucketCap))
      .select(explode(pairExplode).as("p"))
      .select(col("p.doc_a").as("id_a"), col("p.doc_b").as("id_b"))
      .distinct()
    // embeddings and candidate pairs both grow with the corpus — neither
    // side broadcast-safe; merge-pin like qd03 (PlanLintSpec asserts).
    cand
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")).hint("merge"), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")).hint("merge"), "id_b")
      .select(col("id_a"), col("id_b"),
        Vectors.fastCosine(col("emb_a"), col("emb_b")).as("cos_sim"))
      .filter(col("cos_sim") >= 0.4)
  }

  private def qd05b(s: SparkSession, d: String): DataFrame =
    embLshPairs(Tables.embeddings(s, d), EmbGateScheme)

  private def qd05bSqlFor(sc: EmbScheme): String = {
    val cos = Vectors.cosineSql("a.embedding", "b.embedding")
    s"""WITH codes AS (
       |  SELECT vec_id, ${embCodeSql(sc)} AS code FROM embeddings),
       |bands AS (
       |  SELECT vec_id, j, (code >> (j * ${sc.width})) & ${(1 << sc.width) - 1} AS key
       |  FROM codes, range(0, ${sc.bands}) t(j)),
       |kept AS (
       |  SELECT j, key FROM bands GROUP BY j, key
       |  HAVING count(*) BETWEEN 2 AND $BucketCap),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.j = y.j AND x.key = y.key AND x.vec_id < y.vec_id
       |  JOIN kept k ON k.j = x.j AND k.key = x.key)
       |SELECT id_a, id_b, $cos AS cos_sim
       |FROM cand
       |JOIN embeddings a ON a.vec_id = id_a
       |JOIN embeddings b ON b.vec_id = id_b
       |WHERE $cos >= 0.4""".stripMargin
  }
  private val qd05bSql = qd05bSqlFor(EmbGateScheme)
  private val qd05cSql = qd05bSqlFor(EmbWideScheme)

  // ---------------------------------------------------------------------
  // qd06: SimHash — 48-bit signature: per token hash h, bit j contributes
  // +1/−1 by bit j of h; signature bit j = [sum > 0]. Pure higher-order
  // array folds, one row per doc, no shuffle.
  // ---------------------------------------------------------------------
  private val SimBits = 48

  /** SimHash band layout: `bands` bands of `width` bits over a `simBits`-bit
    * signature, near-dup Hamming threshold `hammingMax`.
    *
    * Structural recall guarantee: a pair with Hamming ≤ bands − 1 shares at
    * least one exact band (pigeonhole) at ANY width, so widening bands
    * keeps qd07's Hamming ≤ 3 guarantee. Width is the OCCUPANCY knob:
    * expected bucket population is N / 2^width, so each +1 bit halves
    * per-bucket pair work — the 30×/100× soak showed the 4 × 12-bit
    * keyspace saturating under corpus growth (pipeline_oversized_buckets
    * 1810, flat from 30× to 100×), and the remedy at scale is WIDER BANDS,
    * not bigger caps (a bigger cap re-admits quadratic pair work exactly
    * where the corpus is densest). The `soak_band_width` rows of
    * SOAK_FULL_r12–r14.jsonl record the drain: the same 30× corpus under
    * [[WideScheme]] vs [[GateScheme]].
    */
  final case class BandScheme(simBits: Int, bands: Int, width: Int, hammingMax: Int) {
    require(bands * width <= simBits && simBits <= 60,
      "bands*width must fit the signature; TokenSimHash carries <= 60 bits")

    /** The `bands` band chunks of a row's `simhash` column, as an array of
      * (c, chunk) structs: band c is bits [width·c, width·(c + 1)). */
    def chunks: Column = array((0 until bands).map(c =>
      struct(lit(c).as("c"),
        expr(s"(simhash div cast(pow(2, ${width * c}) as bigint)) % ${1L << width}")
          .as("chunk"))): _*)
  }

  /** The gated layout — 4 × 12 bits over 48, Hamming ≤ 12. Every SimHash
    * oracle states these literals. */
  val GateScheme: BandScheme = BandScheme(SimBits, 4, 12, 12)

  /** The documented 100 TB layout: same 4 bands (same structural recall),
    * 15-bit width = 8× the per-band keyspace, over the full 60 bits the
    * md5-derived token hashes carry; Hamming threshold scaled to the same
    * 25% of signature bits. */
  val WideScheme: BandScheme = BandScheme(60, 4, 15, 15)

  /** Package-private: reused by the streaming near-dup dedup (qst10), whose
    * per-doc signature must be bit-identical to the batch one. */
  private[graft] def withSimhash(docs: DataFrame, bits: Int = SimBits): DataFrame =
    docs
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"),
        graft.functions.TokenSimHash.simhash(col("toks"), bits).as("simhash"))

  /** The simhash CTE chain over an arbitrary (doc_id, text) relation —
    * reused by qd06/qd07/qst10 (over `documents`) and the e2e pipeline
    * (over its dedup-survivor CTE). `bits` parameterizes the signature
    * width (48 for the gate scheme, 60 for the wide one). */
  private[graft] def simhashSqlCteFrom(rel: String, bits: Int = SimBits): String =
    s"""tokenized AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM $rel WHERE len(trim(text)) > 0),
       |hashed AS (
       |  SELECT doc_id,
       |    list_transform(toks, t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS tokh
       |  FROM tokenized),
       |summed AS (
       |  SELECT doc_id, list_reduce(
       |    [list_transform(range(0, $bits), j -> CAST(0 AS BIGINT))] ||
       |    list_transform(tokh, h -> list_transform(range(0, $bits),
       |      j -> CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1
       |           THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
       |    (a, b) -> list_transform(list_zip(a, b), p -> p[1] + p[2])) AS bitsum
       |  FROM hashed),
       |simhashed AS (
       |  SELECT doc_id, list_sum(list_transform(range(0, $bits),
       |    j -> CASE WHEN bitsum[j + 1] > 0 THEN CAST(pow(2, j) AS BIGINT)
       |         ELSE CAST(0 AS BIGINT) END)) AS simhash
       |  FROM summed)""".stripMargin

  private[graft] val simhashSqlCte: String = simhashSqlCteFrom("documents")

  private def qd06(s: SparkSession, d: String): DataFrame =
    withSimhash(Tables.documents(s, d))

  // CAST AS BIGINT: DuckDB list_sum yields HUGEINT, which the driver's
  // pandas canonicalization renders as float64 vs Spark's int64.
  private val qd06Sql =
    s"""WITH $simhashSqlCte
       |SELECT doc_id, CAST(simhash AS BIGINT) AS simhash FROM simhashed""".stripMargin

  // ---------------------------------------------------------------------
  // qd07: SimHash near-dup pairs — band the 48 bits into 4 × 12-bit chunks
  // (any equal chunk → candidate; guarantees recall for Hamming ≤ 3),
  // then exact Hamming distance ≤ 12 filter via bit_count(xor).
  // ---------------------------------------------------------------------
  /** One (doc_id, simhash, c, chunk) row per band chunk of each document
    * of an arbitrary (doc_id, text) frame under `scheme`. */
  private[graft] def simhashChunks(docs: DataFrame,
      scheme: BandScheme = GateScheme): DataFrame =
    withSimhash(docs, scheme.simBits)
      .select(col("doc_id"), col("simhash"), explode(scheme.chunks).as("ck"))
      .select(col("doc_id"), col("simhash"),
        col("ck.c").as("c"), col("ck.chunk").as("chunk"))

  /** (band, chunk) buckets of sorted (doc_id, simhash) structs for an
    * arbitrary (doc_id, text) frame under `scheme` — one groupBy shuffle,
    * cap filter NOT yet applied. */
  private[graft] def simhashBucketsRaw(docs: DataFrame, scheme: BandScheme): DataFrame =
    simhashChunks(docs, scheme)
      .select(col("c"), col("chunk"), struct(col("doc_id"), col("simhash")).as("ds"))
      .groupBy(col("c"), col("chunk"))
      .agg(sort_array(collect_list(col("ds"))).as("ids")) // sorts by doc_id

  /** Every (doc_a < doc_b) pair of an arbitrary (doc_id, text) frame that
    * shares a kept (2 to BucketCap member) bucket under `scheme` and lies
    * within its Hamming bound, exploded map-side after the one bucket
    * shuffle — one row per shared bucket, so a pair sharing several bands
    * repeats until the caller's distinct. */
  private[graft] def cappedBucketPairs(docs: DataFrame, scheme: BandScheme): DataFrame =
    simhashBucketsRaw(docs, scheme)
      .filter(size(col("ids")).between(2, BucketCap))
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ids) - 1),
          |  i -> transform(slice(ids, i + 1, size(ids) - i),
          |    b -> struct(element_at(ids, i).doc_id AS doc_a, b.doc_id AS doc_b,
          |      bit_count(element_at(ids, i).simhash ^ b.simhash) AS hamming))))"""
          .stripMargin.replace("\n", " "))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.hamming").as("hamming"))
      .filter(col("hamming") <= scheme.hammingMax)

  /** qd07 candidate-generation stage: one groupBy(chunk) shuffle carrying
    * (doc_id, simhash) structs so Hamming is map-side afterwards.
    * Package-private for the PlanLintSpec single-Exchange contract. */
  private[graft] def simhashBucketStage(s: SparkSession, d: String): DataFrame =
    simhashBucketsRaw(Tables.documents(s, d), GateScheme)
      .filter(size(col("ids")).between(2, BucketCap))

  /** SimHash near-dup pairs over an arbitrary (doc_id, text) frame under
    * `scheme` — package-private so the spec can measure the recall /
    * precision trade of band widths on planted near-dups. */
  private[graft] def simhashPairs(docs: DataFrame, scheme: BandScheme): DataFrame =
    cappedBucketPairs(docs, scheme).distinct()

  /** Total candidate pairs a scheme's capped buckets would explode
    * (Σ n·(n−1)/2 over kept buckets) — the pair-work metric behind the
    * width knob; package-private for the band-scheme spec. */
  private[graft] def simhashCandidatePairs(docs: DataFrame,
      scheme: BandScheme): Long =
    simhashBucketsRaw(docs, scheme)
      .filter(size(col("ids")).between(2, BucketCap))
      .agg(coalesce(sum(expr("size(ids) * (size(ids) - 1) div 2")), lit(0L)))
      .collect()(0).getLong(0)

  private def qd07(s: SparkSession, d: String): DataFrame =
    // Same capped-bucket shape as qd03, but the bucket members carry
    // (doc_id, simhash) structs so the Hamming distance is computed
    // map-side at pair-explosion time — one shuffle total, no sig re-join.
    simhashPairs(Tables.documents(s, d), GateScheme)

  /** qd07's oracle generated from a band scheme — the same SQL for the
    * gate layout as ever, and the wide layout's gate (qd07b) for free. */
  private def qd07SqlFor(scheme: BandScheme): String =
    s"""WITH ${simhashSqlCteFrom("documents", scheme.simBits)},
       |chunks AS (
       |  SELECT doc_id, simhash, c,
       |    (simhash // CAST(pow(2, ${scheme.width} * c) AS BIGINT)) % ${1L << scheme.width} AS chunk
       |  FROM simhashed, range(0, ${scheme.bands}) t(c)),
       |kept AS (
       |  SELECT c, chunk FROM chunks GROUP BY c, chunk
       |  HAVING count(*) BETWEEN 2 AND $BucketCap),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    bit_count(xor(x.simhash, y.simhash)) AS hamming
       |  FROM chunks x JOIN chunks y
       |    ON x.c = y.c AND x.chunk = y.chunk AND x.doc_id < y.doc_id
       |  JOIN kept k ON k.c = x.c AND k.chunk = x.chunk)
       |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= ${scheme.hammingMax}""".stripMargin

  private val qd07Sql = qd07SqlFor(GateScheme)

  // ---------------------------------------------------------------------
  // qd08: near-dup connected components — the actual dedup decision: docs
  // linked by any qd03 near-dup pair collapse into one component, labeled
  // by the component's minimum doc_id (keep-min policy, matching qd01).
  //
  // Spark side is min-label propagation accelerated by pointer doubling
  // (path halving — the Shiloach–Vishkin trick as plain DataFrame joins):
  // each round every node takes the min of its own and its neighbors'
  // labels, then every label is replaced by its label's label. Plain
  // propagation alone converges in O(diameter) rounds — a chain-shaped dup
  // cluster of length d needs d rounds; the doubling step halves remaining
  // label-chain depth each round, so convergence is O(log d) (a 100-node
  // path converges in ~8 rounds, pinned by a DedupSpec property test). The
  // per-round `count()` is the convergence check — the one place a driver
  // action is the algorithm, same as any iterative solver. At 100 TB scale
  // the same loop runs with edges/labels checkpointed; rounds stay
  // log-diameter-bound. Oracle: DuckDB recursive-CTE transitive closure,
  // min over reachable ids.
  // ---------------------------------------------------------------------
  private val MaxPropagationRounds = 30

  /** Min-label connected components over undirected pair edges
    * (columns: doc_a, doc_b). Returns (id, label) with label = component
    * minimum. Exposed (package-private) so DedupSpec can pin the O(log d)
    * round bound on adversarial (path-graph) inputs qd03 never produces. */
  private[graft] def components(pairFrame: DataFrame,
      maxRounds: Int = MaxPropagationRounds): DataFrame = {
    // Eager checkpoint on every per-round frame: the doubling step
    // references the propagated frame twice and the propagated frame
    // references labels twice, so WITHOUT lineage truncation the logical
    // plan triples per round — exponential analyze/plan cost that OOMs the
    // driver near round 10. Checkpointing pins each round to a constant-size
    // LogicalRDD.
    //
    // No co-partitioned layout (r18, AB_PROBE_r18.jsonl): repartitioning
    // edges/labels by key and pinning `propagated` measured breakeven at
    // sf0.1 and 30× and 1.4× slower at 100× — the doubling join's two
    // subtrees already share their heavy exchanges via ReuseExchange.
    val pairs = pairFrame.select(col("doc_a"), col("doc_b")).localCheckpoint(true)
    val edges = pairs
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst").localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")).localCheckpoint(true)
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      // (1) neighbor-min: label ← min(label, min of neighbors' labels).
      // The incoming label rides along as `old` so the convergence check
      // is a flag aggregate over the materialized round frame instead of
      // an extra join+pass against the previous labels.
      val propagated = labels.select(col("id"), col("label").as("old"))
        .join(
          edges.join(labels, col("src") === col("id"))
            .groupBy(col("dst")).agg(min(col("label")).as("nbr")),
          col("id") === col("dst"), "left")
        .select(col("id"), col("old"),
          least(col("old"), coalesce(col("nbr"), col("old"))).as("label"))
      // (2) pointer doubling: label ← label(label). Every label value is
      // itself a node id (it started as one), so the self-join always
      // resolves; coalesce covers the already-minimal fixed points.
      val next0 = propagated.join(
        propagated.select(col("id").as("l_id"), col("label").as("l_label")),
        col("label") === col("l_id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("l_label"), col("label"))).as("label"),
          col("old"))
        .select(col("id"), col("label"),
          (col("label") =!= col("old")).cast("long").as("chg"))
      val next = next0.localCheckpoint(true)
      changed = next.agg(coalesce(sum(col("chg")), lit(0L))).collect()(0).getLong(0)
      labels = next.select(col("id"), col("label"))
      round += 1
    }
    // Non-convergence must be loud: a silently truncated propagation would
    // return labels that are not the component minimum (wrong keep
    // decisions) and hash-mismatch the closure oracle with no diagnostics.
    require(changed == 0,
      s"label propagation did not converge in $maxRounds rounds " +
        "(log₂ component diameter exceeds the cap); raise maxRounds")
    labels.select(col("id").as("doc_id"), col("label").as("component"))
  }

  /** qd08's component assignment — package-visible so qd16 composes the
    * identical stage. */
  private[graft] def nearDupComponents(s: SparkSession, d: String): DataFrame =
    components(qd03(s, d))

  private def qd08(s: SparkSession, d: String): DataFrame =
    nearDupComponents(s, d)

  /** The qd08 CTE chain (LSH pairs → undirected edges → reachability →
    * `comp(doc_id, component)`) — package-visible for qd16's oracle.
    * Callers must open with WITH RECURSIVE. */
  private[graft] val componentsSqlCte =
    s"""$lshPairsSqlCte,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM lsh_pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
       |comp AS (
       |  SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id)""".stripMargin

  private val qd08Sql =
    s"""WITH RECURSIVE $componentsSqlCte
       |SELECT doc_id, component FROM comp""".stripMargin

  // ---------------------------------------------------------------------
  // qd16: keep-BEST representative per near-dup component — the policy
  // face of dedup: where qd08's min-label implies "keep the lowest id",
  // quality-aware pipelines keep the highest-quality member of each
  // duplicate cluster instead (score = qt12's hashed-linear classifier,
  // exact integer; ties broken by min doc_id). Composes qd08's component
  // assignment and qt12's scoring verbatim; the rank window partitions by
  // COMPONENT. NOTE on skew: BucketCap bounds pair fan-in per LSH bucket,
  // but components chain TRANSITIVELY across buckets — a path of near-dups
  // can in principle grow a component with the corpus, so the window
  // partition is not structurally bounded by the cap. It is an observed
  // bound: the 30×/100× soaks measured max component size flat (near-dup
  // clusters are generator-local), and qd16 is in the soak set so a
  // corpus whose chains explode shows up as a timing/skew signal there.
  // If a real corpus produced mega-components, the remedy is the
  // qx05/qx06 composed-offset sub-shard (rank within component via
  // two-level windows). The component×score join is corpus×corpus →
  // merge-pinned.
  // ---------------------------------------------------------------------
  private def qd16(s: SparkSession, d: String): DataFrame = {
    val comp = nearDupComponents(s, d)
    val scores = TextAnalysis.classifierScore(Tables.documents(s, d))
      .select(col("doc_id"), col("score_int"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("score_int").desc, col("doc_id").asc)
    comp.join(scores.hint("merge"), Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("component"), col("doc_id").as("keeper_id"), col("score_int"))
  }

  private val qd16Sql =
    s"""WITH RECURSIVE $componentsSqlCte,
       |tok AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents WHERE len(trim(text)) > 0),
       |scored AS (
       |  SELECT doc_id,
       |    CAST(list_sum(list_transform(toks, t -> ${TextAnalysis.qt12TokWeightSql}))
       |      AS BIGINT) AS score_int
       |  FROM tok)
       |SELECT component, doc_id AS keeper_id, score_int FROM (
       |  SELECT c.component, c.doc_id, s.score_int,
       |    row_number() OVER (PARTITION BY c.component
       |      ORDER BY s.score_int DESC, c.doc_id ASC) AS rn
       |  FROM comp c JOIN scored s USING (doc_id))
       |WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // qd09: fixed-point PageRank over the near-dup graph — ranks documents
  // inside duplicate clusters (a canonical-representative score beyond
  // keep-min). Determinism: ranks are 2^20-scaled BIGINTs; contribution =
  // rank // degree (integer floor division — positive operands, identical
  // in Spark `div` and DuckDB `//`); damping = ·85 // 100; teleport is a
  // precomputed integer literal. Every operation is exact integer
  // arithmetic, so Spark's parallel sums hash-match the single-threaded
  // oracle bit-for-bit — the same trick as qc01/qc02's fixed-point means.
  // Three fixed iterations (unrolled as CTE generations in the oracle).
  // ---------------------------------------------------------------------
  private val RankScale = 1L << 20
  private val RankTeleport = RankScale * 15 / 100
  private val RankIters = 3

  /** Fixed-point PageRank over undirected pair edges (columns doc_a,
    * doc_b).
    *
    * degEdges is checkpointed unpartitioned: `localCheckpoint` (and
    * `checkpoint` too) reports `UnknownPartitioning`, so repartitioning it
    * by src first does not elide the per-round edge exchange (refuted by
    * plans/r19 and AB_PROBE_r19.jsonl). */
  private def pageRank(pairFrame: DataFrame): DataFrame = {
    val pairs = pairFrame.select(col("doc_a"), col("doc_b")).cache()
    val edges = pairs
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
    // Degree is loop-invariant: attach it to the edge list ONCE (eagerly
    // checkpointed) instead of re-joining outdeg inside every iteration —
    // each PageRank round is then a single join with the current ranks.
    val nodes = edges.select(col("src").as("id")).distinct().cache()
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val degEdges = edges
      .join(outdeg.withColumnRenamed("src", "d_id"), col("src") === col("d_id"))
      .select(col("src"), col("dst"), col("deg")).localCheckpoint(true)
    var ranks = nodes.select(col("id"), lit(RankScale).as("r"))
    for (_ <- 1 to RankIters) {
      val contrib = degEdges
        .join(ranks.withColumnRenamed("id", "r_id"), col("src") === col("r_id"))
        .select(col("dst").as("id"), expr("r div deg").as("contrib"))
        .groupBy(col("id")).agg(sum(col("contrib")).as("s"))
      ranks = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(RankTeleport) +
            expr("cast(coalesce(s, 0L) * 85 div 100 as bigint)")).as("r"))
    }
    // Eager checkpoint materializes the ranks in the same single pass
    // that pins them before the inputs are unpersisted (vs the old
    // cache()+count(), which spent a full extra job) — same pattern as
    // qd03's sigs.
    val out = ranks.select(col("id").as("doc_id"), col("r").as("rank_fp"))
      .localCheckpoint(true)
    pairs.unpersist(); nodes.unpersist()
    out
  }

  private def qd09(s: SparkSession, d: String): DataFrame =
    pageRank(qd03(s, d))

  private val qd09Sql = {
    def gen(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT n.id,
         |    $RankTeleport + CAST(coalesce(sum(x.contrib), 0) * 85 // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, p.r // o.deg AS contrib
         |    FROM edges e
         |    JOIN $prev p ON p.id = e.src
         |    JOIN outdeg o ON o.id = e.src) x ON x.id = n.id
         |  GROUP BY n.id)""".stripMargin
    s"""WITH $lshPairsSqlCte,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM lsh_pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |outdeg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT id, CAST($RankScale AS BIGINT) AS r FROM nodes),
       |${gen("r0", "r1")},
       |${gen("r1", "r2")},
       |${gen("r2", "r3")}
       |SELECT id AS doc_id, r AS rank_fp FROM r$RankIters""".stripMargin
  }

  // ---------------------------------------------------------------------
  // qd10: content-defined chunking — sub-document dedup analysis (the
  // paragraph-level pass of a RefinedWeb-style pipeline): token boundaries
  // where md5(token) % 16 == 0 split each document into content-defined
  // chunks (boundaries move with the CONTENT, so an insertion only
  // reshapes neighboring chunks — the CDC property fixed-size chunking
  // lacks); chunk hashes are compared corpus-wide and each doc reports
  // how many of its chunks also appear in other documents.
  //
  // Scale shape: one explode + per-doc window (partitioned by doc_id —
  // parallel across docs), one groupBy(doc, chunk), one groupBy(chunk
  // hash), one merge-hinted join (chunk table is corpus-sized on both
  // sides — see the broadcast-estimate note on qd03). Everything shuffled
  // is fixed-width hashes or (doc, pos) pairs.
  // ---------------------------------------------------------------------
  private val CdcBoundaryMod = 16

  private def qd10(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(s, d)
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        posexplode(expr("split(trim(text), '\\\\s+')")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
      .withColumn("boundary", expr(
        s"case when cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint) % $CdcBoundaryMod = 0 then 1 else 0 end"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val chunks = tok.withColumn("chunk_id", sum(col("boundary")).over(w))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(md5(concat_ws(" ",
        expr("transform(sort_array(collect_list(struct(pos, tok))), x -> x.tok)")))
        .as("ch"))
    val spread = chunks.groupBy(col("ch"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    chunks.join(spread.hint("merge"), Seq("ch"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_shared_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_shared_chunks"),
        (col("n_shared_chunks").cast("double") / col("n_chunks")).as("shared_frac"))
  }

  private val qd10Sql =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
       |  FROM documents WHERE len(trim(text)) > 0),
       |tok AS (
       |  SELECT doc_id, generate_subscripts(tk, 1) AS pos, unnest(tk) AS tok
       |  FROM toks),
       |flagged AS (
       |  SELECT doc_id, pos, tok,
       |    CASE WHEN CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % $CdcBoundaryMod = 0
       |         THEN 1 ELSE 0 END AS boundary
       |  FROM tok),
       |chunked AS (
       |  SELECT doc_id, pos, tok,
       |    sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
       |                        ROWS UNBOUNDED PRECEDING) AS chunk_id
       |  FROM flagged),
       |chunks AS (
       |  SELECT doc_id, chunk_id, md5(string_agg(tok, ' ' ORDER BY pos)) AS ch
       |  FROM chunked GROUP BY doc_id, chunk_id),
       |spread AS (SELECT ch, count(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY ch)
       |SELECT c.doc_id, count(*) AS n_chunks,
       |  CAST(sum(CASE WHEN s.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks,
       |  CAST(CAST(sum(CASE WHEN s.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
       |    / count(*) AS shared_frac
       |FROM chunks c JOIN spread s ON s.ch = c.ch
       |GROUP BY c.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // qd14: telemetry event dedup — suppress an event when the previous
  // event of the same (user_id, event_type) lies within the gap horizon
  // (4 h): keeps exactly the first event of each gap-session, the standard
  // repeated-beacon/retry suppression rule. One lag window per key; the
  // partition is one user's events of one type — bounded however large
  // the corpus, so the window is skew-safe without sub-sharding.
  // ---------------------------------------------------------------------
  private val EventGapUs = 14400000000L // 4 h in µs

  /** The qd14 keep rule over an arbitrary (event_id, user_id, event_type,
    * ts) frame — package-private for the spec's planted-timeline checks. */
  private[graft] def gapSessionKeep(events: DataFrame,
      gapUs: Long = EventGapUs): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .withColumn("kept",
        when(lag(col("ts"), 1).over(w).isNull ||
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) > gapUs,
          lit(1)).otherwise(lit(0)))
      .select(col("event_id"), col("user_id"), col("event_type"), col("kept"))
  }

  private def qd14(s: SparkSession, d: String): DataFrame =
    gapSessionKeep(Tables.events(s, d))

  private val qd14Sql =
    s"""SELECT event_id, user_id, event_type,
       |  CAST(CASE WHEN lag(ts) OVER w IS NULL
       |       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > $EventGapUs
       |       THEN 1 ELSE 0 END AS INT) AS kept
       |FROM events
       |WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)""".stripMargin

  // ---------------------------------------------------------------------
  // qd17: blocked edit-distance near-dup — the Levenshtein member of the
  // dedup family (typo-level/OCR-noise duplicates that token- and
  // hash-based measures miss). Classic blocked shape: candidates must
  // share a (length-band, normalized-prefix) block key — one shuffle on
  // the block key, pair work confined within blocks — then the exact
  // codegen'd `levenshtein` on a bounded 120-char prefix caps the DP at
  // ~14k cells/pair regardless of document length (the per-pair budget
  // rule that keeps O(L²) work constant-bounded at 100 TB). Both engines
  // implement the identical unweighted Levenshtein DP, so the distances
  // hash-match exactly. Oversized blocks would get qd03's BucketCap
  // treatment; at these block keys (16-char length bands × 8-char
  // prefix) natural block sizes stay single-digit.
  // ---------------------------------------------------------------------
  private val EditBlockBand = 16
  private val EditPrefix = 8
  private val EditCmpLen = 120
  private val EditMaxDist = 20
  // pair work within a block is O(n²): a corpus with heavy VERBATIM
  // duplication (the Zipf soak shape) concentrates copies in one block —
  // without a cap the hot block alone is millions of comparisons. Two
  // composed remedies, both measured necessary on the Zipf 1000× tier:
  // (1) EXACT-DEDUP-FIRST — one representative (min doc_id) per distinct
  //     normalized text enters the pairing at all. Verbatim copies are
  //     qd01's job; the per-pair Levenshtein DP (~14k cells) is ~1000×
  //     a hash probe, so spending it on exact copies is pure waste. The
  //     uncapped-by-dedup Zipf run was killed at 40 min; the same
  //     pipeline over representatives finishes in seconds — the qp01
  //     "exact-dedup-first" lesson re-measured at the operator level.
  // (2) a block-size cap (qd03's BucketCap shape) bounding the residual
  //     near-miss blocks: oversized blocks are excluded from pairing.
  private val EditBlockCap = 64

  private def qd17(s: SparkSession, d: String): DataFrame = {
    // checkpoint (qd03's treatment): `blocked` feeds the cap groupBy
    // AND both self-join sides — without it the double-regex norm pass
    // over the full corpus re-executes 4×, which measured as the entire
    // cost at the Zipf 1000× tier. The reps frame is one row per DISTINCT
    // normalized text — on a dup-free corpus that IS corpus-sized, each
    // row carrying the full normalized text, so it goes to disk.
    // AsciiNormalize = the regex chain's codegen'd single-pass equivalent
    // (spec-pinned equality); Java regex measured as qd17's entire cost
    val blocked = Tables.documents(s, d).select(col("doc_id"),
      graft.functions.TextNorm.asciiNormalize(col("text")).as("n"))
      .groupBy(col("n")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("n"),
        expr(s"length(n) div $EditBlockBand").as("lb"),
        substring(col("n"), 1, EditPrefix).as("pfx"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    val small = blocked.groupBy(col("lb"), col("pfx"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") <= EditBlockCap)
      .select(col("lb"), col("pfx"))
    val capped = blocked.join(small.hint("merge"), Seq("lb", "pfx"))
    val a = capped.select(col("lb"), col("pfx"), col("doc_id").as("a_id"), col("n").as("a_n"))
    val b = capped.select(col("lb"), col("pfx"), col("doc_id").as("b_id"), col("n").as("b_n"))
    a.join(b, Seq("lb", "pfx")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        levenshtein(substring(col("a_n"), 1, EditCmpLen),
          substring(col("b_n"), 1, EditCmpLen)).as("edit_dist"))
      .filter(col("edit_dist") <= EditMaxDist)
  }

  private val qd17Sql =
    s"""WITH norm AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')) AS n
       |  FROM documents),
       |reps AS (
       |  SELECT min(doc_id) AS doc_id, n FROM norm GROUP BY n),
       |blocked0 AS (
       |  SELECT doc_id, n, length(n) // $EditBlockBand AS lb,
       |    substr(n, 1, $EditPrefix) AS pfx
       |  FROM reps),
       |blocked AS (
       |  SELECT b0.* FROM blocked0 b0
       |  JOIN (SELECT lb, pfx FROM blocked0
       |        GROUP BY lb, pfx HAVING count(*) <= $EditBlockCap) s
       |  USING (lb, pfx))
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(levenshtein(substr(a.n, 1, $EditCmpLen), substr(b.n, 1, $EditCmpLen)) AS INT) AS edit_dist
       |FROM blocked a JOIN blocked b
       |  ON a.lb = b.lb AND a.pfx = b.pfx AND a.doc_id < b.doc_id
       |WHERE levenshtein(substr(a.n, 1, $EditCmpLen), substr(b.n, 1, $EditCmpLen)) <= $EditMaxDist""".stripMargin

  def queries: Seq[Q] = Seq(
    Q("qd01_dedup_exact", qd01, Some(qd01Sql)),
    Q("qd02_minhash_sigs", qd02, Some(qd02Sql), headline = true),
    Q("qd03_minhash_lsh_pairs", qd03, Some(qd03Sql), headline = true),
    Q("qd04_ngram_jaccard", qd04, Some(qd04Sql)),
    // SMALL-SF ONLY: deliberate all-pairs exact baseline (O(N²)) — never
    // bench/run above test SF; the scale path is qd03 (LSH) / qs02.
    Q("qd05_embedding_dup", qd05, Some(qd05Sql)),
    // the scale path for qd05: banded hyperplane-LSH candidates + exact
    // cosine — linear in N at fixed occupancy, BucketCap-bounded per bucket
    Q("qd05b_embedding_lsh_dup", qd05b, Some(qd05bSql)),
    // the wide embedding layout (3×10 — 1024-key bands), gated: vacuous
    // occupancy at sf0.001 but real pair work from sf0.1's 2k vectors up;
    // the sf0.1 oracle pass is the evidence it produces nonzero recall
    Q("qd05c_embedding_lsh_wide",
      (s, d) => embLshPairs(Tables.embeddings(s, d), EmbWideScheme),
      Some(qd05cSql)),
    Q("qd06_simhash", qd06, Some(qd06Sql)),
    Q("qd07_simhash_pairs", qd07, Some(qd07Sql)),
    // the wide 100 TB band layout, gated — not just documented: same
    // 4-band recall guarantee, 8x keyspace, over the full 60-bit signature
    Q("qd07b_simhash_pairs_wide",
      (s, d) => simhashPairs(Tables.documents(s, d), WideScheme),
      Some(qd07SqlFor(WideScheme))),
    Q("qd08_dedup_components", qd08, Some(qd08Sql)),
    Q("qd09_graph_rank", qd09, Some(qd09Sql)),
    Q("qd10_cdc_chunks", qd10, Some(qd10Sql)),
    Q("qd14_event_dedup", qd14, Some(qd14Sql)),
    Q("qd16_component_keep_best", qd16, Some(qd16Sql)),
    Q("qd17_edit_distance_dup", qd17, Some(qd17Sql)))
}
