package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.Vectors
import graft.sources.Tables

/** Embedding clustering: one k-means refinement iteration (assign → new
  * centroids) over the `embeddings` table, seeded from the fixed-K IVF
  * centroid sample.
  *
  * The blocker for oracle-gating clustering is float-sum order dependence:
  * a per-cell mean is a sum of member vectors, and double addition is not
  * associative, so a parallel Spark sum and a single-threaded DuckDB sum
  * disagree in the last ulp. The deterministic formulation here:
  *
  *  1. assignment uses the exact double cosine (index-order fold — proven
  *     bit-identical across engines in round 1);
  *  2. component sums are FIXED-POINT: each float component is scaled by
  *     2^24 (exact in IEEE — power of two), rounded (ties away from zero in
  *     both engines) to BIGINT, and summed exactly; the mean is then one
  *     IEEE division of the exact integer sum — order-independent;
  *  3. the mean-vector norm is an index-order left fold over the per-dim
  *     means (Spark `aggregate` ≡ DuckDB `list_reduce`).
  *
  * Scale design (100 TB): K centroids broadcast; assignment is a map-side
  * pass (O(N·K) dot products); the component sum shuffles (c_id, dim)
  * triples — 64·K groups, trivially small — with map-side partial
  * aggregation doing nearly all the work. Iterating to convergence is a
  * driver loop over this one step.
  */
object Clustering {

  private val Dim = 64
  private val Scale = 1 << 24 // fixed-point scale: exact float multiplier

  /** Assign every vector to its nearest seed centroid (cosine, tie-break on
    * centroid id). */
  private def assigned(s: SparkSession, d: String,
      k: Int = Similarity.IvfK): DataFrame = {
    val cents = Similarity.ivfCentroids(s, d, k)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("c_sim").desc, col("c_id").asc)
    Tables.embeddings(s, d)
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("c_id"),
        Vectors.fastCosine(col("embedding"), col("c_emb")).as("c_sim"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(col("vec_id"), col("embedding"), col("c_id"))
  }

  /** Refined centroids after one iteration: (c_id, n_members,
    * ms = array<double> mean vector in dim order). */
  private def refinedCentroids(s: SparkSession, d: String,
      k: Int = Similarity.IvfK): DataFrame = {
    val dims = assigned(s, d, k)
      .select(col("c_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("c_id"), col("dim"),
        expr(s"cast(round(cast(v as double) * $Scale) as bigint)").as("q"))
    val sums = dims.groupBy(col("c_id"), col("dim"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
    val means = sums.select(col("c_id"), col("dim"), col("n"),
      (col("sq").cast("double") / Scale / col("n")).as("m"))
    means.groupBy(col("c_id"))
      .agg(max(col("n")).as("n_members"),
        sort_array(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("c_id"), col("n_members"),
        expr("transform(dm, x -> x.m)").as("ms"))
  }

  private def qc01(s: SparkSession, d: String): DataFrame =
    refinedCentroids(s, d)
      .select(col("c_id"), col("n_members"),
        expr("ms[0]").as("m0"), expr("ms[1]").as("m1"), expr("ms[2]").as("m2"),
        expr("sqrt(aggregate(transform(ms, x -> x * x), 0D, (a, b) -> a + b))")
          .as("centroid_norm"))

  private def qc01Sql =
    s"""WITH $refinedSqlCte
       |SELECT c_id, n_members, ms[1] AS m0, ms[2] AS m1, ms[3] AS m2,
       |  sqrt(list_reduce(list_transform(ms, x -> x * x), (a, b) -> a + b))
       |    AS centroid_norm
       |FROM packed""".stripMargin

  /** Fixed-K centroid sample CTE (qc01/qc02's gate config — the k-means
    * step itself is K-agnostic, so its gate pins the small literal). */
  private def centsFixedSql =
    s"""cents AS (
       |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${Similarity.IvfK})"""
      .stripMargin

  /** Scale-derived centroid sample CTE — the DuckDB mirror of
    * [[scaleAwareK]]: K = max(16, ⌈√N⌉) computed from the corpus itself
    * (count(*) OVER ()), so the oracle derives the identical K for any
    * input without a literal. */
  private def centsScaledSql =
    s"""cents AS (
       |  SELECT c_id, c_emb FROM (
       |    SELECT vec_id AS c_id, embedding AS c_emb,
       |      row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn,
       |      count(*) OVER () AS n
       |    FROM embeddings)
       |  WHERE rn <= greatest(${Similarity.IvfK}, CAST(ceil(sqrt(n)) AS BIGINT)))"""
      .stripMargin

  /** Shared CTE chain ending in packed(c_id, n_members, ms) — the DuckDB
    * mirror of [[refinedCentroids]], parameterized by the cents CTE. */
  private def refinedSqlCteWith(cents: String) = {
    val acos = Vectors.cosineSql("e.embedding", "c.c_emb")
    s"""$cents,
       |assigned AS (
       |  SELECT vec_id, embedding, c_id FROM (
       |    SELECT e.vec_id, e.embedding, c.c_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY $acos DESC, c.c_id ASC) AS r
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE r = 1),
       |dims AS (
       |  SELECT c_id, j AS dim,
       |    CAST(round(CAST(embedding[j + 1] AS DOUBLE) * $Scale) AS BIGINT) AS q
       |  FROM assigned, range(0, $Dim) t(j)),
       |sums AS (
       |  SELECT c_id, dim, CAST(sum(q) AS BIGINT) AS sq, count(*) AS n
       |  FROM dims GROUP BY 1, 2),
       |means AS (
       |  SELECT c_id, dim, n, CAST(sq AS DOUBLE) / $Scale / n AS m FROM sums),
       |packed AS (
       |  SELECT c_id, max(n) AS n_members, list(m ORDER BY dim) AS ms
       |  FROM means GROUP BY c_id)""".stripMargin
  }

  private def refinedSqlCte = refinedSqlCteWith(centsFixedSql)
  private def refinedSqlCteScaled = refinedSqlCteWith(centsScaledSql)

  // ---------------------------------------------------------------------
  // qc02: second k-means iteration — reassign every vector to its nearest
  // REFINED centroid (double mean vectors from qc01's machinery) and report
  // per-cell membership plus the mean cosine distance (inertia). The
  // distance sum uses the same fixed-point trick at 2^32 scale: each
  // (1 − cos) is an identical double in both engines, so the scaled
  // rounding and exact integer sum are order-independent; one final IEEE
  // division yields the mean. (Exact while the scaled sum stays below
  // 2^53 — ~2 M vectors per cell at this scale; raise/lower Scale2 per
  // corpus.) Demonstrates the driver-loop iteration pattern: each extra
  // iteration is one more assignment pass over a broadcast centroid set.
  // ---------------------------------------------------------------------
  private val Scale2 = 4294967296L // 2^32

  private def qc02(s: SparkSession, d: String): DataFrame = {
    val cents1 = refinedCentroids(s, d).select(col("c_id"), col("ms"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("c_id").asc)
    Tables.embeddings(s, d)
      .crossJoin(broadcast(cents1))
      .select(col("vec_id"), col("c_id"),
        // codegen'd float x double cosine — bit-identical to the
        // interpreted Vectors.cosine on the same operands
        Vectors.fastCosineFD(col("embedding"), col("ms")).as("sim"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .groupBy(col("c_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(expr(s"cast(round((1.0 - sim) * $Scale2) as bigint)")).as("fp"))
      .select(col("c_id"), col("n_members"),
        (col("fp").cast("double") / Scale2 / col("n_members")).as("avg_cos_dist"))
  }

  private val qc02Sql = {
    val rcos = Vectors.cosineSql("e.embedding", "p.ms")
    s"""WITH $refinedSqlCte,
       |assign2 AS (
       |  SELECT vec_id, c_id, sim FROM (
       |    SELECT e.vec_id, p.c_id, $rcos AS sim,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY $rcos DESC, p.c_id ASC) AS r
       |    FROM embeddings e CROSS JOIN packed p)
       |  WHERE r = 1)
       |SELECT c_id, count(*) AS n_members,
       |  CAST(CAST(sum(CAST(round((1.0 - sim) * $Scale2) AS BIGINT)) AS BIGINT)
       |       AS DOUBLE) / $Scale2 / count(*) AS avg_cos_dist
       |FROM assign2 GROUP BY c_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // qd11: semantic deduplication (SemDeDup-style, published recipe:
  // k-means-cluster the embeddings, then compare pairs only WITHIN each
  // cluster and drop all but the lowest id of any pair above the cosine
  // threshold). This is the scale path for embedding dedup: qd05's exact
  // all-pairs is O(N²); clustering first cuts it to O(N²/K), and the
  // DEFAULT K is scale-derived — K = max(16, ⌈√N⌉) ([[scaleAwareK]]), the
  // measured U-curve minimum of assignment O(N·K) + pairs O(N²/K), so the
  // default stays ~O(N^1.5) under corpus growth instead of quadratic (the
  // round-5 soak measured fixed K = 16 at 14× cost under 30× data; the
  // √N point was 8× faster). The oracle derives the same K in-query.
  // Cross-cluster near-dups are the recall trade, exactly as published.
  //
  // Composition: reuses qc01's refined centroids (one k-means step) and
  // the cascade-free keep-min drop rule of qd07/qst10. Assignment is a
  // broadcast of K centroid mean-vectors (bounded by construction);
  // the within-cluster pair join and the dup anti-side are corpus-sized
  // on both sides → merge-pinned (static-planner broadcast trap, qd04).
  // ---------------------------------------------------------------------
  private val SemDupThreshold = 0.4 // same cosine bar as qd05's exact pass

  /** Scale-aware cluster count for the SemDeDup family: K = max(16, ⌈√N⌉).
    * Total cost = assignment O(N·K) + within-cluster pairs O(N²/K), a
    * U-curve whose measured minimum is K ≈ √N (the semdedup_k_sizing rows
    * of SOAK_FULL_r12–r14.jsonl and BASELINE.md's K-curve: 8× faster than
    * the old fixed K = 16 at 30×, and ~linear under corpus growth where
    * fixed K is quadratic). The corpus count is one
    * driver-side long — the legitimate single-value read (qd08's
    * convergence-check pattern); everything downstream stays distributed,
    * and the oracle derives the identical K in-query (count(*) OVER (),
    * [[centsScaledSql]]), so the gate needs no literal. K ∝ N would only
    * pay once assignment went through an index instead of brute force. */
  private[graft] def scaleAwareK(s: SparkSession, d: String): Int = {
    val n = Tables.embeddings(s, d).count()
    math.max(Similarity.IvfK, math.ceil(math.sqrt(n.toDouble)).toInt)
  }

  /** qd11's (vec_id, c_id, is_dup) flags at the scale-derived K.
    * Package-visible so the qp02 curation pipeline composes the identical
    * semantic-dedup stage. */
  private[graft] def semDedupFlags(s: SparkSession, d: String): DataFrame =
    qd11(s, d, scaleAwareK(s, d))

  /** `ckpt` defaults to the single-JVM corpus-sized tier; a cluster
    * passes [[CheckpointStrategy.Reliable]] (VERDICT r14 #1). */
  private[graft] def qd11(s: SparkSession, d: String, k: Int,
      ckpt: CheckpointStrategy = CheckpointStrategy.LocalDisk): DataFrame = {
    val cents1 = refinedCentroids(s, d, k).select(col("c_id"), col("ms"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("c_id").asc)
    val members = Tables.embeddings(s, d)
      .crossJoin(broadcast(cents1))
      .select(col("vec_id"), col("embedding"), col("c_id"),
        Vectors.fastCosineFD(col("embedding"), col("ms")).as("sim"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(col("vec_id"), col("embedding"), col("c_id"))
      // read 3× (both dup self-join sides + the final flag join): the
      // corpus × K assignment cross re-executed per reference. LocalDisk:
      // corpus-sized with the embedding column (the qd19/qt22 r14 rule —
      // in-heap copies of corpus-sized frames OOM grown tiers).
      .transform(ckpt(_))
    val dup = members.alias("a")
      .join(members.alias("b").hint("merge"),
        col("a.c_id") === col("b.c_id") && col("a.vec_id") < col("b.vec_id"))
      .filter(Vectors.fastCosine(col("a.embedding"), col("b.embedding"))
        >= SemDupThreshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("d", lit(1L))
    members.join(dup.hint("merge"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("c_id"),
        coalesce(col("d"), lit(0L)).as("is_dup"))
  }

  /** The qd11 CTE chain (refined centroids → members → dup set) —
    * package-visible so qp02's oracle replays the identical stage. */
  private[graft] val semDedupSqlCte: String = {
    val rcos = Vectors.cosineSql("e.embedding", "p.ms")
    val pcos = Vectors.cosineSql("a.embedding", "b.embedding")
    s"""$refinedSqlCteScaled,
       |members AS (
       |  SELECT vec_id, embedding, c_id FROM (
       |    SELECT e.vec_id, e.embedding, p.c_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY $rcos DESC, p.c_id ASC) AS r
       |    FROM embeddings e CROSS JOIN packed p)
       |  WHERE r = 1),
       |dup AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM members a JOIN members b
       |    ON a.c_id = b.c_id AND a.vec_id < b.vec_id
       |  WHERE $pcos >= $SemDupThreshold)""".stripMargin
  }

  private val qd11Sql =
    s"""WITH $semDedupSqlCte
       |SELECT m.vec_id, m.c_id,
       |  CAST(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
       |FROM members m LEFT JOIN dup d ON d.vec_id = m.vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // qc03: one EXACT batch-gradient step of a hashed-feature linear
  // quality classifier (the fastText-style model every corpus-filtering
  // recipe trains) over `documents` — the supervised sibling of qc01's
  // k-means step. The blocker for oracle-gating distributed training is
  // the same as qc01's: float sums are order-dependent, so a parallel
  // gradient and a single-threaded one disagree in the last ulp — which
  // is also why distributed SGD runs are unreproducible in practice.
  // The deterministic formulation designs that out:
  //
  //  - features: token → md5-prefix hash mod NumFeat buckets, x_j =
  //    integer counts (the hashing trick — vocabulary-independent);
  //  - weights: fixed-point MILLIS (w_j ∈ [−1000, 1000] derived from
  //    md5("w:j") — deterministic init, no RNG), so the score
  //    z_milli = Σ w_j·x_j is an exact BIGINT;
  //  - activation: the hard-sigmoid surrogate clamp(0,1, z/4 + 1/2) in
  //    fixed point — p_milli = clamp(0,1000, 500 + ⌊z_milli/4000⌋).
  //    The ⌊·⌋ is floor of a DOUBLE division, safe across engines
  //    because a non-integer quotient sits ≥ 1/4000 from any integer,
  //    orders of magnitude above double ulp at this scale (and exact
  //    when the quotient IS an integer);
  //  - gradient: grad_j = Σ_docs x_j·(p_milli − 1000·y) — an exact
  //    BIGINT sum, associative, REPRODUCIBLE at any parallelism;
  //  - label: y = source index parity (balanced by construction).
  //
  // Scale shape: one token-explode projection, one (doc, j) count
  // shuffle, one per-doc rollup, one (doc)-keyed merge join of the
  // error back onto the feature rows, one final j-keyed 64-group agg —
  // all linear, map-side partials everywhere, nothing corpus-sized
  // broadcast (the err join is merge-pinned; the only crossed frame is
  // the 1-row n_docs/accuracy total). Iterating to convergence is a
  // driver loop over this step, exactly like qc01/qc02.
  // ---------------------------------------------------------------------
  private val NumFeat = 64

  /** md5-prefix hash of `e` mod `m` — rendered identically by DuckDB's
    * `CAST('0x' || substr(md5(e), 1, 15) AS BIGINT)`. */
  private def md5Mod(e: org.apache.spark.sql.Column, m: Int) =
    conv(substring(md5(e), 1, 15), 16, 10).cast("long") % m

  private def wOf(j: org.apache.spark.sql.Column) =
    md5Mod(concat(lit("w:"), j.cast("string")), 2001) - 1000

  /** (doc_id, y, j, x): hashed-bucket token counts with the parity label —
    * the training design matrix, shared by qc03 (one step) and qc04 (the
    * iterated loop). */
  private def featFrame(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        (expr("cast(substring(source, 4) as bigint)") % 2).as("y"),
        explode(expr("split(trim(text), '\\\\s+')")).as("t"))
      .select(col("doc_id"), col("y"), md5Mod(lower(col("t")), NumFeat).as("j"))
      .groupBy(col("doc_id"), col("y"), col("j"))
      .agg(count(lit(1)).as("x"))

  private def qc03(s: SparkSession, d: String): DataFrame =
    qc03Impl(s, d, CheckpointStrategy.LocalDisk)

  /** qc03 with the lineage-checkpoint strategy as a parameter (the qd19
    * treatment, VERDICT r14 #8): without it the design matrix — the
    * dominant token-explode subtree — executes 3× (once under `scored`
    * feeding `tot`, once under the gradient join's `err` side, once as
    * the gradient join's feature side), the same multiply-referenced
    * shape qc04 already checkpoints. LocalDisk is the single-JVM default;
    * a cluster passes Reliable (see [[CheckpointStrategy]]). */
  private[graft] def qc03Impl(s: SparkSession, d: String,
      ckpt: CheckpointStrategy): DataFrame = {
    val feats = ckpt(featFrame(s, d))
    val scored = feats
      .groupBy(col("doc_id"), col("y"))
      .agg(sum(col("x") * wOf(col("j"))).as("z"))
      .select(col("doc_id"), col("y"),
        least(lit(1000L), greatest(lit(0L),
          lit(500L) + floor(col("z") / 4000.0))).as("p"))
    // err is read twice (tot + the gradient join); checkpointing it stops
    // the score aggregation re-running — corpus-sized but thin (1 row/doc)
    val err = ckpt(scored.select(col("doc_id"),
      (col("p") - lit(1000L) * col("y")).as("e"),
      when((col("p") >= 500) === (col("y") === 1), 1L).otherwise(0L).as("ok")))
    val tot = err.agg(count(lit(1)).as("n_docs"), sum(col("ok")).as("n_correct"))
    val grads = feats.join(err.select(col("doc_id"), col("e")).hint("merge"),
        Seq("doc_id"))
      .groupBy(col("j")).agg(sum(col("x") * col("e")).as("grad_milli"))
    s.range(NumFeat).select(col("id").as("j"), wOf(col("id")).as("w_old_milli"))
      .join(grads.hint("merge"), Seq("j"), "left")
      .crossJoin(broadcast(tot))
      .select(col("j"), col("w_old_milli"),
        coalesce(col("grad_milli"), lit(0L)).as("grad_milli"),
        (col("w_old_milli") - floor(coalesce(col("grad_milli"), lit(0L))
          / col("n_docs").cast("double")).cast("long")).as("w_new_milli"),
        col("n_docs"), col("n_correct"))
  }

  private val qc03Sql =
    s"""WITH toks AS (
       |  SELECT doc_id, CAST(substr(source, 4) AS BIGINT) % 2 AS y,
       |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
       |  FROM documents),
       |feats AS (
       |  SELECT doc_id, y,
       |    CAST('0x' || substr(md5(lower(t)), 1, 15) AS BIGINT) % $NumFeat AS j,
       |    CAST(count(*) AS BIGINT) AS x
       |  FROM toks GROUP BY 1, 2, 3),
       |w AS (
       |  SELECT j,
       |    CAST('0x' || substr(md5('w:' || j), 1, 15) AS BIGINT) % 2001 - 1000
       |      AS w_milli
       |  FROM range(0, $NumFeat) t(j)),
       |scored AS (
       |  SELECT f.doc_id, f.y, CAST(sum(f.x * w.w_milli) AS BIGINT) AS z
       |  FROM feats f JOIN w ON w.j = f.j GROUP BY 1, 2),
       |pred AS (
       |  SELECT doc_id, y,
       |    least(1000, greatest(0, 500 + CAST(floor(z / 4000.0) AS BIGINT))) AS p
       |  FROM scored),
       |err AS (
       |  SELECT doc_id, p - 1000 * y AS e,
       |    CASE WHEN (p >= 500) = (y = 1) THEN 1 ELSE 0 END AS ok
       |  FROM pred),
       |tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(ok) AS BIGINT) AS n_correct FROM err),
       |grad AS (
       |  SELECT f.j, CAST(sum(f.x * e.e) AS BIGINT) AS grad_milli
       |  FROM feats f JOIN err e ON e.doc_id = f.doc_id GROUP BY 1)
       |SELECT w.j, w.w_milli AS w_old_milli,
       |  coalesce(g.grad_milli, 0) AS grad_milli,
       |  w.w_milli - CAST(floor(coalesce(g.grad_milli, 0)
       |    / CAST(n_docs AS DOUBLE)) AS BIGINT) AS w_new_milli,
       |  n_docs, n_correct
       |FROM w LEFT JOIN grad g ON g.j = w.j CROSS JOIN tot""".stripMargin

  // ---------------------------------------------------------------------
  // qc04: the TRAINING LOOP — qc03's exact gradient step iterated
  // TrainSteps times (the qc01→qc02 move, plus the qt16 driver-loop
  // craft). Each step: score under the current weights, batch gradient,
  // fixed-point update w ← w − ⌊grad/n⌋; only 64 scalars + a 1-row total
  // ever reach the driver per step (the qt16/qc02 contract), and the
  // design matrix is eagerly localCheckpoint'ed ONCE and reused by every
  // step on both branches (score + gradient) — without it each step
  // re-derives the token explode twice (the BPE lineage lesson).
  // Because every step is exact integer arithmetic, the whole TRAJECTORY
  // is deterministic and parallelism-invariant — the oracle replays all
  // TrainSteps steps as a chained MATERIALIZED-CTE pipeline (the qt16
  // fix: inlined CTEs would expand the w-chain dag exponentially) and
  // the gate hash-compares every (step, j) weight, gradient, and the
  // per-step accuracy trajectory. Step 1 equals qc03 verbatim
  // (spec-pinned).
  // ---------------------------------------------------------------------
  private val TrainSteps = 3

  private def qc04(s: SparkSession, d: String): DataFrame =
    qc04Impl(s, d, CheckpointStrategy.LocalDisk)

  /** qc04 with the lineage-checkpoint strategy as a parameter (VERDICT
    * r15 #1 retrofit): the design matrix is the SAME corpus-sized
    * featFrame qc03Impl LocalDisks — the in-heap copy is the r14-measured
    * decade-tier OOM shape. A cluster passes Reliable. */
  private[graft] def qc04Impl(s: SparkSession, d: String,
      ckpt: CheckpointStrategy): DataFrame = {
    import s.implicits._
    val feats = ckpt(featFrame(s, d))
    var w: Map[Long, Long] = s.range(NumFeat)
      .select(col("id").as("j"), wOf(col("id")).as("w")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = Seq.newBuilder[(Long, Long, Long, Long, Long, Long, Long)]
    for (t <- 1 to TrainSteps) {
      val wDF = w.toSeq.toDF("j", "w")
      // err is read twice per step (the accuracy total + the gradient
      // join) — without pinning, the score aggregation (the feats join +
      // per-doc rollup, the step's dominant pass) re-executes for each,
      // the same multiply-referenced shape qc03Impl already checkpoints.
      // Optimization r18: one score pass per step instead of two; err is
      // corpus-sized but thin (3 longs/doc), so the step strategy applies
      // (AB_PROBE_r18.jsonl: 1.44× at 30×, 1.21× at 100×).
      val err = ckpt(feats.join(broadcast(wDF), Seq("j"))
        .groupBy(col("doc_id"), col("y"))
        .agg(sum(col("x") * col("w")).as("z"))
        .select(col("doc_id"), col("y"),
          least(lit(1000L), greatest(lit(0L),
            lit(500L) + floor(col("z") / 4000.0))).as("p"))
        .select(col("doc_id"),
          (col("p") - lit(1000L) * col("y")).as("e"),
          when((col("p") >= 500) === (col("y") === 1), 1L).otherwise(0L).as("ok")))
      val totRow = err.agg(count(lit(1)).as("n"), sum(col("ok")).as("c"))
        .collect()(0)
      val (nDocs, nCorrect) = (totRow.getLong(0), totRow.getLong(1))
      val grads: Map[Long, Long] = feats
        .join(err.select(col("doc_id"), col("e")).hint("merge"), Seq("doc_id"))
        .groupBy(col("j")).agg(sum(col("x") * col("e")).as("g"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val wNew = w.map { case (j, wj) =>
        j -> (wj - math.floor(grads.getOrElse(j, 0L).toDouble / nDocs).toLong)
      }
      (0L until NumFeat.toLong).foreach { j =>
        out += ((t.toLong, j, w(j), grads.getOrElse(j, 0L), wNew(j),
          nDocs, nCorrect))
      }
      w = wNew
    }
    out.result().toDF("step", "j", "w_old_milli", "grad_milli",
      "w_new_milli", "n_docs", "n_correct")
  }

  private val qc04Sql = {
    val base =
      s"""toks AS MATERIALIZED (
         |  SELECT doc_id, CAST(substr(source, 4) AS BIGINT) % 2 AS y,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
         |  FROM documents),
         |feats AS MATERIALIZED (
         |  SELECT doc_id, y,
         |    CAST('0x' || substr(md5(lower(t)), 1, 15) AS BIGINT) % $NumFeat AS j,
         |    CAST(count(*) AS BIGINT) AS x
         |  FROM toks GROUP BY 1, 2, 3),
         |w0 AS MATERIALIZED (
         |  SELECT j,
         |    CAST('0x' || substr(md5('w:' || j), 1, 15) AS BIGINT) % 2001 - 1000
         |      AS w_milli
         |  FROM range(0, $NumFeat) t(j))""".stripMargin
    val steps = (1 to TrainSteps).map { t =>
      s"""e$t AS MATERIALIZED (
         |  SELECT doc_id, p - 1000 * y AS e,
         |    CASE WHEN (p >= 500) = (y = 1) THEN 1 ELSE 0 END AS ok
         |  FROM (
         |    SELECT doc_id, y,
         |      least(1000, greatest(0, 500 + CAST(floor(z / 4000.0) AS BIGINT))) AS p
         |    FROM (
         |      SELECT f.doc_id, f.y, CAST(sum(f.x * w.w_milli) AS BIGINT) AS z
         |      FROM feats f JOIN w${t - 1} w ON w.j = f.j GROUP BY 1, 2))),
         |t$t AS MATERIALIZED (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(ok) AS BIGINT) AS n_correct FROM e$t),
         |g$t AS MATERIALIZED (
         |  SELECT f.j, CAST(sum(f.x * e.e) AS BIGINT) AS grad_milli
         |  FROM feats f JOIN e$t e ON e.doc_id = f.doc_id GROUP BY 1),
         |w$t AS MATERIALIZED (
         |  SELECT a.j, a.w_milli - CAST(floor(coalesce(g.grad_milli, 0)
         |      / CAST(t.n_docs AS DOUBLE)) AS BIGINT) AS w_milli
         |  FROM w${t - 1} a LEFT JOIN g$t g ON g.j = a.j CROSS JOIN t$t t)"""
        .stripMargin
    }
    val sel = (1 to TrainSteps).map { t =>
      s"""SELECT CAST($t AS BIGINT) AS step, a.j, a.w_milli AS w_old_milli,
         |  coalesce(g.grad_milli, 0) AS grad_milli, b.w_milli AS w_new_milli,
         |  t.n_docs, t.n_correct
         |FROM w${t - 1} a JOIN w$t b ON b.j = a.j
         |LEFT JOIN g$t g ON g.j = a.j CROSS JOIN t$t t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH ${(base +: steps).mkString(",\n")}\n$sel"
  }

  def queries: Seq[Q] = Seq(
    Q("qc01_kmeans_step", qc01, Some(qc01Sql)),
    Q("qc02_kmeans_iter2", qc02, Some(qc02Sql)),
    Q("qc03_classifier_step", qc03, Some(qc03Sql)),
    Q("qc04_classifier_train", qc04, Some(qc04Sql)),
    Q("qd11_semdedup", (s, d) => semDedupFlags(s, d), Some(qd11Sql)))
}
