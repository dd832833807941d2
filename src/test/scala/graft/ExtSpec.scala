package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.functions.Vectors
import graft.sources.Tables

class DedupSpec extends SparkSpec {

  test("exact dedup: one group per distinct text, counts sum to row count") {
    val out = Registry.byName("qd01_dedup_exact").run(spark, sf)
    val total = Tables.documents(spark, sf).count()
    assert(out.agg(sum("n_copies")).collect()(0).getLong(0) === total)
    assert(out.select("text_hash").distinct().count() === out.count())
  }

  test("minhash estimate tracks exact n-gram jaccard on shared pairs") {
    val est = Registry.byName("qd03_minhash_lsh_pairs").run(spark, sf)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    val exact = Registry.byName("qd04_ngram_jaccard").run(spark, sf)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val joined = est.join(exact, Seq("doc_a", "doc_b")).collect()
    assert(joined.nonEmpty, "LSH found none of the exact near-dup pairs")
    joined.foreach { r =>
      val (e, x) = (r.getAs[Double]("est_jaccard"), r.getAs[Double]("jaccard"))
      assert(math.abs(e - x) < 0.35, s"estimate $e too far from exact $x")
    }
  }

  test("no LSH bucket exceeds the skew cap at test SF (drop metric empty)") {
    assert(Dedup.oversizedLshBuckets(spark, sf).count() === 0)
  }

  test("band schemes: exact capped semantics both widths; wider bands trade candidates for recall") {
    // Planted corpus: 40 base docs of 30 vocab tokens, each with a one-token
    // -changed near-dup twin (ids i and 1000+i), plus 2000 unrelated docs —
    // enough that random 12-bit chunk collisions produce chance candidates
    // the 15-bit scheme should mostly avoid.
    val rnd = new scala.util.Random(42)
    def doc(): Array[String] = Array.fill(30)("w" + rnd.nextInt(5000))
    val bases = Seq.tabulate(40)(i => i.toLong -> doc())
    val twins = bases.map { case (i, toks) =>
      val t = toks.clone(); t(7) = "w" + rnd.nextInt(5000); (1000L + i) -> t
    }
    val noise = Seq.tabulate(2000)(i => (10000L + i).toLong -> doc())
    import spark.implicits._
    val docs = (bases ++ twins ++ noise)
      .map { case (id, toks) => (id, toks.mkString(" ")) }
      .toDF("doc_id", "text")

    var plantedBy = Map.empty[Dedup.BandScheme, Int]
    for (scheme <- Seq(Dedup.GateScheme, Dedup.WideScheme)) {
      // driver-side reference: pairs (a < b) sharing >= 1 exact band chunk
      // with Hamming <= hammingMax (buckets here are far below BucketCap)
      val sh = Dedup.withSimhash(docs, scheme.simBits)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      def chunks(s: Long): Seq[(Int, Long)] = (0 until scheme.bands)
        .map(c => c -> ((s >>> (scheme.width * c)) & ((1L << scheme.width) - 1)))
      val expected = (for {
        ((a, ash), ai) <- sh.zipWithIndex; (b, bsh) <- sh.drop(ai + 1)
        if chunks(ash).intersect(chunks(bsh)).nonEmpty
        if java.lang.Long.bitCount(ash ^ bsh) <= scheme.hammingMax
      } yield (a, b)).toSet
      val got = Dedup.simhashPairs(docs, scheme)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected, s"pair semantics diverged under $scheme")
      plantedBy += scheme -> got.count { case (a, b) => b - a == 1000 && a < 1000 }
    }

    // The measured trade (deterministic on this seeded corpus). Cost side:
    // wider chunks demand an exact match on more bits, so chance-band
    // recall BEYOND the structural Hamming <= bands-1 guarantee drops
    // (wide finds 27 of 40 planted twins here, gate 30+). Benefit side: 8x the
    // keyspace => far fewer chance candidates to Hamming-check — the
    // actual pair work at scale. Floors are loose so near-threshold twins
    // moving a bucket under a Spark upgrade don't flake the build.
    assert(plantedBy(Dedup.GateScheme) >= 30, s"gate recall collapsed: $plantedBy")
    assert(plantedBy(Dedup.WideScheme) >= 22, s"wide recall collapsed: $plantedBy")
    val gateCand = Dedup.simhashCandidatePairs(docs, Dedup.GateScheme)
    val wideCand = Dedup.simhashCandidatePairs(docs, Dedup.WideScheme)
    assert(wideCand < gateCand,
      s"wide bands did not reduce candidate work ($wideCand vs $gateCand)")
  }

  test("near-dup components: endpoints share labels, label is component min") {
    val comp = Registry.byName("qd08_dedup_components").run(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Registry.byName("qd03_minhash_lsh_pairs").run(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(comp(a) === comp(b), s"pair ($a,$b) split across components")
    }
    comp.groupBy(_._2).foreach { case (label, members) =>
      assert(label === members.keys.min, s"component $label label is not its min id")
    }
  }

  test("graph rank: one row per near-dup node, every rank above teleport floor") {
    val rank = Registry.byName("qd09_graph_rank").run(spark, sf)
    val comp = Registry.byName("qd08_dedup_components").run(spark, sf)
    assert(rank.count() === comp.count()) // same node set as the components
    assert(rank.filter(col("rank_fp") < (1L << 20) * 15 / 100).count() === 0)
  }

  test("components converge in O(log d) rounds on a 100-node path graph") {
    import spark.implicits._
    // Worst case for plain min-label propagation: a chain needs O(d) = 99
    // rounds, so maxRounds = 12 passes ONLY because of the pointer-doubling
    // step (log₂ 99 ≈ 6.6; observed ~7 rounds). A regression to plain
    // propagation trips the non-convergence require, not a silent wrong answer.
    val pairs = (0L until 99L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val comp = Dedup.components(pairs, maxRounds = 12).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size === 100)
    assert(comp.values.forall(_ == 0L), "path graph must collapse to min id 0")
  }

  test("identical docs get identical simhash; different docs differ") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val simhashes = docsToSimhash(docs)
    assert(simhashes(1L) === simhashes(2L))
    assert(simhashes(1L) !== simhashes(3L))
  }

  test("native TokenSimHash equals the interpreted HOF formulation") {
    // orderBy before limit: a bare limit takes an arbitrary 200 rows per
    // job, and the two pipelines below execute as independent jobs
    val docs = Tables.documents(spark, sf).orderBy(col("doc_id")).limit(200)
    val native = docs
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"),
        graft.functions.TokenSimHash.simhash(col("toks"), 48).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hof = docsToSimhash(docs)
    assert(native === hof)
  }

  private def docsToSimhash(docs: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    // mirror of Dedup's simhash expression on an arbitrary frame
    val sim = docs
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("toks"))
      .withColumn("tokh", expr(
        "transform(toks, t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))"))
      .withColumn("bitsum", expr(
        """aggregate(tokh, transform(sequence(0, 47), j -> 0L),
          | (acc, h) -> zip_with(acc, transform(sequence(0, 47),
          |   j -> CASE WHEN (h div cast(pow(2, j) as bigint)) % 2 = 1 THEN 1L ELSE -1L END),
          |   (a, b) -> a + b))""".stripMargin.replace("\n", " ")))
      .select(col("doc_id"), expr(
        """aggregate(transform(sequence(0, 47),
          | j -> CASE WHEN element_at(bitsum, j + 1) > 0 THEN cast(pow(2, j) as bigint) ELSE 0L END),
          | 0L, (a, b) -> a + b)""".stripMargin.replace("\n", " ")).as("simhash"))
    sim.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("qd05b band schemes: planted twins recovered, wide scheme cuts candidate work") {
    import spark.implicits._
    // deterministic corpus: 500 unit-ish gaussians + 40 twins at cos ≈ 0.96
    // (noise sized so the width-4 vs width-10 recall trade is visible)
    val rnd = new scala.util.Random(7)
    val base = Array.fill(500)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val twins = (0 until 40).map { i =>
      (10000L + i, base(i).map(v => v + 0.3f * rnd.nextGaussian().toFloat))
    }
    val corpus = (base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++ twins)
      .toSeq.toDF("vec_id", "embedding")
    def recovered(sc: Dedup.EmbScheme): Int =
      Dedup.embLshPairs(corpus, sc)
        .select("id_a", "id_b").collect()
        .count(r => r.getLong(1) - r.getLong(0) == 10000L && r.getLong(0) < 10000L)
    // loose floors (random-hyperplane collision bound at cos 0.96:
    // gate ≈ 0.96 of twins, wide ≈ 0.76) so seed drift can't flake the build
    val gateGot = recovered(Dedup.EmbGateScheme)
    val wideGot = recovered(Dedup.EmbWideScheme)
    assert(gateGot >= 32, s"gate recall collapsed: $gateGot of 40")
    assert(wideGot >= 20, s"wide recall collapsed: $wideGot of 40")
    // benefit side: 64× the per-band keyspace ⇒ far fewer chance candidates
    def candidatePairs(sc: Dedup.EmbScheme): Long =
      Dedup.embLshBuckets(corpus, sc)
        .select(expr("aggregate(transform(ids, _ -> 1L), 0L, (a, b) -> a + b)").as("n"))
        .filter(col("n").between(2, Dedup.BucketCap))
        .select(sum(expr("n * (n - 1) div 2"))).collect()(0).getLong(0)
    assert(candidatePairs(Dedup.EmbWideScheme) < candidatePairs(Dedup.EmbGateScheme),
      "wide bands did not reduce candidate pair work")
  }

  test("qd05b LSH pairs are a subset of qd05's exact pairs with identical cosines") {
    // banded hyperplane LSH only restricts the CANDIDATE set; the final
    // exact-cosine filter is qd05's — so every emitted pair must appear in
    // the all-pairs baseline with the same cos_sim, and recall loses only
    // pairs no band agrees on.
    val lsh = Registry.byName("qd05b_embedding_lsh_dup").run(spark, sf)
    val exact = Registry.byName("qd05_embedding_dup").run(spark, sf)
    assert(lsh.exceptAll(exact).count() === 0,
      "qd05b emitted a pair (or cosine) the exact baseline does not contain")
    val nLsh = lsh.count()
    assert(nLsh > 0, "qd05b found no pairs at test SF")
    // sanity on the collision bound: 3 bands x 4 bits should recover a
    // nontrivial fraction of the exact pairs on this corpus
    assert(nLsh * 4 >= exact.count(), s"recall collapsed: $nLsh pairs")
  }
}

class SimilaritySpec extends SparkSpec {

  test("brute-force knn: 5 neighbors per query, descending similarity") {
    val out = Registry.byName("qs01_knn_brute").run(spark, sf).collect()
    val byQ = out.groupBy(_.getAs[Long]("q_id"))
    byQ.foreach { case (_, rows) =>
      assert(rows.length === 5)
      val sims = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos_sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("cosine of a vector with itself is 1") {
    val one = Tables.embeddings(spark, sf).limit(1)
      .select(Vectors.cosine(col("embedding"), col("embedding")).as("c"))
      .collect()(0).getDouble(0)
    assert(math.abs(one - 1.0) < 1e-12)
  }

  test("LSH ANN neighbors share the query's bucket and are a subset of corpus") {
    val out = Registry.byName("qs02_ann_lsh").run(spark, sf)
    assert(out.filter(col("n_id") < 10).count() === 0)
    assert(out.groupBy("q_id").count().filter(col("count") > 3).count() === 0)
  }

  test("qs04 rerank: 5 rows per query, cosines bit-equal to qs01 on shared pairs") {
    val out = Registry.byName("qs04_quantized_rerank").run(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")) ->
        r.getAs[Double]("cos_sim")).toMap
    val exact = Registry.byName("qs01_knn_brute").run(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")) ->
        r.getAs[Double]("cos_sim")).toMap
    assert(out.size === exact.size) // 5 per query both
    // the rerank scores exact cosine, so any pair both stages surface must
    // carry the IDENTICAL double (same fold, bit-equal — not approximately)
    val shared = out.keySet intersect exact.keySet
    shared.foreach(k => assert(out(k) === exact(k), s"cosine drift at $k"))
    // recall@5 of the two-stage path vs the exact baseline: C=20 candidates
    // cover the true top-5 on this corpus near-perfectly; floor at 0.8 so
    // the test pins quality without pinning the corpus
    assert(shared.size.toDouble / exact.size >= 0.8,
      s"two-stage recall@5 too low: ${shared.size}/${exact.size}")
  }

  test("qs05 composed stack: recall@5 >= 0.8 on the planted-cluster corpus, exact cosines") {
    // Random embeddings have no cluster structure, so IVF misses are the
    // corpus's fault, not the operator's (measured 0.38 recall at test
    // SF). The accuracy contract runs on the same planted 16-cluster
    // corpus the IVF/LSH recall gates use — where a correct composed
    // stack must find the in-cluster neighbors.
    import spark.implicits._
    def lcg(i: Long): Double = (((1103515245L * i + 12345L) % 65536L + 65536L) % 65536L) / 65536.0 - 0.5
    val rows = (0L until 500L).map { id =>
      val cl = (id % 16).toInt
      (id, Array.tabulate(64) { j =>
        (4.0 * lcg(cl * 64 + j) + 0.05 * lcg(100000L + id * 64 + j)).toFloat
      })
    }
    val dir = "/tmp/graft-qs05-recall"
    rows.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val out = Registry.byName("qs05_ivf_quant_rerank").run(spark, dir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")) ->
        r.getAs[Double]("cos_sim")).toMap
    // exact top-5 baseline over the same corpus/queries
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("n_id").asc)
    val exact = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("n_id"),
        graft.functions.Vectors.fastCosine(col("q_emb"), col("n_emb")).as("cos_sim"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // rerank is exact cosine — shared pairs carry the identical double
    val shared = out.keySet intersect exact.keySet
    shared.foreach(k => assert(out(k) === exact(k), s"cosine drift at $k"))
    assert(shared.size.toDouble / exact.size >= 0.8,
      s"composed recall@5 too low on planted clusters: ${shared.size}/${exact.size}")
  }

  test("IVF centroid sample is exactly K rows regardless of corpus size") {
    val cents = Similarity.ivfCentroids(spark, sf)
    assert(cents.count() === Similarity.IvfK)
    assert(cents.select("c_id").distinct().count() === Similarity.IvfK)
  }

  test("semdedup drops are a subset of the exact all-pairs drops (qd11 vs qd05)") {
    // SemDeDup is qd05's exact rule restricted to within-cluster pairs:
    // every doc it drops must therefore be droppable under the exact
    // all-pairs pass (the converse is the documented recall trade), and
    // every vector gets exactly one (vec_id, c_id, is_dup) row.
    val sem = Registry.byName("qd11_semdedup").run(spark, sf)
    val n = Tables.embeddings(spark, sf).count()
    assert(sem.count() === n)
    assert(sem.select("vec_id").distinct().count() === n)
    val semDropped = sem.filter(col("is_dup") === 1).select(col("vec_id"))
    val exactDroppable = Registry.byName("qd05_embedding_dup").run(spark, sf)
      .select(col("id_b").as("vec_id")).distinct()
    assert(semDropped.exceptAll(semDropped.join(exactDroppable, Seq("vec_id")))
      .count() === 0, "qd11 dropped a vector qd05's exact pass would keep")
    // the within-cluster pair join must be a shuffle join, not a broadcast
    // of a corpus-sized side (the only broadcast is the K-centroid set)
    val plan = sem.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), "pair join not merge-pinned")
  }

  test("IVF multi-probe recall >= single-probe recall") {
    val exact = Registry.byName("qs01_knn_brute").run(spark, sf)
      .filter(col("rank") <= 3).select("q_id", "n_id")
    def recall(nprobe: Int): Long =
      Similarity.ivfAnn(spark, sf, nprobe = nprobe)
        .select("q_id", "n_id").join(exact, Seq("q_id", "n_id")).count()
    assert(recall(4) >= recall(1))
  }

  // The accuracy contract for the approximate path: recall@3 against the
  // exact top-3. Two corpora, because they test different things:
  //
  //  - A planted-cluster corpus (written below): vectors concentrate around
  //    well-separated centers, so a correct IVF recovers ≥ 90% of true
  //    neighbors at nprobe = 4 — a regression in the centroid sample or the
  //    cell assignment drops this hard. This is the recall gate.
  //  - The driver corpus: measured but NOT gated at 0.9, with the grid
  //    asserted monotone and above the fraction-scanned baseline. That
  //    corpus is isotropic noise (max pairwise cosine ≈ 0.49, mean ≈ 0),
  //    so "nearest neighbors" are chance alignments with no cluster
  //    structure any partition-based index (IVF, LSH, HNSW alike) could
  //    exploit: achievable recall ≈ fraction of corpus scanned, an
  //    information-theoretic property of the data, not an index defect.
  private def recallGrid(dir: String, ks: Seq[Int], nprobes: Seq[Int])
      : Map[(Int, Int), Double] = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("n_id").asc)
    val exact = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("n_id"),
        Vectors.fastCosine(col("q_emb"), col("n_emb")).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3).select("q_id", "n_id").cache()
    val denom = exact.count().toDouble
    assert(denom > 0)
    val grid = (for (k <- ks; np <- nprobes) yield {
      val hits = Similarity.ivfAnn(spark, dir, nprobe = np, topK = 3, k = k)
        .select("q_id", "n_id").join(exact, Seq("q_id", "n_id")).count()
      ((k, np), hits / denom)
    }).toMap
    exact.unpersist()
    grid
  }

  test("IVF recall@3 >= 0.9 at nprobe=4 on a planted-cluster corpus") {
    import spark.implicits._
    // 500 vectors in 16 well-separated clusters (deterministic LCG centers,
    // small perturbation), same (vec_id, embedding float array) schema as
    // the driver table. Cluster separation >> perturbation, so a query's
    // true neighbors share its cluster and a correct IVF lands them in the
    // probed cells.
    def lcg(i: Long): Double = (((1103515245L * i + 12345L) % 65536L + 65536L) % 65536L) / 65536.0 - 0.5
    val dim = 64
    val rows = (0L until 500L).map { id =>
      val cl = (id % 16).toInt
      val emb = Array.tabulate(dim) { j =>
        (4.0 * lcg(cl * dim + j) + 0.05 * lcg(100000L + id * dim + j)).toFloat
      }
      (id, emb)
    }
    val dir = "/tmp/graft-ivf-recall"
    rows.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val grid = recallGrid(dir, Seq(16), Seq(1, 2, 4))
    assert(grid((16, 1)) <= grid((16, 2)) + 1e-9)
    assert(grid((16, 2)) <= grid((16, 4)) + 1e-9)
    assert(grid((16, 4)) >= 0.9,
      s"recall@3 at K=16, nprobe=4 is ${grid((16, 4))} < 0.9 (grid: $grid)")
  }

  test("LSH ANN recall@3 >= 0.9 at nprobe=4 on the planted-cluster corpus") {
    // Same planted corpus as the IVF gate (written by the test above —
    // regenerate here so test order doesn't matter). Cluster members are
    // near-identical vectors, so they fall in the same hyperplane sign
    // bucket; multi-probe covers the boundary cases.
    import spark.implicits._
    def lcg(i: Long): Double = (((1103515245L * i + 12345L) % 65536L + 65536L) % 65536L) / 65536.0 - 0.5
    val rows = (0L until 500L).map { id =>
      val cl = (id % 16).toInt
      (id, Array.tabulate(64) { j =>
        (4.0 * lcg(cl * 64 + j) + 0.05 * lcg(100000L + id * 64 + j)).toFloat
      })
    }
    val dir = "/tmp/graft-lsh-recall"
    rows.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("n_id").asc)
    val exact = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("n_id"),
        Vectors.fastCosine(col("q_emb"), col("n_emb")).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3).select("q_id", "n_id")
    val denom = exact.count().toDouble
    val hits = Similarity.lshAnn(spark, dir, numPlanes = 4, nprobe = 4, topK = 3)
      .select("q_id", "n_id").join(exact, Seq("q_id", "n_id")).count()
    assert(hits / denom >= 0.9, s"LSH recall@3 ${hits / denom} < 0.9")
  }

  test("IVF recall grid on the driver corpus: monotone, beats fraction-scanned") {
    val grid = recallGrid(sf, Seq(16, 64), Seq(1, 2, 4))
    for (k <- Seq(16, 64)) {
      assert(grid((k, 1)) <= grid((k, 2)) + 1e-9)
      assert(grid((k, 2)) <= grid((k, 4)) + 1e-9)
      // nprobe=4 scans ~4/k of an (isotropic) corpus; the index must beat
      // that baseline — i.e. carry SOME signal — even on noise data.
      assert(grid((k, 4)) > 4.0 / k,
        s"recall ${grid((k, 4))} at K=$k does not beat the ${4.0 / k} scan baseline")
    }
  }

  test("kmeans step: every vector assigned once, at most K non-empty cells") {
    val out = Registry.byName("qc01_kmeans_step").run(spark, sf)
    val total = Tables.embeddings(spark, sf).count()
    assert(out.agg(sum("n_members")).collect()(0).getLong(0) === total)
    assert(out.count() <= graft.ext.Similarity.IvfK)
    assert(out.filter(col("centroid_norm") <= 0).count() === 0)
  }

  test("kmeans iter2: full reassignment, mean cosine distance in [0, 2]") {
    val out = Registry.byName("qc02_kmeans_iter2").run(spark, sf)
    val total = Tables.embeddings(spark, sf).count()
    assert(out.agg(sum("n_members")).collect()(0).getLong(0) === total)
    assert(out.filter(col("avg_cos_dist") < 0 || col("avg_cos_dist") > 2).count() === 0)
  }

  test("classifier step is bit-identical at different parallelism (fixed-point design)") {
    // THE point of qc03's fixed-point formulation: a distributed gradient
    // must not depend on partitioning or reduction order. Run the step
    // under 1-partition and 32-partition shuffles and require exact
    // equality — a float-sum formulation fails this in the last ulp.
    def runAt(parts: String): Map[Long, (Long, Long, Long)] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try Registry.byName("qc03_classifier_step").run(spark, sf)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val p1 = runAt("1")
    val p32 = runAt("32")
    assert(p1.size === 64)
    assert(p1 === p32, "gradient step must be parallelism-invariant")
    // and the step is a real descent direction: some weight moved
    assert(p1.exists { case (_, (old, _, nw)) => old != nw })
  }

  test("training loop step 1 equals the single qc03 step exactly") {
    val loop = Registry.byName("qc04_classifier_train").run(spark, sf)
      .filter(col("step") === 1)
      .select("j", "w_old_milli", "grad_milli", "w_new_milli").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val single = Registry.byName("qc03_classifier_step").run(spark, sf)
      .select("j", "w_old_milli", "grad_milli", "w_new_milli").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(loop === single)
    // weights actually evolve across steps (the loop is not a no-op)
    val w3 = Registry.byName("qc04_classifier_train").run(spark, sf)
      .filter(col("step") === 3).select("j", "w_new_milli").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w3.exists { case (j, w) => w != single(j)._1 })
  }

  test("PQ: sampled codebook vectors reconstruct with exactly zero error") {
    // each sampled vector's own subspace slices ARE codebook entries, so
    // its four minimum distances are exactly 0.0 — a bit-level invariant
    // of the encode path (any slice/literal-rendering drift breaks it)
    val sampleIds = graft.ext.Similarity.ivfCentroids(spark, sf, 16)
      .collect().map(_.getLong(0)).toSet
    val out = Registry.byName("qe03_product_quantize").run(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2))))
    assert(out.length === Tables.embeddings(spark, sf).count())
    out.foreach { case (id, (codes, err)) =>
      val cs = codes.split(',').map(_.toInt)
      assert(cs.length === 4 && cs.forall(c => c >= 1 && c <= 16),
        s"vec $id codes out of range: $codes")
      assert(err >= 0.0, s"vec $id negative sq_err $err")
      if (sampleIds(id)) assert(err === 0.0,
        s"sampled vec $id must reconstruct exactly, got sq_err $err")
    }
  }

  test("PQ training: distortion is monotone along the full Lloyd trajectory") {
    // per step: assignment fixed → the fixed-point mean minimizes
    // per-cell SSE (to 2^-24 rounding noise); re-assignment only
    // improves further. So Σ sq_err is non-increasing at EVERY iteration
    // 0..PqIters — Lloyd monotonicity for the whole trained trajectory,
    // not just the first step (r11 gated one step; qe04 now trains
    // PqIters). The gated qe04 output must equal the iters = PqIters
    // rung exactly.
    import graft.ext.Embeddings
    def distortion(cbs: IndexedSeq[IndexedSeq[Array[Double]]]): Double =
      Embeddings.pqEncodedWith(Tables.embeddings(spark, sf),
          cbs.map(Embeddings.cbLitD))
        .select((0 until Embeddings.SubVecs).map(j => col(s"s$j.err"))
          .reduce(_ + _).as("e"))
        .agg(sum(col("e"))).collect()(0).getDouble(0)
    val sample = Embeddings.pqSample(spark, sf)
    val traj = (1 to Embeddings.PqIters).scanLeft(
        Embeddings.initCbs(sample)) { (cbs, _) =>
        Embeddings.pqRefineStep(spark, sf, cbs)
      }.map(distortion)
    traj.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-6, s"Lloyd iteration increased distortion: $traj")
    }
    // and it genuinely moved: training on a non-degenerate corpus must
    // improve, not merely not-worsen
    assert(traj.last < traj.head, s"training was a no-op: $traj")
    val gated = Registry.byName("qe04_pq_train").run(spark, sf)
      .agg(sum(col("sq_err"))).collect()(0).getDouble(0)
    assert(math.abs(gated - traj.last) < 1e-9,
      s"gated qe04 distortion ${gated} != trajectory end ${traj.last}")
  }

  test("PQ-ADC search recalls a usable share of the exact L2 top-5") {
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i); s += d * d; i += 1
      }
      s
    }
    val embs = Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val exact = embs.keys.filter(_ < 10).map { q =>
      q -> embs.keys.filter(_ >= 10).toSeq
        .sortBy(n => (l2(embs(q), embs(n)), n)).take(5).toSet
    }.toMap
    val adc = Registry.byName("qs07_pq_adc_search").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // structural: exactly 5 per query, ranks dense, distances nondecreasing
    adc.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.length === 5)
      val byRank = rows.sortBy(_._4)
      assert(byRank.map(_._4).toSeq === (1 to 5))
      assert(byRank.map(_._3).toSeq === byRank.map(_._3).sorted.toSeq)
    }
    // recall: with SAMPLED (untrained) 4-bit codebooks on a near-uniform
    // synthetic corpus, absolute top-5 recall is legitimately modest — the
    // meaningful floor is the RANDOM baseline: E[random hits] =
    // |adc| · 5 / |corpus|. Require ≥ 4× that (measured: ~6× at sf0.001;
    // 12% mean-ADC separation between true top-5 and the rest). A Lloyd
    // refinement of the codebooks (qc01's machinery per subspace) is the
    // production training step that raises this.
    val corpusN = embs.keys.count(_ >= 10)
    val hits = adc.count { case (q, n, _, _) => exact(q)(n) }
    val randomHits = adc.length.toDouble * 5 / corpusN
    assert(hits >= 4 * randomHits,
      s"ADC recall too low: $hits hits vs random baseline $randomHits")
  }

  test("residual identity: L2(q, x) equals L2(q - c, x - c) for any cell") {
    // the IVFADC foundation (qe05/qs09): subtracting the SAME centroid
    // from query and corpus vector leaves every pairwise difference —
    // and hence the exact L2 — unchanged; residual-ADC therefore
    // estimates the same distance as raw ADC, with quantization error
    // taken around the cell origin. Checked in exact arithmetic on real
    // corpus vectors (no codes involved: the identity is exact only
    // before quantization).
    val embs = Tables.embeddings(spark, sf).limit(30).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val c = embs(3)._2.map(_.toDouble)
    for (pair <- embs.take(10).sliding(2)) {
      val qd = pair(0)._2.map(_.toDouble); val xd = pair(1)._2.map(_.toDouble)
      val raw = l2(qd, xd)
      val res = l2(qd.zip(c).map(p => p._1 - p._2), xd.zip(c).map(p => p._1 - p._2))
      assert(raw === res, s"identity broken: $raw vs $res")
    }
  }

  test("qs09 residual search: 5 ranked rows per query from probed cells only") {
    val out = Registry.byName("qs09_ivfadc_residual").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    out.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.length === 5, s"query $q: ${rows.length} rows")
      val byRank = rows.sortBy(_._4)
      assert(byRank.map(_._4).toSeq === (1 to 5))
      assert(byRank.map(_._3).toSeq === byRank.map(_._3).sorted.toSeq)
      rows.foreach { case (_, n, d, _) =>
        assert(n >= 10, s"corpus id expected, got query id $n")
        assert(d >= 0.0, s"negative ADC distance $d")
      }
    }
  }

  test("residual PQ spends its code budget better than raw PQ on clustered data") {
    import spark.implicits._
    // plant 4 tight clusters far apart: the coarse quantizer absorbs the
    // cluster offsets, so residual codebooks only need to cover the
    // within-cluster spread — per-vector sq_err must drop vs raw PQ
    // (the Jégou et al. motivation, asserted on data where it must hold;
    // on isotropic noise the two are legitimately comparable)
    val rnd = new scala.util.Random(7)
    val centers = Array.tabulate(4)(c => Array.tabulate(64)(i =>
      if (i % 4 == c) 10.0f else 0.0f))
    val vecs = (0L until 120L).map { id =>
      val c = centers((id % 4).toInt).clone()
      // within-cluster spread on ONE dim per subspace: the residual
      // codebook gets 16 entries to cover one 1-d segment where raw PQ
      // has ~4 same-cluster samples per subspace — a provable gap
      val t = (rnd.nextFloat() - 0.5f) * 2f
      (0 until 4).foreach(j => c(j * 16) = c(j * 16) + t)
      id -> c
    }
    val df = vecs.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-respq-").toString
    df.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val raw = Registry.byName("qe03_product_quantize").run(spark, dir)
      .agg(sum(col("sq_err"))).collect()(0).getDouble(0)
    val res = Registry.byName("qe05_pq_residual").run(spark, dir)
      .agg(sum(col("sq_err"))).collect()(0).getDouble(0)
    assert(res < raw / 2,
      s"residual PQ should at least halve distortion on clustered data: raw $raw res $res")
    // and the serving path rides the structure: qs09's neighbors come
    // from the query's own cluster (cells align with clusters, residual
    // ADC ranks within them; ANN_PROBE_r12.json records the no-structure
    // floor on the isotropic driver corpus — here recall must be high)
    val out = Registry.byName("qs09_ivfadc_residual").run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.nonEmpty)
    val sameCluster = out.count { case (q, n) => q % 4 == n % 4 }
    assert(sameCluster >= out.length * 9 / 10,
      s"qs09 should retrieve from the query's cluster: $sameCluster/${out.length}")
  }

  test("MMR rerank matches an independent JVM greedy walk over the candidates") {
    // recompute the whole greedy trajectory single-threaded from the raw
    // vectors and require exact equality — selection order, ids, scores
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val embs = Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val expected = embs.keys.filter(_ < 10).toSeq.sorted.flatMap { q =>
      val cands = embs.keys.filter(_ >= 10).toSeq
        .map(n => (n, cos(embs(q), embs(n))))
        .sortBy { case (n, s) => (-s, n) }.take(8)
      var selected = List.empty[(Long, Double)]
      var remaining = cands
      (1 to 3).map { t =>
        val scored = remaining.map { case (n, s) =>
          val red = if (selected.isEmpty) 0.0
            else selected.map { case (sid, _) => cos(embs(n), embs(sid)) }.max
          // (1 - 0.7) deliberately COMPUTED, not the literal 0.3: the
          // operator uses `1 - MmrLambda` (= 0.30000000000000004) and the
          // gate is exact-FP — the literal would differ in the last ulp
          val mmr = if (selected.isEmpty) s * 0.7 else s * 0.7 - red * (1 - 0.7)
          (n, mmr)
        }
        val (bestN, bestM) = scored.minBy { case (n, m) => (-m, n) }
        selected = selected :+ ((bestN, bestM))
        remaining = remaining.filterNot(_._1 == bestN)
        (q, t.toLong, bestN, bestM)
      }
    }.toSet
    val got = Registry.byName("qs06_mmr_rerank").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === expected)
  }

  test("LSH at 8 planes: multi-probe recall >= single-probe recall") {
    val exact = Registry.byName("qs01_knn_brute").run(spark, sf)
      .filter(col("rank") <= 3).select("q_id", "n_id")
    def recall(nprobe: Int): Long =
      Similarity.lshAnn(spark, sf, numPlanes = 8, nprobe = nprobe)
        .select("q_id", "n_id").join(exact, Seq("q_id", "n_id")).count()
    val r1 = recall(1)
    val r4 = recall(4)
    assert(r4 >= r1, s"nprobe=4 recall $r4 < nprobe=1 recall $r1")
    // finer bucketing still returns at most topK rows per query
    val out = Similarity.lshAnn(spark, sf, numPlanes = 8, nprobe = 4)
    assert(out.groupBy("q_id").count().filter(col("count") > 3).count() === 0)
  }

  test("qs10 RRF: 10 per query, score internally consistent, lists overlap") {
    val out = Registry.byName("qs10_hybrid_rrf").run(spark, sf).collect()
    val byQ = out.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size === 10)
    byQ.foreach { case (q, rows) =>
      assert(rows.length === 10, s"query $q")
      val byRank = rows.sortBy(_.getAs[Int]("rank"))
      assert(byRank.map(_.getAs[Int]("rank")).toSeq === (1 to 10))
      val rrfs = byRank.map(_.getAs[Double]("rrf"))
      assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b },
        s"query $q rrf not monotone")
      // the reported rrf IS the recomputed two-term sum (nulls → 0)
      byRank.foreach { r =>
        val rd = Option(r.getAs[Integer]("rank_dense")).map(_.toInt)
        val rc = Option(r.getAs[Integer]("rank_coarse")).map(_.toInt)
        val want = rd.map(x => 1.0 / (x + 60)).getOrElse(0.0) +
          rc.map(x => 1.0 / (x + 60)).getOrElse(0.0)
        assert(r.getAs[Double]("rrf") === want)
        assert(rd.nonEmpty || rc.nonEmpty)
      }
    }
    // fusion is genuinely two-system: some fused result appears in BOTH
    // top-20 lists (the int8 ranking approximates the cosine ranking, so
    // head overlap is structural, not luck)
    assert(out.exists(r => r.getAs[Integer]("rank_dense") != null &&
      r.getAs[Integer]("rank_coarse") != null))
  }

  test("qs11 filtered ANN: every hit shares the query's label; pre-filter beats post-filter") {
    val e = Tables.embeddings(spark, sf)
    val labels = e.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val pre = Registry.byName("qs11_filtered_ann").run(spark, sf).collect()
    assert(pre.nonEmpty)
    pre.foreach { r =>
      assert(r.getAs[Int]("label") === labels(r.getAs[Long]("q_id")),
        s"query ${r.getAs[Long]("q_id")} got a wrong-label neighbor")
      assert(r.getAs[Int]("rank") <= 3)
    }
    // post-filtering the UNFILTERED top-3 loses recall when the filter is
    // selective (1-in-10 labels here): the pre-filtered composite probe
    // must return at least as many in-label hits, and on isotropic data
    // strictly more
    val post = Similarity.lshAnn(spark, sf).collect().count { r =>
      // unfiltered top-3, then keep only same-label results
      val nLabel = e.filter(col("vec_id") === r.getAs[Long]("n_id"))
        .select(col("label")).collect()(0).getInt(0)
      nLabel == labels(r.getAs[Long]("q_id"))
    }
    assert(pre.length >= post,
      s"pre-filter returned ${pre.length} < post-filter $post")
  }
}

class TextSpec extends SparkSpec {

  test("winnowing: the density guarantee holds — no gap exceeds the window") {
    import graft.ext.TextAnalysis
    // the published winnowing guarantee: every full window of W
    // consecutive gram positions contains a selected fingerprint, so
    // the gap between consecutive selected positions is at most W (and
    // the first/last selections sit within W of the ends)
    val docs = Tables.documents(spark, sf).limit(60)
    val fps = TextAnalysis.winnowedFingerprints(docs).collect()
      .groupBy(_.getLong(0))
      .map { case (d, rows) => d -> rows.map(_.getInt(1).toLong).sorted }
    val nGrams = docs.select(col("doc_id"),
        expr("cast(size(split(trim(text), '\\\\s+')) - 4 as bigint)").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps.nonEmpty)
    fps.foreach { case (d, ps) =>
      assert(ps.head <= 3, s"doc $d first fingerprint at ${ps.head}")
      ps.sliding(2).filter(_.length == 2).foreach { p =>
        assert(p(1) - p(0) <= 4, s"doc $d gap ${p(0)} -> ${p(1)}")
      }
      assert(nGrams(d) - 1 - ps.last <= 3, s"doc $d tail gap after ${ps.last}")
    }
  }

  test("winnowing: a shared substring of >= k+w-1 tokens shares a fingerprint") {
    import spark.implicits._
    import graft.ext.TextAnalysis
    // plant an 8-token run (= WinnowK 5 + WinnowW 4 - 1) inside two
    // otherwise-disjoint documents: the guarantee says at least one
    // selected (hash, -) fingerprint is common; a third unrelated doc
    // shares none
    val shared = (1 to 8).map(i => s"sh$i").mkString(" ")
    val docs = Seq(
      (1L, (1 to 20).map(i => s"a$i").mkString(" ") + " " + shared),
      (2L, shared + " " + (1 to 20).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 30).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val byDoc = TextAnalysis.winnowedFingerprints(docs).collect()
      .groupBy(_.getLong(0))
      .map { case (d, rows) => d -> rows.map(_.getLong(2)).toSet }
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "planted shared run not detected")
    assert((byDoc(1L) & byDoc(3L)).isEmpty)
    assert((byDoc(2L) & byDoc(3L)).isEmpty)
  }

  test("qt22 fingerprint contamination: planted shared run flags, clean doc passes") {
    import spark.implicits._
    import graft.ext.TextAnalysis
    // seen docs: 1, 2 (id % 5 != 0); incoming: 5 (carries doc 1's
    // 8-token run → the winnowing guarantee REQUIRES a shared
    // fingerprint → flagged), 10 (disjoint tokens → clean)
    val run = (1 to 8).map(i => s"sh$i").mkString(" ")
    val docs = Seq(
      (1L, (1 to 15).map(i => s"a$i").mkString(" ") + " " + run),
      (2L, (1 to 25).map(i => s"b$i").mkString(" ")),
      (5L, run + " " + (1 to 15).map(i => s"x$i").mkString(" ")),
      (10L, (1 to 25).map(i => s"y$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = TextAnalysis.fingerprintContamination(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(4)))).toMap
    assert(out.keySet === Set(5L, 10L)) // incoming side only
    assert(out(5L)._2 && out(5L)._1 > 0, s"planted run not flagged: $out")
    assert(!out(10L)._2 && out(10L)._1 === 0L, s"clean doc flagged: $out")
  }

  test("qd19 containment: a doc embedded whole in a larger doc is flagged asymmetrically") {
    import spark.implicits._
    import graft.ext.TextAnalysis
    // doc 2 = doc 1's entire text inside 60 tokens of filler: symmetric
    // overlap is low (~1/4 of doc 2's grams) but every one of doc 1's
    // fingerprints occurs in doc 2 → containment 1.0, contained side 1.
    // doc 3 is unrelated — no pair at all.
    val small = (1 to 20).map(i => s"core$i").mkString(" ")
    val docs = Seq(
      (1L, small),
      (2L, (1 to 30).map(i => s"pre$i").mkString(" ") + " " + small + " " +
        (1 to 30).map(i => s"post$i").mkString(" ")),
      (3L, (1 to 40).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    // drive the gate's own pipeline on the planted frame via the
    // package-private fps + the same pair math the query states
    val fps = TextAnalysis.winnowedFingerprints(docs)
      .select(col("doc_id"), col("h")).distinct().collect()
      .groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
    val sharedAB = (fps(1L) & fps(2L)).size.toDouble
    assert(sharedAB / fps(1L).size === 1.0,
      s"every small-doc fingerprint must recur: ${sharedAB}/${fps(1L).size}")
    assert(sharedAB / fps(2L).size < 0.5,
      "symmetric overlap should be low — that asymmetry is the point")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty)
  }

  test("qd19 size filter: both-eligible, mixed, and pruned pair classes match a Scala mini-oracle") {
    import spark.implicits._
    import graft.ext.{Dedup, TextAnalysis}
    // Three pair classes the size filter must treat exactly (VERDICT r14
    // #4): (1) MIXED — small doc contained whole in a big doc (only the
    // small side clears kc >= 0.8*nf); (2) BOTH-ELIGIBLE — near-identical
    // twins, the class where the orientation-symmetric pair join yields
    // two rows and the max() rollup must NOT double shared; (3) PRUNED —
    // two docs sharing a short run inside mostly-unique text (neither
    // side eligible; pre-filter they'd reach the containment filter and
    // fail, post-filter they never enter the pair shuffle).
    val small = (1 to 20).map(i => s"core$i").mkString(" ")
    val twin = (1 to 120).map(i => s"tw$i").mkString(" ")
    val run = (1 to 10).map(i => s"sh$i").mkString(" ")
    val docs = Seq(
      (1L, small),
      (2L, (1 to 30).map(i => s"pre$i").mkString(" ") + " " + small + " " +
        (1 to 30).map(i => s"post$i").mkString(" ")),
      (3L, twin + " enda"),
      (4L, twin + " endb"),
      (5L, (1 to 40).map(i => s"u$i").mkString(" ") + " " + run),
      (6L, run + " " + (1 to 40).map(i => s"v$i").mkString(" "))
    ).toDF("doc_id", "text")
    val dir = "/tmp/graft-qd19-sizefilter"
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // Scala mini-oracle: the qd19Sql definition verbatim over the fps sets
    val fps = TextAnalysis.winnowedFingerprints(docs)
      .select(col("doc_id"), col("h")).distinct().collect()
      .groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
    val docFreq = fps.values.flatten.groupBy(identity).map { case (h, o) => h -> o.size }
    val keptH = docFreq.filter { case (_, n) => n >= 2 && n <= Dedup.BucketCap }.keySet
    val ids = fps.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      shared = (fps(a) & fps(b) & keptH).size.toLong if shared > 0
      cont = shared.toDouble / math.min(fps(a).size, fps(b).size)
      if cont >= 0.8
    } yield (a, b, shared, cont,
      if (fps(a).size <= fps(b).size) a else b)).toSet

    // the planted classes actually occur — guard the test's own relevance
    def elig(d: Long) = (fps(d) & keptH).size.toDouble / fps(d).size >= 0.8
    assert(elig(1L) && !elig(2L), "pair (1,2) must be the MIXED class")
    assert(elig(3L) && elig(4L), "pair (3,4) must be the BOTH-ELIGIBLE class")
    assert(!elig(5L) && !elig(6L) && (fps(5L) & fps(6L) & keptH).nonEmpty,
      "pair (5,6) must share kept fingerprints with neither side eligible")
    assert(expected.exists(p => p._1 === 1L && p._2 === 2L), "mixed pair must qualify")
    assert(expected.exists(p => p._1 === 3L && p._2 === 4L), "twin pair must qualify")
    assert(!expected.exists(p => p._1 === 5L && p._2 === 6L))

    val got = Registry.byName("qd19_containment_dup").run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4))).toSet
    assert(got === expected, s"qd19 rows diverge from the mini-oracle:\n$got\nvs\n$expected")

    // the unpruned pair stage (auto's choice below the threshold) is
    // row-identical — the filter only prunes pairs that fail the gate
    val off = graft.ext.TextAnalysis.qd19Impl(spark, dir, sizeFilter = Some(false)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4))).toSet
    assert(off === expected, "sizeFilter=false control diverges")
    // the forced-ON side too: below the auto threshold the registry run
    // above took the unpruned stage, so pin the pruned stage explicitly
    val on = graft.ext.TextAnalysis.qd19Impl(spark, dir, sizeFilter = Some(true)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4))).toSet
    assert(on === expected, "sizeFilter=true forced mode diverges")
  }

  test("qt20 bigram model: both the hit and backoff paths are exercised") {
    val out = Registry.byName("qt20_bigram_logprob").run(spark, sf).collect()
    assert(out.nonEmpty)
    // capped at BigramCap=64 against a larger bigram inventory: some
    // positions hit the table, some back off — if either count is zero
    // the cap or the join broke silently
    val totalBi = out.map(_.getLong(1)).sum
    val totalBk = out.map(_.getLong(2)).sum
    assert(totalBk > 0, "no position ever backed off — cap not binding")
    assert(totalBk < totalBi, "every position backed off — bigram join broken")
    // a doc's mean NLL is positive and finite (probabilities < 1)
    out.foreach { r =>
      val m = r.getDouble(3)
      assert(!m.isNaN && !m.isInfinite && m > 0, s"bad mean_nll $m")
    }
  }

  test("token counts match JVM-side split") {
    val rows = Registry.byName("qt01_token_stats").run(spark, sf)
      .join(Tables.documents(spark, sf), "doc_id")
      .select("text", "n_tokens").limit(50).collect()
    rows.foreach { r =>
      val want = r.getString(0).trim.split("\\s+").length
      assert(r.getAs[Int]("n_tokens") === want)
    }
  }

  test("fingerprint is whitespace/punctuation invariant") {
    import spark.implicits._
    val fp = (t: String) => {
      Seq((1L, t)).toDF("doc_id", "text")
        .withColumn("norm",
          trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9\\s]", ""), "\\s+", " ")))
        .select(md5(col("norm"))).collect()(0).getString(0)
    }
    assert(fp("Hello,  World!") === fp("hello world"))
    assert(fp("hello world") !== fp("hello there"))
  }

  test("langid heuristic: marker languages detected") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps", "en"),
      (2L, "der hund und die katze ist nicht da", "de"),
      (3L, "le chat est dans une maison et les arbres", "fr"),
      (4L, "el perro que vive en una casa por la noche", "es"),
      (5L, "这是一个中文文档", "zh")).toDF("doc_id", "text", "lang")
    docs.createOrReplaceTempView("langid_docs")
    val pred = docs
      .withColumn("n_cjk", size(regexp_extract_all(col("text"), lit("[一-鿿]"), lit(0))))
      .withColumn("n_de", size(regexp_extract_all(lower(col("text")),
        lit("[äöüß]|\\b(?:der|die|das|und|ist|nicht)\\b"), lit(0))))
      .withColumn("n_fr", size(regexp_extract_all(lower(col("text")),
        lit("[àâçèêëîôùû]|\\b(?:le|les|est|une|et|dans)\\b"), lit(0))))
      .withColumn("n_es", size(regexp_extract_all(lower(col("text")),
        lit("[áíóúñ¿¡]|\\b(?:el|los|las|que|una|por)\\b"), lit(0))))
      .withColumn("pred", expr(
        """CASE WHEN n_cjk > 0 THEN 'zh'
          |     WHEN n_de > n_fr AND n_de > n_es AND n_de > 0 THEN 'de'
          |     WHEN n_fr > n_es AND n_fr > 0 THEN 'fr'
          |     WHEN n_es > 0 THEN 'es'
          |     ELSE 'en' END""".stripMargin.replace("\n", " ")))
      .select("lang", "pred").collect()
    pred.foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("gopher repetition: a fully repetitive doc maxes both fractions") {
    import spark.implicits._
    // "spam spam spam ..." → the one 2-gram takes 100% of 2-gram mass and
    // every 3-gram occurrence beyond the first distinct one is a repeat
    val out = Registry.byName("qt09_gopher_repetition").run(spark, sf)
    assert(out.count() === Tables.documents(spark, sf)
      .filter(size(expr("split(trim(text), '\\\\s+')")) >= 3).count())
    assert(out.filter(col("top2gram_frac") < 0 || col("top2gram_frac") > 1 ||
      col("dup3gram_frac") < 0 || col("dup3gram_frac") > 1).count() === 0)
    val spam = Seq((1L, ("spam " * 10).trim)).toDF("doc_id", "text")
    val dir = "/tmp/graft-qt09-spam"
    spam.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Registry.byName("qt09_gopher_repetition").run(spark, dir).collect()(0)
    assert(r.getAs[Double]("top2gram_frac") === 1.0)
    // 8 trigram occurrences, 1 distinct → 7/8 repeats
    assert(r.getAs[Double]("dup3gram_frac") === 7.0 / 8.0)
  }

  test("contamination: eval docs excluded, flags consistent, self-overlap detected") {
    val out = Registry.byName("qt10_contamination").run(spark, sf)
    assert(out.filter(col("doc_id") < TextAnalysis.EvalDocCount).count() === 0)
    assert(out.filter(col("n_contaminated") > col("n_grams")).count() === 0)
    assert(out.filter((col("is_contaminated") === 1) =!=
      (col("n_contaminated") > 0)).count() === 0)
    // the 31-token synthetic vocabulary guarantees some 5-gram collisions
    assert(out.filter(col("is_contaminated") === 1).count() > 0)
  }

  test("PII redaction: counts and rewrite match JVM regex on planted PII") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact me at jane.doe+spam@example.co.uk or 555-867-5309 now"),
      (2L, "two mails a@b.io c@d.org and dotted phone 123.456.7890"),
      (3L, "no pii here at all")).toDF("doc_id", "text")
    val dir = "/tmp/graft-qt11-pii"
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Registry.byName("qt11_pii_redaction").run(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Int]("n_emails"), r.getAs[Int]("n_phones"),
          r.getAs[String]("redacted_hash"))).toMap
    assert(out(1L)._1 === 1 && out(1L)._2 === 1)
    assert(out(2L)._1 === 2 && out(2L)._2 === 1)
    assert(out(3L)._1 === 0 && out(3L)._2 === 0)
    // JVM-side reference rewrite hashes identically
    def jvm(s: String): String = {
      val red = s
        .replaceAll("[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>")
        .replaceAll("[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}", "<PHONE>")
      java.security.MessageDigest.getInstance("MD5").digest(red.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    assert(out(1L)._3 === jvm("contact me at jane.doe+spam@example.co.uk or 555-867-5309 now"))
    assert(out(3L)._3 === jvm("no pii here at all"))
  }

  test("bm25: JVM mirror of the quantized scoring on a planted corpus") {
    import spark.implicits._
    // ≥ 9 distinct length-≥4 tokens so the full 3×3 query split forms;
    // doc 4 is short (strong length normalization), doc 1 repeats alpha
    // (tf saturation)
    val texts = Map(
      1L -> "alpha alpha alpha bravo charlie delta echo foxtrot golf hotel india",
      2L -> "alpha bravo bravo bravo charlie charlie delta echo foxtrot golf",
      3L -> "india india hotel golf foxtrot echo delta charlie bravo alpha xx",
      4L -> "alpha bravo charlie")
    val docs = texts.toSeq.toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.bm25Scores(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap

    // plain-Scala mirror with the IDENTICAL IEEE op sequence
    val toks = texts.map { case (d, t) =>
      d -> t.trim.split("\\s+").map(_.toLowerCase).toSeq }
    val dl = toks.map { case (d, ts) => d -> ts.size.toLong }
    val nDocs = texts.size.toLong
    val avgdl = dl.values.sum.toDouble / nDocs
    val tf = toks.toSeq.flatMap { case (d, ts) =>
      ts.groupBy(identity).map { case (t, g) => (d, t, g.size.toLong) } }
    val top9 = tf.filter(_._2.length >= 4)
      .groupBy(_._2).map { case (t, rs) => t -> rs.map(_._3).sum }
      .toSeq.sortBy { case (t, c) => (-c, t) }.take(9)
    val qid = top9.zipWithIndex.map { case ((t, _), i) => t -> (i % 3 + 1) }.toMap
    val dfm = tf.groupBy(_._2).map { case (t, rs) => t -> rs.size.toLong }
    val expected = tf.filter(r => qid.contains(r._2))
      .map { case (d, t, f) =>
        val df = dfm(t)
        val contrib = math.round(
          math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0) *
            (f * (1.2 + 1.0)) /
            (f + 1.2 * (1.0 - 0.75 + 0.75 * dl(d) / avgdl)) * 1e6)
        ((qid(t), d), contrib)
      }
      .groupBy(_._1).map { case (k, rs) => k -> ((rs.map(_._2).sum, rs.size.toLong)) }
    assert(got === expected)
    // saturation: doc 1's alpha tf=3 contributes less than 3× the tf=1 docs
    // (implicitly exercised above); length normalization: the short doc 4
    // outranks a long doc with equal tf for its query terms
  }

  test("bm25 qt23: three queries, ranks 1..10, scores non-increasing") {
    val out = Registry.byName("qt23_bm25_rank").run(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(out.map(_._1).toSet === Set(1, 2, 3))
    out.groupBy(_._1).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._5)
      assert(byRank.map(_._5).toSeq === (1 to 10), s"query $q ranks")
      byRank.sliding(2).foreach { w =>
        assert(w(0)._3 >= w(1)._3, s"query $q scores not monotone")
      }
      assert(rows.forall(r => r._4 >= 1 && r._4 <= 3), s"query $q n_terms")
    }
  }
}

class PipelineSpec extends SparkSpec {

  test("e2e pipeline invariants: dedup'd, near-dup-free, rate-bounded, deterministic") {
    val corpus = graft.ext.Pipeline.sampledCorpus(spark, sf).cache()
    // quality gate
    assert(corpus.filter(col("nt") < 10).count() === 0)
    // exact dedup: no two survivors share text
    assert(corpus.select(md5(col("text"))).distinct().count() === corpus.count())
    // near-dup-free: no surviving pair shares a simhash chunk within Hamming 12
    val sim = corpus.select(col("doc_id"),
      graft.functions.TokenSimHash.simhash(
        expr("split(trim(text), '\\\\s+')"), 48).as("simhash"))
    val chunks = sim.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        expr(s"(simhash div cast(pow(2, ${12 * c}) as bigint)) % 4096")
          .cast("long") * 4 + c): _*)).as("ck"))
    val nearPairs = chunks.alias("x").join(chunks.alias("y"),
      col("x.ck") === col("y.ck") && col("x.doc_id") < col("y.doc_id") &&
        expr("bit_count(x.simhash ^ y.simhash) <= 12"))
    assert(nearPairs.count() === 0, "near-dup pair survived the pipeline")
    // sampling rule holds
    assert(corpus.filter(
      (expr("cast(substring(source, 4) as int) % 2 = 0") && col("bucket") >= 50) ||
        (expr("cast(substring(source, 4) as int) % 2 = 1") && col("bucket") >= 20))
      .count() === 0)
    // deterministic end to end
    val again = graft.ext.Pipeline.sampledCorpus(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(corpus.select("doc_id").collect().map(_.getLong(0)).toSet === again)
    // the report aggregates exactly the sampled corpus
    val report = Registry.byName("qp01_pipeline_e2e").run(spark, sf).collect()
    assert(report.map(_.getAs[Long]("n_docs")).sum === corpus.count())
    corpus.unpersist()
  }

  test("curation pipeline: stage composition equals its standalone stages (qp02)") {
    val curated = graft.ext.Pipeline.curatedCorpus(spark, sf).cache()
    // quality gate holds
    assert(curated.filter(col("nt") < 10).count() === 0)
    // semantic stage is qd11 verbatim: kept set = qd11's is_dup = 0 side,
    // intersected with the quality gate
    val qd11Keep = Registry.byName("qd11_semdedup").run(spark, sf)
      .filter(col("is_dup") === 0).select(col("vec_id").as("doc_id"))
    val qualIds = Tables.documents(spark, sf)
      .filter(size(expr("split(trim(text), '\\\\s+')")) >= 10)
      .select("doc_id")
    val expected = qd11Keep.join(qualIds, Seq("doc_id"))
    assert(curated.select("doc_id").exceptAll(expected).count() === 0)
    assert(expected.exceptAll(curated.select("doc_id")).count() === 0)
    // report aggregates exactly the curated corpus
    val report = Registry.byName("qp02_curation_pipeline").run(spark, sf).collect()
    assert(report.map(_.getAs[Long]("n_docs")).sum === curated.count())
    // label diversity never exceeds kept docs per source
    assert(report.forall(r =>
      r.getAs[Long]("n_labels") <= r.getAs[Long]("n_docs")))
    curated.unpersist()
  }

  test("keep-best keeper is its component's max-score member (qd16)") {
    val keepers = Registry.byName("qd16_component_keep_best").run(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val comp = Registry.byName("qd08_dedup_components").run(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val scores = Registry.byName("qt12_quality_classifier").run(spark, sf)
      .select(col("doc_id"), col("score_int"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one keeper per component, and it attains the component's max score
    // with the lowest doc_id among ties
    val byComp = comp.groupBy(_._2)
    assert(keepers.keySet === byComp.keySet)
    for ((c, members) <- byComp) {
      val best = members.map { case (id, _) => (scores(id), id) }
        .reduce((a, b) => if (a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)) a else b)
      assert(keepers(c) === ((best._2, best._1)),
        s"component $c keeper ${keepers(c)} != expected $best")
    }
  }
}

class BmpCodecSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.ext.BmpCodec

  test("encode/decode round trip across padding widths") {
    // widths 4..8 cover row padding 0..3 bytes
    for ((w, h) <- Seq((1, 1), (4, 3), (5, 4), (6, 2), (7, 3), (8, 4))) {
      val px = Array.tabulate(w * h)(k => (k * 2654435761L.toInt) & 0xFFFFFF)
      val img = BmpCodec.decode(BmpCodec.encode(w, h, px))
      assert(img.width === w && img.height === h)
      assert(img.pixels.toSeq === px.toSeq, s"pixels diverged at ${w}x$h")
    }
  }

  test("top-down BMP (negative height) decodes to the same image") {
    val (w, h) = (5, 3)
    val px = Array.tabulate(w * h)(k => (k * 31 + 7) & 0xFFFFFF)
    val up = BmpCodec.encode(w, h, px)
    // rewrite as top-down: flip the height sign, reverse the row blocks
    val stride = ((3 * w + 3) / 4) * 4
    val down = up.clone()
    val bb = java.nio.ByteBuffer.wrap(down).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(22, -h)
    for (r <- 0 until h)
      System.arraycopy(up, 54 + (h - 1 - r) * stride, down, 54 + r * stride, stride)
    val img = BmpCodec.decode(down)
    assert(img.width === w && img.height === h)
    assert(img.pixels.toSeq === px.toSeq)
  }

  test("rejects bad magic, unsupported bpp, compressed, truncated") {
    val ok = BmpCodec.encode(4, 2, Array.fill(8)(0x123456))
    def mutated(off: Int, v: Byte) = { val b = ok.clone(); b(off) = v; b }
    intercept[IllegalArgumentException](BmpCodec.decode(mutated(0, 'X'.toByte)))
    intercept[IllegalArgumentException](BmpCodec.decode(mutated(28, 32.toByte)))
    intercept[IllegalArgumentException](BmpCodec.decode(mutated(30, 1.toByte)))
    intercept[IllegalArgumentException](BmpCodec.decode(ok.take(40)))
    intercept[IllegalArgumentException](BmpCodec.decode(ok.take(60)))
  }
}

class WavCodecSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.ext.WavCodec

  test("encode/decode round trip: mono and stereo, exact samples") {
    val mono = Array(Array.tabulate(37)(i => ((i * 997 - 5000) % 32768).toShort))
    val m = WavCodec.decode(WavCodec.encode(16000, mono))
    assert(m.sampleRate === 16000 && m.channels === 1 && m.numSamples === 37)
    assert(m.samples(0).toSeq === mono(0).toSeq)

    val stereo = Array(
      Array.tabulate(21)(i => (i * 3).toShort),
      Array.tabulate(21)(i => (-i * 7).toShort))
    val s = WavCodec.decode(WavCodec.encode(44100, stereo))
    assert(s.sampleRate === 44100 && s.channels === 2 && s.numSamples === 21)
    assert(s.samples(0).toSeq === stereo(0).toSeq)
    assert(s.samples(1).toSeq === stereo(1).toSeq)
  }

  test("sign and extremes survive the 16-bit LE round trip") {
    val edge = Array(Array[Short](Short.MinValue, -1, 0, 1, Short.MaxValue))
    assert(WavCodec.decode(WavCodec.encode(8000, edge)).samples(0).toSeq
      === edge(0).toSeq)
  }

  test("chunk walk skips unknown chunks (LIST before data), odd sizes padded") {
    val base = WavCodec.encode(8000, Array(Array[Short](10, -20, 30)))
    // splice a 5-byte LIST chunk (odd → 1 pad byte) between fmt and data
    val insertAt = 36 // end of fmt chunk in the canonical layout
    val list = java.nio.ByteBuffer.allocate(8 + 5 + 1)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    list.put("LIST".getBytes("US-ASCII")).putInt(5)
      .put("INFOx".getBytes("US-ASCII")).put(0.toByte)
    val spliced = base.take(insertAt) ++ list.array() ++ base.drop(insertAt)
    // RIFF size field must cover the insert for a well-formed file
    val bb = java.nio.ByteBuffer.wrap(spliced).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, bb.getInt(4) + 14)
    val w = WavCodec.decode(spliced)
    assert(w.samples(0).toSeq === Seq[Short](10, -20, 30))
  }

  test("rejects bad magic, non-PCM format, wrong bit depth, truncation") {
    val ok = WavCodec.encode(8000, Array(Array[Short](1, 2, 3, 4)))
    def mutated(off: Int, v: Byte) = { val b = ok.clone(); b(off) = v; b }
    intercept[IllegalArgumentException](WavCodec.decode(mutated(0, 'X'.toByte)))
    intercept[IllegalArgumentException](WavCodec.decode(mutated(8, 'X'.toByte)))
    intercept[IllegalArgumentException](WavCodec.decode(mutated(20, 3.toByte)))  // IEEE float
    intercept[IllegalArgumentException](WavCodec.decode(mutated(34, 8.toByte)))  // 8-bit
    intercept[IllegalArgumentException](WavCodec.decode(ok.take(40)))
  }
}

/** Property-based identity checks for the media codecs: any payload the
  * encoder accepts must decode back bit-exact — arbitrary channel counts,
  * empty PCM, extreme samples, arbitrary frame stacks. */
class CodecPropertySpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.scalacheck.{Gen => SGen, Prop, Test => SCTest}
  import graft.ext.{WavCodec, Y4mCodec}

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(50).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: WAV round trip is identity for arbitrary 16-bit PCM") {
    val gen = for {
      ch <- SGen.choose(1, 4)
      n <- SGen.choose(0, 200) // n = 0: empty data chunk must round-trip too
      rate <- SGen.oneOf(8000, 16000, 22050, 44100, 48000)
      chans <- SGen.listOfN(ch, SGen.listOfN(n,
        SGen.choose(Short.MinValue.toInt, Short.MaxValue.toInt).map(_.toShort)))
    } yield (rate, chans.map(_.toArray).toArray)
    check(Prop.forAll(gen) { case (rate, samples) =>
      val w = WavCodec.decode(WavCodec.encode(rate, samples))
      w.sampleRate == rate && w.channels == samples.length &&
        w.samples.zip(samples).forall { case (a, b) => a.sameElements(b) }
    })
  }

  test("property: PNG round trip is identity for arbitrary RGB images") {
    import graft.ext.PngCodec
    val gen = for {
      w <- SGen.choose(1, 12); h <- SGen.choose(1, 12) // h > 5 hits all filters
      px <- SGen.listOfN(w * h, SGen.choose(0, 0xFFFFFF))
    } yield (w, h, px.toArray)
    check(Prop.forAll(gen) { case (w, h, px) =>
      val img = PngCodec.decode(PngCodec.encode(w, h, px))
      img.width == w && img.height == h && img.pixels.sameElements(px)
    })
  }

  test("property: Y4M round trip is identity for arbitrary C444 frame stacks") {
    val gen = for {
      w <- SGen.choose(1, 16); h <- SGen.choose(1, 16)
      nf <- SGen.choose(0, 6)
      num <- SGen.choose(1, 60000); den <- SGen.choose(1, 1001)
      frames <- SGen.listOfN(nf,
        SGen.listOfN(w * h * 3, SGen.choose(0, 255).map(_.toByte)))
    } yield (w, h, num, den, frames.map(_.toArray))
    check(Prop.forAll(gen) { case (w, h, num, den, frames) =>
      val v = Y4mCodec.decode(Y4mCodec.encode(w, h, num, den, frames))
      v.width == w && v.height == h && v.fpsNum == num && v.fpsDen == den &&
        v.frames.length == frames.length &&
        v.frames.zip(frames).forall { case (a, b) => a.sameElements(b) }
    })
  }
}

class TextNormSpec extends SparkSpec {

  private def regexNorm =
    trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9\\s]", ""), "\\s+", " "))

  test("AsciiNormalize equals the regex chain on real corpus text") {
    val diff = Tables.documents(spark, sf)
      .select(regexNorm.as("r"),
        graft.functions.TextNorm.asciiNormalize(col("text")).as("a"))
      .filter(col("r") =!= col("a")).count()
    assert(diff === 0)
  }

  test("AsciiNormalize equals the regex chain on crafted edge strings") {
    import spark.implicits._
    val cases = Seq(
      "", " ", "   ", "a", "A", "  Hello,  World!  ", "a!b", "a ! b",
      "tabs\tand\nnewlines\r\nandvtab\fformfeed",
      "MiXeD CaSe 123 #$%^&*()", "ünïcödé gets déleted", "中文 mixed ascii",
      "!!!", "a" * 500, ("x y " * 100) + "!")
    val df = cases.toDF("text")
      .select(col("text"), regexNorm.as("r"),
        graft.functions.TextNorm.asciiNormalize(col("text")).as("a"))
    df.collect().foreach { row =>
      assert(row.getString(2) === row.getString(1),
        s"mismatch for input '${row.getString(0).take(40)}'")
    }
  }

  test("known non-ASCII divergences from the regex chain are exactly as documented") {
    import spark.implicits._
    // Two pinned divergence classes (see AsciiNormalize scaladoc):
    // (a) İ (U+0130): lower() decomposes to 'i' + U+0307 — regex keeps 'i'
    // (b) U+212A KELVIN SIGN: SIMPLE lowercase maps to ASCII 'k' — regex keeps 'k'
    // AsciiNormalize drops both (every byte >= 0x80 is dropped by contract).
    val cases = Seq(
      ("İstanbul", "istanbul", "stanbul"),
      ("300K hot", "300k hot", "300 hot"),
      ("K", "k", ""))
    val rows = cases.map(_._1).toDF("text")
      .select(col("text"), regexNorm.as("r"),
        graft.functions.TextNorm.asciiNormalize(col("text")).as("a"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    cases.foreach { case (in, wantRegex, wantAscii) =>
      assert(rows(in)._1 === wantRegex, s"regex chain for '$in'")
      assert(rows(in)._2 === wantAscii, s"AsciiNormalize for '$in'")
    }
  }

  test("unicodeNormalize preserves non-ASCII letters and matches the oracle chain") {
    import spark.implicits._
    // Expected values are DuckDB's output for the identical chain (verified
    // against duckdb lower+regexp_replace) — the qt18 hash-exactness
    // contract, stated per planted-script family.
    val cases = Seq(
      ("Père—Noël,   CAFÉ!?", "pèrenoël café"),
      ("Straße GRÜSSE aus München", "straße grüsse aus münchen"),
      ("МОСКВА — Россия", "москва россия"),
      ("北京市、東京都。", "北京市東京都"),
      ("Ελλάδα και κύπρος", "ελλάδα και κύπρος"),
      ("naïve FAÇADE œuvre élevée", "naïve façade œuvre élevée"),
      ("  \t mixed ASCII and 中文 123 \r\n", "mixed ascii and 中文 123"),
      ("", ""))
    val rows = cases.map(_._1).toDF("text")
      .select(col("text"),
        graft.ext.TextAnalysis.unicodeNormalize(col("text")).as("u"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(rows(in) === want, s"unicodeNormalize for '$in'")
    }
  }

  test("unicodeNormalize divergence classes vs DuckDB are exactly as documented") {
    import spark.implicits._
    // (a) İ U+0130: Java lower() → 'i' + combining U+0307; utf8proc → 'i'.
    //     The raw lower() outputs DIFFER, but U+0307 is \p{Mn} (not \p{L})
    //     so unicodeNormalize strips it — the engines CONVERGE on
    //     'istanbul'. Same for U+212A KELVIN (both map to 'k') and
    //     ẞ U+1E9E (both map to ß): safe in gated corpora.
    // (b) Final sigma: Java's toLowerCase applies Unicode Final_Sigma
    //     (trailing Σ → ς); utf8proc maps Σ → σ unconditionally. A
    //     GENUINE divergence that survives normalization — capital Σ is
    //     therefore excluded from the qt18 planted set (the header's
    //     documented exclusion).
    val got = Seq("İstanbul", "300K", "ẞig", "ΟΔΥΣΣΕΥΣ ΣΣ").toDF("text")
      .select(col("text"),
        graft.ext.TextAnalysis.unicodeNormalize(col("text")).as("u"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("İstanbul") === "istanbul")   // converges (DuckDB: istanbul)
    assert(got("300K") === "300k")           // converges (DuckDB: 300k)
    assert(got("ẞig") === "ßig")             // converges (DuckDB: ßig)
    assert(got("ΟΔΥΣΣΕΥΣ ΣΣ") === "οδυσσευς σς") // DuckDB: 'οδυσσευσ σσ' — diverges
  }
}

class PngCodecSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.ext.PngCodec

  private def img(w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h)(k => (k * 2654435761L).toInt & 0xFFFFFF)

  test("round trip exercises every filter type (h = 7 cycles 0..4)") {
    val px = img(5, 7)
    val out = PngCodec.decode(PngCodec.encode(5, 7, px))
    assert(out.width === 5 && out.height === 7)
    assert(out.pixels.toSeq === px.toSeq)
  }

  test("1x1 and single-column edges (no left/up neighbors)") {
    for ((w, h) <- Seq((1, 1), (1, 7), (7, 1))) {
      val px = img(w, h)
      assert(PngCodec.decode(PngCodec.encode(w, h, px)).pixels.toSeq === px.toSeq)
    }
  }

  test("rejects bad signature, bad CRC, truncation, trailing garbage") {
    val ok = PngCodec.encode(4, 6, img(4, 6))
    val badSig = ok.clone(); badSig(0) = 'X'.toByte
    intercept[IllegalArgumentException](PngCodec.decode(badSig))
    val badCrc = ok.clone(); badCrc(badCrc.length - 5) = (badCrc(badCrc.length - 5) ^ 1).toByte
    intercept[IllegalArgumentException](PngCodec.decode(badCrc))
    intercept[IllegalArgumentException](PngCodec.decode(ok.take(ok.length - 3)))
    intercept[IllegalArgumentException](PngCodec.decode(ok ++ Array[Byte](0)))
  }

  test("rejects unsupported color type / bit depth / interlace (CRC re-signed)") {
    def patchIhdr(byteInIhdr: Int, v: Byte): Array[Byte] = {
      val b = PngCodec.encode(4, 6, img(4, 6)).clone()
      // IHDR data starts at offset 16 (8 sig + 4 len + 4 type)
      b(16 + byteInIhdr) = v
      val crc = new java.util.zip.CRC32
      crc.update(b, 12, 4 + 13) // type + data
      val cv = java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array()
      System.arraycopy(cv, 0, b, 16 + 13, 4)
      b
    }
    intercept[IllegalArgumentException](PngCodec.decode(patchIhdr(8, 16))) // bit depth
    intercept[IllegalArgumentException](PngCodec.decode(patchIhdr(9, 6)))  // RGBA
    intercept[IllegalArgumentException](PngCodec.decode(patchIhdr(12, 1))) // Adam7
  }

  test("rejects corrupt zlib body (valid CRC, garbage stream)") {
    // hand-build a PNG whose IDAT is random non-zlib bytes with a CORRECT
    // chunk CRC: the failure must come from the inflater, not the CRC walk
    val sig = Array(137, 80, 78, 71, 13, 10, 26, 10).map(_.toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32
      crc.update(t); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(t).put(data).putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(2).putInt(2)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte).array()
    val junk = Array.tabulate[Byte](20)(i => (i * 17 + 3).toByte)
    val bad = sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", junk) ++
      chunk("IEND", Array.emptyByteArray)
    intercept[IllegalArgumentException](PngCodec.decode(bad))
  }

  test("rejects adversarial chunk length near Int.MaxValue (no overflow, no allocation)") {
    // len + 8 would overflow Int and pass a naive remaining() check; the
    // decoder must compare in Long and throw, not allocate ~2 GB or
    // BufferUnderflow
    val sig = Array(137, 80, 78, 71, 13, 10, 26, 10).map(_.toByte)
    val evil = sig ++ java.nio.ByteBuffer.allocate(16)
      .putInt(0x7FFFFFFC).put("IDAT".getBytes("US-ASCII"))
      .putInt(0).putInt(0).array()
    val e = intercept[IllegalArgumentException](PngCodec.decode(evil))
    assert(e.getMessage.contains("truncated chunk"))
  }

  test("rejects preset-dictionary (FDICT) zlib stream instead of spinning") {
    // zlib header CMF=0x78 FLG=0x20: FDICT bit set, (0x78*256+0x20)%31==0
    // → Inflater returns 0 with needsDictionary()==true forever unless
    // guarded
    val sig = Array(137, 80, 78, 71, 13, 10, 26, 10).map(_.toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32
      crc.update(t); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(t).put(data).putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(2).putInt(2)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte).array()
    val fdict = Array[Byte](0x78, 0x20, 1, 2, 3, 4, // header + DICTID
      0x0B.toByte, 0x42.toByte, 0x00.toByte, 0x11.toByte) // arbitrary body
    val bad = sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", fdict) ++
      chunk("IEND", Array.emptyByteArray)
    val e = intercept[IllegalArgumentException](PngCodec.decode(bad))
    assert(e.getMessage.contains("preset-dictionary") ||
      e.getMessage.contains("corrupt zlib") ||
      e.getMessage.contains("truncated zlib"))
  }

  test("rejects hostile IHDR dimensions whose raw buffer would overflow Int") {
    // width=715_827_883, height=3: (stride+1)*height = (3w+1)*3 ≈ 2^31+10
    // overflows Int to a small negative — a naive decoder throws
    // NegativeArraySizeException (or attempts a multi-GB allocation for
    // slightly smaller w·h). Contract: IllegalArgumentException at IHDR.
    val sig = Array(137, 80, 78, 71, 13, 10, 26, 10).map(_.toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32
      crc.update(t); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(t).put(data).putInt(crc.getValue.toInt).array()
    }
    for ((w, h) <- Seq((715827883, 3), (1 << 16, 1 << 16))) {
      val ihdr = java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
        .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte).array()
      val bad = sig ++ chunk("IHDR", ihdr) ++
        chunk("IDAT", Array[Byte](0x78, 0x01.toByte)) ++
        chunk("IEND", Array.emptyByteArray)
      val e = intercept[IllegalArgumentException](PngCodec.decode(bad))
      assert(e.getMessage.contains("too large"), s"${w}x$h: ${e.getMessage}")
    }
  }
}

class Y4mCodecSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.ext.Y4mCodec

  private def frame(w: Int, h: Int, seed: Int): Array[Byte] =
    Array.tabulate(w * h * 3)(i => ((i * 31 + seed * 131) % 256).toByte)

  test("encode/decode round trip: header fields and every plane byte") {
    val frames = Seq(frame(6, 4, 0), frame(6, 4, 1), frame(6, 4, 2))
    val v = Y4mCodec.decode(Y4mCodec.encode(6, 4, 30, 1, frames))
    assert(v.width === 6 && v.height === 4)
    assert(v.fpsNum === 30 && v.fpsDen === 1)
    assert(v.frames.length === 3)
    v.frames.zip(frames).foreach { case (got, want) =>
      assert(got.toSeq === want.toSeq)
    }
  }

  test("zero frames and NTSC-style rational rates parse") {
    val v = Y4mCodec.decode(Y4mCodec.encode(2, 2, 30000, 1001, Seq.empty))
    assert(v.frames.isEmpty && v.fpsNum === 30000 && v.fpsDen === 1001)
  }

  test("tolerates FRAME parameter text and X- extension tags") {
    val f = frame(2, 2, 5)
    val bytes = ("YUV4MPEG2 W2 H2 F25:1 Ip A1:1 C444 Xcustom=1\n" +
      "FRAME Ip\n").getBytes("US-ASCII") ++ f
    val v = Y4mCodec.decode(bytes)
    assert(v.frames.length === 1 && v.frames(0).toSeq === f.toSeq)
  }

  test("rejects bad magic, non-C444, missing F tag, truncated frame") {
    val f = frame(2, 2, 7)
    def parse(hdr: String, data: Array[Byte]) =
      Y4mCodec.decode(hdr.getBytes("US-ASCII") ++ data)
    intercept[IllegalArgumentException](
      parse("YUV4MPEG3 W2 H2 F25:1 C444\nFRAME\n", f))
    intercept[IllegalArgumentException](
      parse("YUV4MPEG2 W2 H2 F25:1 C420jpeg\nFRAME\n", f))
    intercept[IllegalArgumentException](
      parse("YUV4MPEG2 W2 H2 C444\nFRAME\n", f))
    intercept[IllegalArgumentException](
      parse("YUV4MPEG2 W2 H2 F25:1 C444\nFRAME\n", f.take(5)))
    // colon-less F tag must be IAE (not MatchError): callers catching
    // IAE for corrupt streams rely on the documented contract
    intercept[IllegalArgumentException](
      parse("YUV4MPEG2 W2 H2 F25 C444\nFRAME\n", f))
  }
}

class MultimodalSpec extends SparkSpec {

  test("qm02 features come from a real BMP round trip and match the JVM reference") {
    val rows = Registry.byName("qm02_decode_features").run(spark, sf)
      .join(Tables.documents(spark, sf), "doc_id")
      .select("doc_id", "text", "n_bytes", "width", "height",
        "mean_r", "mean_g", "mean_b")
      .limit(50).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0); val text = r.getString(1)
      val w = (4 + id % 5).toInt; val h = (3 + id % 3).toInt; val n = w * h
      val step = text.length / n
      val codes = Array.tabulate(n)(k => text.charAt(k * step).toInt)
      assert(r.getInt(2) === 54 + h * ((3 * w + 3) / 4 * 4))
      assert(r.getInt(3) === w && r.getInt(4) === h)
      assert(r.getDouble(5) === codes.map(_ % 256).sum.toDouble / n)
      assert(r.getDouble(6) === codes.map(c => c * 2 % 256).sum.toDouble / n)
      assert(r.getDouble(7) ===
        codes.zipWithIndex.map { case (c, k) => (c + k) % 256 }.sum.toDouble / n)
    }
  }

  test("binary payload survives roundtrip with exact length") {
    val out = Registry.byName("qm01_binary_meta").run(spark, sf)
      .join(Tables.documents(spark, sf), "doc_id")
      .filter(col("n_bytes") =!= length(col("text"))) // ASCII corpus: bytes == chars
    assert(out.count() === 0)
  }

  test("qm09 aHash: verbatim copies collapse, contrast pattern separates") {
    import spark.implicits._
    // ids 0/15/30 share dims (all ≡0 mod 5 and mod 3 → 4×3); identical
    // text must produce an identical hash THROUGH the codec round trip;
    // monotone-luma text (uniform chars: bits 000000111111) must differ
    // from alternating-luma text (aZ…: bits 101010101010)
    val uni = "a" * 12
    val alt = "aZ" * 6
    val h = Multimodal.perceptualHash(Seq(
        Multimodal.MediaRow(0L, uni), Multimodal.MediaRow(15L, uni),
        Multimodal.MediaRow(30L, alt)).toDS())
      .collect().map(r => r.doc_id -> r.phash).toMap
    assert(h(0L) === h(15L), "verbatim copy did not collapse")
    assert(h(0L) !== h(30L), "contrast pattern did not separate")
    assert(h(0L).startsWith("4x3:"), s"unexpected dims prefix: ${h(0L)}")
  }

  test("qx18 near-dup components are split-atomic") {
    val split = Registry.byName("qx18_component_split").run(spark, sf)
    val comp = Dedup.nearDupComponents(spark, sf)
    val straddling = split.join(comp, "doc_id")
      .groupBy(col("component"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
    assert(straddling.count() === 0,
      "a near-dup component straddles train/val/test")
  }
}

class SpanDedupSpec extends SparkSpec {
  import graft.ext.SpanDedup

  test("dup spans: planted 7-token shared span covered exactly; unique docs zero") {
    import spark.implicits._
    // docs 0/1 share exactly "a b c d e f g" (7 tokens, 3 overlapping
    // 5-grams -> coverage 5+1+1 = 7); docs 2/3 share no 5-gram with anyone
    val docs = Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "x1 y1 a b c d e f g z1 w1"),
      (2L, "p q r s t u v w aa bb"),
      (3L, "m n o pp qq")).toDF("doc_id", "text")
    val out = SpanDedup.dupSpans(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(0L) === ((10L, 7L, 0.7)))
    assert(out(1L)._2 === 7L)
    assert(out(2L)._2 === 0L && out(3L)._2 === 0L)
  }

  test("dup spans: byte-identical docs are fully covered (dup_frac = 1.0)") {
    import spark.implicits._
    val text = (1 to 20).map(i => s"t$i").mkString(" ")
    val docs = Seq((0L, text), (1L, text)).toDF("doc_id", "text")
    SpanDedup.dupSpans(docs).collect().foreach { r =>
      assert(r.getDouble(3) === 1.0, s"doc ${r.getLong(0)} not fully covered")
    }
  }

  test("dup spans: within-doc repetition alone does not mark coverage") {
    import spark.implicits._
    // the repeated phrase lives in ONE doc only (df = 1 distinct doc), so
    // cross-document coverage must be zero — self-repetition is qt09's job
    val docs = Seq(
      (0L, "r1 r2 r3 r4 r5 mid r1 r2 r3 r4 r5"),
      (1L, "u1 u2 u3 u4 u5 u6")).toDF("doc_id", "text")
    val out = SpanDedup.dupSpans(docs).collect()
    out.foreach(r => assert(r.getLong(2) === 0L))
  }

  test("incremental dedup classifies exact_dup, near_dup, and new") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base), // seen
      (2L, "seen filler " + (1 to 30).map(i => s"s$i").mkString(" ")), // seen
      (5L, base), // incoming, byte-identical to seen doc 1
      (10L, near), // incoming, 1 of 40 tokens changed vs seen doc 1
      (15L, (1 to 40).map(i => s"zz$i").mkString(" ")) // incoming, unrelated
    ).toDF("doc_id", "text")
    val out = SpanDedup.classifyIncremental(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(5L -> "exact_dup", 10L -> "near_dup", 15L -> "new"))
  }

  test("incremental dedup: duplicates WITHIN the incoming batch stay 'new'") {
    import spark.implicits._
    // both copies are incoming (ids 5 and 10): nothing in the SEEN corpus
    // matches them, so both classify as new — the batch-internal dedup is
    // qd01/qd07's job, run on the accepted batch afterwards
    val text = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, "seen " + (1 to 30).map(i => s"x$i").mkString(" ")),
      (5L, text), (10L, text)).toDF("doc_id", "text")
    val out = SpanDedup.classifyIncremental(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(5L -> "new", 10L -> "new"))
  }

  test("persisted ingest loop: final-batch slice equals from-scratch qd13") {
    // The qd18 composition theorem, asserted WITHIN Spark: after the seen
    // corpus is ingested batch-by-batch through the persisted store, the
    // incoming set's classification must equal classifyIncremental's
    // from-scratch answer on the real corpus.
    val docs = graft.sources.Tables.documents(spark, sf)
    val fromLoop = SpanDedup.ingestSequentially(spark, docs)
      .filter(col("batch_id") === SpanDedup.IngestBatches)
      .select(col("doc_id"), col("status")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val fromScratch = SpanDedup.classifyIncremental(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fromLoop === fromScratch)
  }

  test("persisted ingest loop: overlapMerge = false equals the overlapped default") {
    // the sequential path is the reference the concurrent merge is pinned
    // against: same statuses with the same multiplicity, batch by batch
    val docs = graft.sources.Tables.documents(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(SpanDedup.ingestSequentially(spark, docs, overlapMerge = false))
      === rows(SpanDedup.ingestSequentially(spark, docs)))
  }

  test("store upsert replaces a re-ingested doc's signatures (no duplication)") {
    import spark.implicits._
    // qd18's batches are doc_id-disjoint, so this MERGE branch is dormant
    // in the gate — exercise it directly: doc 1 re-ingested with NEW text
    // must end with exactly its new signature, never both
    val v1 = Seq((1L, "aaaa"), (2L, "bbbb")).toDF("doc_id", "h")
    val v2 = Seq((1L, "cccc")).toDF("doc_id", "h")
    val merged = SpanDedup.upsertByDoc(v1, v2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(merged === Map(1L -> "cccc", 2L -> "bbbb"))
    // idempotent for an identical re-ingest
    val again = SpanDedup.upsertByDoc(SpanDedup.upsertByDoc(v1, v2), v2)
    assert(again.count() === 2)
  }

  test("partitioned store: re-ingest rewrites only the touched partitions") {
    import spark.implicits._
    // round-12 layout: merge of all-new doc ids must touch NO partitions
    // (pure append); a re-ingest must rewrite exactly the partitions its
    // doc ids hash to, replacing (never duplicating) those docs' rows
    // while every other partition's files are left untouched
    val root = graft.store.PartitionedStore.tempRoot("graft-store-spec-")
    val store = SpanDedup.SignatureStore.open(spark, root.toString)
    def sigs(rows: Seq[(Long, String)]) = {
      val docs = rows.toDF("doc_id", "text")
      (docs.select(col("doc_id"), md5(col("text")).as("h")),
        SpanDedup.simhashChunks(docs)
          .select(col("doc_id"), col("c"), col("chunk"), col("simhash")))
    }
    val texts = (1L to 8L).map(i =>
      i -> (1 to 30).map(j => s"d${i}w$j").mkString(" "))
    val (h1, c1) = sigs(texts)
    assert(store.merge(h1, c1).isEmpty) // all new → pure append
    val before = store.readH.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(before.keySet === (1L to 8L).toSet)

    // snapshot each partition dir's file listing, then re-ingest doc 3
    val hDir = new java.io.File(s"$root/h")
    def filesByDp() = hDir.listFiles().filter(_.isDirectory).map(d =>
      d.getName -> d.listFiles().map(_.getName).toSet).toMap
    val filesBefore = filesByDp()
    val dp3 = java.security.MessageDigest.getInstance("MD5")
      .digest("3".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(1)
    val (h2, c2) = sigs(Seq(3L -> (1 to 30).map(j => s"NEW$j").mkString(" ")))
    val touched = store.merge(h2, c2)
    assert(touched === Seq(dp3))
    val after = store.readH.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after.keySet === (1L to 8L).toSet) // replaced, not duplicated
    assert(after(3L) !== before(3L))
    assert((after - 3L) === (before - 3L))
    // untouched partitions kept their exact files
    filesByDp().foreach { case (dp, fs) =>
      if (dp != s"dp=$dp3") assert(filesBefore(dp) === fs, s"partition $dp")
    }
    store.delete()
  }

  test("partitioned store: compact() folds append files without changing content") {
    import spark.implicits._
    val root = graft.store.PartitionedStore.tempRoot("graft-compact-spec-")
    val store = SpanDedup.SignatureStore.open(spark, root.toString)
    def sigs(rows: Seq[(Long, String)]) = {
      val docs = rows.toDF("doc_id", "text")
      (docs.select(col("doc_id"), md5(col("text")).as("h")),
        SpanDedup.simhashChunks(docs)
          .select(col("doc_id"), col("c"), col("chunk"), col("simhash")))
    }
    // five appended batches → several files per partition
    (0 until 5).foreach { b =>
      val (h, c) = sigs((1L to 6L).map(i =>
        (b * 10 + i) -> (1 to 30).map(j => s"d${b}_${i}w$j").mkString(" ")))
      store.merge(h, c): Unit
    }
    val before = store.readH.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val hDir = new java.io.File(s"$root/h")
    def fileCount() = hDir.listFiles().filter(_.isDirectory)
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    val filesBefore = fileCount()
    store.compact()
    assert(store.readH.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === before)
    assert(fileCount() < filesBefore,
      s"compact did not reduce files: $filesBefore -> ${fileCount()}")
    store.delete()
  }

  test("partitioned store: init() restores partitions orphaned in .aside (crash recovery)") {
    import spark.implicits._
    // ADVICE r13: a hard crash inside the commit, between the aside-move
    // and the staged-move, leaves the ONLY copy of a partition under
    // `_txn/old` — re-opening the store must restore it, not destroy it.
    val root = graft.store.PartitionedStore.tempRoot("graft-recover-spec-")
    val store = SpanDedup.SignatureStore.open(spark, root.toString)
    def sigs(rows: Seq[(Long, String)]) = {
      val docs = rows.toDF("doc_id", "text")
      (docs.select(col("doc_id"), md5(col("text")).as("h")),
        SpanDedup.simhashChunks(docs)
          .select(col("doc_id"), col("c"), col("chunk"), col("simhash")))
    }
    val (h1, c1) = sigs((1L to 8L).map(i =>
      i -> (1 to 30).map(j => s"d${i}w$j").mkString(" ")))
    store.merge(h1, c1): Unit
    val before = store.readH.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // simulate the crash window: one live partition exists only under
    // _txn/old, named by the commit's plan
    val hDir = new java.io.File(s"$root/h")
    val victim = hDir.listFiles().filter(_.isDirectory)
      .filter(_.getName.startsWith("dp=")).head
    val txn = new java.io.File(s"$root/_txn")
    val aside = new java.io.File(txn, "old/h")
    assert(aside.mkdirs())
    java.nio.file.Files.writeString(new java.io.File(txn, "plan").toPath,
      s"replace h/${victim.getName}")
    assert(victim.renameTo(new java.io.File(aside, victim.getName)))
    // restart: re-open the store at the same root
    val reopened = SpanDedup.SignatureStore.open(spark, root.toString)
    assert(new java.io.File(hDir, victim.getName).exists(),
      "orphaned partition not restored from _txn/old")
    assert(!txn.exists(), "_txn not cleared after restore")
    assert(reopened.readH.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === before,
      "content changed across crash recovery")
    store.delete()
  }

  test("partitioned store: torn mid-placement crash rolls BOTH tables back; commit marker rolls both forward") {
    import spark.implicits._
    // ADVICE r14: a hard crash landing mid-placement (some staged dp=
    // dirs placed, others still only in _txn/old) must not leave a torn
    // new/old mix across the h and chunks tables. The one commit marker
    // _txn/COMMITTED decides ONCE for both tables: absent → roll back
    // everything the plan names; present → keep every placed copy.
    val root = graft.store.PartitionedStore.tempRoot("graft-torn-spec-")
    val store = SpanDedup.SignatureStore.open(spark, root.toString)
    val docs = (1L to 8L).map(i =>
      i -> (1 to 30).map(j => s"d${i}w$j").mkString(" ")).toDF("doc_id", "text")
    store.merge(
      docs.select(col("doc_id"), md5(col("text")).as("h")),
      SpanDedup.simhashChunks(docs)
        .select(col("doc_id"), col("c"), col("chunk"), col("simhash"))): Unit
    val beforeH = store.readH.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val beforeC = store.readChunks.count()
    def dpDirs(t: String) = new java.io.File(s"$root/$t").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("dp=")).sortBy(_.getName)
    val victim = dpDirs("h").head.getName // same dp key exists in chunks
    val txn = new java.io.File(s"$root/_txn")
    def tear(table: String, placeFake: Boolean): Unit = {
      val aside = new java.io.File(txn, s"old/$table"); assert(aside.mkdirs())
      java.nio.file.Files.writeString(new java.io.File(txn, "plan").toPath,
        s"replace h/$victim\nreplace chunks/$victim")
      val live = new java.io.File(s"$root/$table/$victim")
      assert(live.renameTo(new java.io.File(aside, victim)))
      // a "placed" new copy: an empty dp= dir (content loss is observable)
      if (placeFake) assert(live.mkdirs())
    }
    // crash window 1: h placed its new copy, chunks has not — NO marker.
    tear("h", placeFake = true); tear("chunks", placeFake = false)
    SpanDedup.SignatureStore.open(spark, root.toString)
    assert(store.readH.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === beforeH,
      "h not rolled back to pre-swap content (torn placement kept)")
    assert(store.readChunks.count() === beforeC,
      "chunks not rolled back to pre-swap content")
    // crash window 2: both tables fully placed, marker written, crash
    // before aside cleanup — recovery must keep the NEW copies.
    tear("h", placeFake = true); tear("chunks", placeFake = true)
    val marker = new java.io.File(txn, "COMMITTED")
    assert(marker.createNewFile())
    SpanDedup.SignatureStore.open(spark, root.toString)
    assert(!marker.exists(), "commit marker not cleared after recovery")
    assert(!new java.io.File(txn, "old").exists())
    val afterH = store.readH.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(afterH.size < beforeH.size && afterH.subsetOf(beforeH),
      "marker present: placed (empty) copies must be kept, asides dropped")
    store.delete()
  }

  test("compactClustered: restart recovery restores a table stranded at .old") {
    // ADVICE r13: a hard crash after the commit moved the live batch
    // partitions aside leaves the only copy under `path/_txn/old`; the
    // next compaction must restore it instead of failing (or worse,
    // deleting it).
    val path = s"/tmp/graft-layout-recover-p${ProcessHandle.current().pid()}"
    val ev = sources.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .limit(500)
    sinks.Layout.writeClusteredBatch(ev, 0, path, "user_id", "event_id", files = 4)
    val before = spark.read.parquet(path).drop("batch_id")
      .collect().map(_.toSeq).sortBy(_.toString)
    // simulate the crash window: live gone, data only under _txn/old
    val txn = new java.io.File(path, "_txn")
    assert(new java.io.File(txn, "old").mkdirs())
    java.nio.file.Files.writeString(new java.io.File(txn, "plan").toPath,
      "remove batch_id=0")
    assert(new java.io.File(path, "batch_id=0")
      .renameTo(new java.io.File(txn, "old/batch_id=0")))
    sinks.Layout.compactClustered(spark, path, "user_id", "event_id", files = 2)
    val after = spark.read.parquet(path)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(after === before, "recovery + compaction changed table content")
    assert(!txn.exists(), "_txn not cleaned up after successful commit")
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(path)): Unit
  }

  test("persisted ingest loop: arrival order decides status (planted)") {
    import spark.implicits._
    // batch_id = (doc_id div 5) % 4 for seen (doc_id % 5 != 0), 4 for
    // incoming. Plant: doc 6 (batch 1) byte-identical to doc 1 (batch 0)
    // → exact_dup on arrival; doc 1 itself arrives first → 'new' even
    // though its dup exists later; doc 21 (batch 0) identical to doc 1
    // (batch 0, SAME batch) → 'new' — a doc never sees its own batch;
    // doc 10 (incoming) identical to doc 6 → exact_dup vs the final store.
    val t0 = (1 to 40).map(i => s"q$i").mkString(" ")
    val uniq = (1 to 40).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (1L, t0),    // seen batch 0
      (21L, t0),   // seen batch 0 (same batch as doc 1)
      (6L, t0),    // seen batch 1
      (7L, uniq),  // seen batch 1, unrelated
      (10L, t0)    // incoming
    ).toDF("doc_id", "text")
    val out = SpanDedup.ingestSequentially(spark, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(out((1L, 0L)) === "new")
    assert(out((21L, 0L)) === "new")
    assert(out((6L, 1L)) === "exact_dup")
    assert(out((7L, 1L)) === "new")
    assert(out((10L, 4L)) === "exact_dup")
  }
}

class QualityClassifierSpec extends SparkSpec {

  test("qt12 score matches an independent JVM reimplementation") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def weight(tok: String): Long = {
      val bucket = java.lang.Long.parseLong(
        md5hex(tok.toLowerCase(java.util.Locale.ROOT)).substring(0, 15), 16) % 4096
      (java.lang.Long.parseLong(md5hex("w" + bucket).substring(0, 15), 16) % 2001) - 1000
    }
    val got = Registry.byName("qt12_quality_classifier").run(spark, sf)
      .filter(col("doc_id") < 10).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_toks"), r.getAs[Long]("score_int")))).toMap
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 10)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(docs.nonEmpty)
    docs.foreach { case (id, text) =>
      val toks = text.trim.split("\\s+")
      assert(got(id) === ((toks.length.toLong, toks.map(weight).sum)),
        s"doc $id classifier mismatch")
    }
  }

  test("qt12 score is token-order invariant (exact integer sum)") {
    import spark.implicits._
    val toks = (1 to 30).map(i => s"q$i")
    val docs = Seq((0L, toks.mkString(" ")), (1L, toks.reverse.mkString(" ")))
      .toDF("doc_id", "text")
    val scores = TextAnalysis.classifierScore(docs)
      .select("score_int").collect().map(_.getLong(0))
    assert(scores(0) === scores(1), "reversed token order changed the score")
  }
}

class EventDedupSpec extends SparkSpec {

  test("gap-session keep rule on a planted timeline") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(hours: Double) =
      new java.sql.Timestamp(t0.getTime + (hours * 3600 * 1000).toLong)
    // user 1 click: 0h, +1h (suppressed), +5h (kept: 4h gap exceeded);
    // user 1 view at +1h: independent key, kept; user 2 click at +1h: kept
    val events = Seq(
      (100L, 1L, "click", at(0)),
      (101L, 1L, "click", at(1)),
      (102L, 1L, "click", at(5.5)),
      (103L, 1L, "view", at(1)),
      (104L, 2L, "click", at(1))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ext.Dedup.gapSessionKeep(events).collect()
      .map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(out === Map(100L -> 1, 101L -> 0, 102L -> 1, 103L -> 1, 104L -> 1))
  }

  test("gap-session: exact-boundary gap is suppressed (strict > semantics)") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val events = Seq(
      (1L, 1L, "click", t0),
      (2L, 1L, "click", new java.sql.Timestamp(t0.getTime + 4L * 3600 * 1000))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.ext.Dedup.gapSessionKeep(events).collect()
      .map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(out === Map(1L -> 1, 2L -> 0), "gap == horizon must NOT reset the session")
  }
}

class RagChunksSpec extends SparkSpec {

  test("planted 100-token doc chunks at stride 48 with exact tail") {
    import spark.implicits._
    val toks = (1 to 100).map(i => s"c$i")
    val docs = Seq((7L, toks.mkString(" "))).toDF("doc_id", "text")
    val out = TextAnalysis.ragChunks(docs).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(_._1)
    assert(out.map(c => (c._1, c._2, c._3)).toSeq ===
      Seq((0L, 0L, 64L), (1L, 48L, 52L), (2L, 96L, 4L)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0)._4 === md5hex(toks.slice(0, 64).mkString(" ")))
    assert(out(1)._4 === md5hex(toks.slice(48, 100).mkString(" ")))
    assert(out(2)._4 === md5hex(toks.slice(96, 100).mkString(" ")))
  }

  test("chunk extents tile every document: last chunk ends at n_tokens") {
    val out = Registry.byName("qt13_rag_chunks").run(spark, sf)
    val stats = Registry.byName("qt01_token_stats").run(spark, sf)
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))
    val bad = out.groupBy(col("doc_id"))
      .agg(max(col("start_tok") + col("n_tok")).as("covered"),
        count(lit(1)).as("n_chunks"))
      .join(stats, "doc_id")
      .filter(col("covered") =!= col("n_tokens") ||
        col("n_chunks") =!= expr("(n_tokens - 1) div 48 + 1"))
    assert(bad.count() === 0)
  }
}

class BlockDedupSpec extends SparkSpec {
  import graft.ext.SpanDedup

  private def blockText(tag: String): String =
    (1 to SpanDedup.BlockTokens).map(i => s"$tag$i").mkString(" ")

  test("block dedup rewrite: later copy of a shared block is dropped, order kept") {
    import spark.implicits._
    val (a, b, c) = (blockText("a"), blockText("b"), blockText("c"))
    val docs = Seq(
      (0L, s"$a $b"),  // keeps both (first occurrence of A and B)
      (1L, s"$a $c")   // loses A (doc 0 owns it), keeps C
    ).toDF("doc_id", "text")
    val out = SpanDedup.blockDedupRewrite(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(0L) === ((2L, s"$a $b")))
    assert(out(1L) === ((1L, c)))
  }

  test("block dedup rewrite: fully-duplicated doc vanishes from the output") {
    import spark.implicits._
    val (a, b) = (blockText("a"), blockText("b"))
    val docs = Seq((0L, s"$a $b"), (2L, s"$a $b")).toDF("doc_id", "text")
    val out = SpanDedup.blockDedupRewrite(docs)
    assert(out.count() === 1)
    assert(out.collect()(0).getLong(0) === 0L)
  }

  test("block dedup rewrite: within-doc duplicate block collapses to first slot") {
    import spark.implicits._
    val a = blockText("a")
    val docs = Seq((0L, s"$a $a")).toDF("doc_id", "text")
    val r = SpanDedup.blockDedupRewrite(docs).collect()(0)
    assert(r.getLong(1) === 1L && r.getString(2) === a)
  }

  test("block dedup rewrite: short docs dedup as single partial blocks") {
    import spark.implicits._
    val docs = Seq((0L, "tiny doc"), (1L, "tiny doc"), (2L, "other short")).toDF("doc_id", "text")
    val out = SpanDedup.blockDedupRewrite(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out === Map(0L -> "tiny doc", 2L -> "other short"))
  }

  test("qd15 conserves blocks: kept + dropped = total, drops are exact dup count") {
    val docs = Tables.documents(spark, sf)
    val totalBlocks = docs
      .select(expr(s"cast(ceil(size(split(trim(text), '\\\\s+')) / ${SpanDedup.BlockTokens}.0) as long)").as("nb"))
      .agg(sum(col("nb"))).collect()(0).getLong(0)
    val kept = Registry.byName("qd15_block_dedup_rewrite").run(spark, sf)
      .agg(sum(col("kept_blocks"))).collect()(0).getLong(0)
    assert(kept <= totalBlocks)
    // every kept block's hash is unique corpus-wide after the rewrite
    val out = Registry.byName("qd15_block_dedup_rewrite").run(spark, sf)
    val rehashed = out
      .select(explode(expr(
        s"""transform(sequence(0, cast(ceil(size(split(clean_text, ' ')) / ${SpanDedup.BlockTokens}.0) as int) - 1),
           |  b -> md5(array_join(slice(split(clean_text, ' '), b * ${SpanDedup.BlockTokens} + 1, ${SpanDedup.BlockTokens}), ' ')))"""
          .stripMargin.replace("\n", " "))).as("h"))
    assert(rehashed.count() === rehashed.distinct().count(),
      "rewritten corpus still contains a duplicated block")
  }
}

class EmbeddingsSpec extends SparkSpec {
  import graft.ext.Embeddings

  test("int8 quantization round-trips within a half quantization step") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf).limit(50)
    val out = Embeddings.int8Quantize(e)
      .join(e, Seq("vec_id"))
      .collect()
    assert(out.length === 50)
    out.foreach { r =>
      val scale = r.getAs[Double]("qscale")
      val codes = r.getAs[String]("q_codes").split(",").map(_.toInt)
      val orig = r.getAs[scala.collection.Seq[Float]]("embedding")
      assert(codes.length === orig.length)
      assert(codes.max <= 127 && codes.min >= -127)
      // the max-|v| element must quantize to exactly ±127
      assert(codes.exists(c => math.abs(c) === 127))
      val step = scale / 127.0
      codes.zip(orig).foreach { case (c, v) =>
        assert(math.abs(c * step - v) <= step / 2 + 1e-9,
          s"dequant error beyond half step: code $c value $v scale $scale")
      }
    }
  }

  test("int8 quantization: zero vector yields zero scale and zero codes") {
    import spark.implicits._
    val e = Seq((0L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding")
    val r = Embeddings.int8Quantize(e).collect()(0)
    assert(r.getAs[Double]("qscale") === 0.0)
    assert(r.getAs[String]("q_codes").split(",").forall(_ == "0"))
  }

  test("binary codes: 16-bit range, occupancy counts are exact group sizes") {
    val out = Registry.byName("qe02_embedding_binary").run(spark, sf)
    val n = Tables.embeddings(spark, sf).count()
    assert(out.count() === n)
    assert(out.filter(col("code") < 0 || col("code") > 65535).count() === 0)
    // bucket_n re-derived from the output itself must agree row-for-row
    val recount = out.groupBy(col("code")).agg(count(lit(1)).as("n2"))
    assert(out.join(recount, Seq("code")).filter(col("bucket_n") =!= col("n2")).count() === 0)
    // occupancy sums to the corpus across distinct buckets
    val sumOcc = out.select(col("code"), col("bucket_n")).distinct()
      .agg(sum(col("bucket_n"))).collect()(0).getLong(0)
    assert(sumOcc === n)
  }
}

class TableProfileSpec extends SparkSpec {

  test("profile rows agree with directly-computed column stats") {
    val li = Tables.lineitem(spark, sf)
    val total = li.count()
    val prof = Registry.byName("q29_table_profile").run(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))).toMap
    assert(prof.size === 6)
    // no nulls in the driver corpus: every non-null count is the row count
    assert(prof.values.forall(_._1 == total))
    // distinct never exceeds rows; spot-check the low-cardinality flag
    assert(prof.values.forall(v => v._2 <= total))
    val direct = li.select(countDistinct(col("l_returnflag")),
      min(col("l_returnflag")), max(col("l_returnflag"))).collect()(0)
    assert(prof("l_returnflag") ===
      ((total, direct.getLong(0), direct.getString(1), direct.getString(2))))
  }
}

class VectorExprSpec extends SparkSpec {
  import graft.functions.{FloatVectorExpressions => FV}

  test("native FloatDoubleDot/DoubleDot equal the interpreted double folds") {
    import spark.implicits._
    // float embeddings x double means: the qd11/qc02 reassignment operands
    val e = Tables.embeddings(spark, sf).limit(100)
      .select(col("vec_id"), col("embedding"),
        expr("transform(embedding, x -> cast(x as double) * 1.0000001)").as("m"))
    val viaNative = e.select(col("vec_id"),
      FV.floatDoubleDot(col("embedding"), col("m")).as("fd"),
      FV.doubleDot(col("m"), col("m")).as("dd"),
      Vectors.fastCosineFD(col("embedding"), col("m")).as("fc"))
    val viaHof = e.select(col("vec_id"),
      Vectors.dot(col("embedding"), col("m")).as("fd2"),
      Vectors.dot(col("m"), col("m")).as("dd2"),
      Vectors.cosine(col("embedding"), col("m")).as("fc2"))
    val joined = viaNative.join(viaHof, "vec_id").collect()
    assert(joined.length === 100)
    joined.foreach { r =>
      // bit-identical, not approximately equal — the oracle-parity contract
      assert(r.getAs[Double]("fd") === r.getAs[Double]("fd2"))
      assert(r.getAs[Double]("dd") === r.getAs[Double]("dd2"))
      assert(r.getAs[Double]("fc") === r.getAs[Double]("fc2"))
    }
  }
}

class TextNormalizeSpec extends SparkSpec {
  import graft.ext.TextAnalysis

  test("normalization chain on planted dirty strings") {
    import spark.implicits._
    val dirty = Seq(
      (0L, "  Hello\tWORLD  \r"),
      (1L, "a\t\tb\r\rc"),
      (2L, "already clean"),
      (3L, "   ")).toDF("doc_id", "dirty")
    val out = TextAnalysis.normalizeText(dirty).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("clean_text")).toMap
    assert(out(0L) === "hello world")
    assert(out(1L) === "a b c")
    assert(out(2L) === "already clean")
    assert(out(3L) === "")
  }

  test("qt14 output is idempotent: re-normalizing changes nothing") {
    val once = Registry.byName("qt14_text_normalize").run(spark, sf)
      .select(col("doc_id"), col("clean_text").as("dirty"))
    val twice = TextAnalysis.normalizeText(once)
      .select(col("doc_id"), col("clean_text").as("clean2"))
    val joined = Registry.byName("qt14_text_normalize").run(spark, sf)
      .select(col("doc_id"), col("clean_text"))
      .join(twice, Seq("doc_id"))
    assert(joined.filter(col("clean_text") =!= col("clean2")).count() === 0)
  }
}

class BpeSpec extends SparkSpec {

  private def enc(c: org.apache.spark.sql.Column) =
    concat(lit(" "), rtrim(regexp_replace(c, "(.)", "$1  ")), lit(" "))

  test("greedy merge, frequency weighting, and overlap handling on a tiny vocab") {
    import spark.implicits._
    // "aaa"×3 contributes pair (a,a) weight 6 (two adjacencies); "ab"×5
    // contributes (a,b) weight 5 → merge 1 is (a,a). GREEDY application
    // turns "aaa" into [aa, a] (not [a, aa]), so iteration 2 sees
    // (aa,a)=3 vs (a,b)=5 → merge 2 is (a,b); merge 3 is (aa,a).
    val vocab = Seq((3L, "aaa"), (5L, "ab")).toDF("freq", "w")
      .select(col("freq"), enc(col("w")).as("enc"))
    assert(TextAnalysis.trainBpe(vocab, 3) ===
      Seq(("a", "a", 6L), ("a", "b", 5L), ("aa", "a", 3L)))
  }

  test("tie-break is lexicographic on the pair string") {
    import spark.implicits._
    val vocab = Seq((2L, "xz"), (2L, "xy")).toDF("freq", "w")
      .select(col("freq"), enc(col("w")).as("enc"))
    assert(TextAnalysis.trainBpe(vocab, 1) === Seq(("x", "y", 2L)))
  }

  test("driver-local trainer reproduces the distributed merge sequence exactly") {
    import spark.implicits._
    // the real corpus vocabulary at the gated depth: the hybrid's local
    // path (auto, vocab << LocalTrainMaxTypes) must emit the SAME rules,
    // counts, and order as the distributed fold loop it replaces
    val vocab = TextAnalysis.bpeVocab(spark, sf)
    val dist = TextAnalysis.trainBpe(vocab, 20, forceDistributed = true)
    val local = TextAnalysis.trainBpe(vocab, 20)
    assert(local === dist)
    // planted overlap corpus: runs of the merged pair ("a a a a") exercise
    // the non-overlapping left-to-right replace convention, where a
    // divergent scan-resume rule would change later pair counts
    val planted = Seq((6L, "aaaa"), (5L, "aab"), (2L, "ba"))
      .toDF("freq", "w").select(col("freq"), enc(col("w")).as("enc"))
    // depth 4 exhausts this vocab exactly (every word ends single-symbol)
    val dPlanted = TextAnalysis.trainBpe(planted, 4, forceDistributed = true)
    assert(TextAnalysis.trainBpe(planted, 4) === dPlanted)
    assert(dPlanted ===
      Seq(("a", "a", 23L), ("aa", "aa", 6L), ("aa", "b", 5L), ("b", "a", 2L)))
  }

  test("incremental local trainer is bit-identical to the full-recount reference") {
    // VERDICT r16 Next #1: trainBpeLocal is now the pair→words-index
    // incremental form; trainBpeLocalReference keeps the r16 full-recount
    // loop as the semantic pin. Same merges, counts, and order on the
    // real corpus vocabulary at a depth where re-formed pairs and
    // multi-occurrence words have both occurred.
    val vocab = TextAnalysis.bpeVocab(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val inc = TextAnalysis.trainBpeLocal(vocab, 64)
    assert(inc === TextAnalysis.trainBpeLocalReference(vocab, 64))
    // overlap-planted vocab: runs of the merged pair exercise the greedy
    // left-to-right mergePass against the reference's String.replace
    val planted = Array((6L, " a  a  a  a "), (5L, " a  a  b "), (2L, " b  a "))
    assert(TextAnalysis.trainBpeLocal(planted, 4)
      === TextAnalysis.trainBpeLocalReference(planted, 4))
  }

  test("batched distributed replay equals the local trainer on adversarial random vocabs") {
    import spark.implicits._
    // 2-letter alphabet, short words: maximal tie density, overlapping
    // runs, re-formed pairs, and name collisions (e.g. "ab" re-created
    // by a later (a,b) re-merge or by (a,b)/(ab,·) chains) — the exact
    // cases the top-K replay's stop rules must catch. Seeded LCG, high
    // bits: a power-of-two-modulus LCG's low bits have short periods.
    var x = 0x9E3779B97F4A7C15L
    def nxt(n: Int): Int = {
      x = x * 6364136223846793005L + 1442695040888963407L
      ((x >>> 33) % n).toInt
    }
    for (trial <- 1 to 3) {
      val words = (1 to 24).map { _ =>
        val w = (0 until (2 + nxt(5))).map(_ => "ab" (nxt(2))).mkString
        (1L + nxt(7), " " + w.map(c => s"$c ").mkString(" ").stripSuffix(" ") + " ")
      }.groupBy(_._2).map { case (e, g) => (g.map(_._1).sum, e) }.toSeq
      val vocab = words.toDF("freq", "enc")
      val depth = 6 + nxt(4)
      val local = TextAnalysis.trainBpeLocal(words.toArray, depth)
      val dist = TextAnalysis.trainBpe(vocab, depth, forceDistributed = true)
      assert(dist === local, s"trial $trial (depth $depth) diverged")
    }
  }

  test("tie-break is UTF-8 byte order in every trainer (supplementary plane)") {
    import spark.implicits._
    // ADVICE r16 #1: '｡' (halfwidth ideographic full stop) sorts
    // ABOVE U+10000 in UTF-16 code units (a surrogate pair starts at
    // 0xD800) but BELOW it in UTF-8 bytes (0xEF… < 0xF0…) — Spark's
    // orderBy compares UTF-8 bytes, so the tied first merge must pick
    // the '｡' pair in all three trainers.
    val hw = "｡"                       // U+FF61, UTF-8 EF BD A1
    val sp = new String(Character.toChars(0x10000)) // UTF-8 F0 90 80 80
    val rows = Array((2L, s" a  $hw "), (2L, s" a  $sp "))
    val expectFirst = ("a", hw, 2L)
    val local = TextAnalysis.trainBpeLocal(rows, 2)
    assert(local.head === expectFirst)
    assert(local === TextAnalysis.trainBpeLocalReference(rows, 2))
    val dist = TextAnalysis.trainBpe(
      rows.toSeq.toDF("freq", "enc"), 2, forceDistributed = true)
    assert(dist === local, "distributed and local tie-breaks diverge")
  }

  test("trains the gated depth (>= 20 merges) without plan blow-up") {
    // The r11 depth gate: 20 sequential merges over the real corpus vocab.
    // Each step must yield a fresh, nonzero-count rule (a stuck trainer
    // repeats or stalls); the localCheckpoint form keeps the plan O(1) per
    // step — the cache-nesting form OOM'd in explain-string rendering at
    // this depth before any result came back.
    val merges = TextAnalysis.bpeDefaultMerges(spark, sf)
    assert(merges.size >= 20)
    assert(merges.map(m => (m._1, m._2)).distinct.size === merges.size)
    assert(merges.forall(_._3 > 0L))
  }

  test("qt17 matches an independent JVM greedy BPE on sampled docs") {
    def applyMerge(syms: List[String], l: String, r: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer[String]()
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toList
    }
    val merges = Registry.byName("qt16_bpe_train").run(spark, sf)
      .orderBy("step").select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(merges.length === 20 && merges.distinct.length === 20)
    val rows = Registry.byName("qt17_bpe_apply").run(spark, sf)
      .withColumnRenamed("n_chars", "n_chars_bpe") // documents has n_chars too
      .join(Tables.documents(spark, sf), "doc_id")
      .select("text", "n_tokens", "n_chars_bpe", "n_bpe_tokens")
      .limit(40).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val toks = r.getString(0).trim.split("\\s+").filter(_.nonEmpty)
        .map(_.toLowerCase(java.util.Locale.ROOT))
      val expected = toks.map { t =>
        merges.foldLeft(t.map(_.toString).toList) {
          case (syms, (l, rr)) => applyMerge(syms, l, rr)
        }.length
      }.sum
      assert(r.getAs[Long]("n_tokens") === toks.length.toLong)
      assert(r.getAs[Long]("n_chars_bpe") === toks.map(_.length).sum.toLong)
      assert(r.getAs[Long]("n_bpe_tokens") === expected.toLong)
    }
  }
}

class AbTestSpec extends SparkSpec {

  test("q33: JVM full mirror of the pooled z-test over the corpus") {
    val row = Registry.byName("q33_ab_test").run(spark, sf).collect()(0)
    // mirror from the raw events with the identical op sequence
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val conv = ev.groupBy(t => (t._1, t._2)).toSeq
      .map { case ((u, _), rs) =>
        (u % 2, if (rs.exists(_._3 == "purchase")) 1L else 0L) }
    val (n0, c0) = (conv.count(_._1 == 0).toLong,
      conv.filter(_._1 == 0).map(_._2).sum)
    val (n1, c1) = (conv.count(_._1 == 1).toLong,
      conv.filter(_._1 == 1).map(_._2).sum)
    assert(row.getLong(0) === n0 && row.getLong(1) === c0)
    assert(row.getLong(2) === n1 && row.getLong(3) === c1)
    val z =
      if (c0 + c1 == 0 || c0 + c1 == n0 + n1) 0.0
      else {
        val pool = (c0 + c1).toDouble / (n0 + n1)
        (c0.toDouble / n0 - c1.toDouble / n1) /
          math.sqrt(pool * (1.0 - pool) * (1.0 / n0 + 1.0 / n1))
      }
    val zRounded = BigDecimal(z).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    assert(row.getDouble(4) === zRounded)
    assert(row.getBoolean(5) === (math.abs(zRounded) > 1.96))
    // the metric is non-degenerate on this corpus: rates strictly inside (0,1)
    assert(c0 > 0 && c0 < n0 && c1 > 0 && c1 < n1)
  }
}
