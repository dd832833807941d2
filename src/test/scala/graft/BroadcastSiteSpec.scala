package graft

import java.io.File

/** Broadcast-site census: every `broadcast(...)` hint in src/main is a
  * 100 TB plan decision. A hint bypasses `autoBroadcastJoinThreshold`
  * entirely, so a hint on a frame that grows with the corpus/SF is a
  * deferred driver OOM (the round-4 qd04 static-broadcast lesson; VERDICT
  * r12 finding #1 caught five such sites). This lint enumerates every
  * call site in the source tree and requires each to be classified
  * BOUNDED-BY-CONSTRUCTION in the manifest below, with the construction
  * that bounds it. Adding a new `broadcast(df)` anywhere fails this suite
  * until the site is justified here; a frame whose size scales with the
  * data must be left UNHINTED instead (AQE broadcasts it while it fits
  * and falls back to a shuffle join when it doesn't — the q03/q04/qysb02/
  * qst02/qst25 treatment).
  */
class BroadcastSiteSpec extends SiteLint {

  /** (file, trimmed line) -> (expected occurrences, boundedness proof). */
  private val manifest: Map[(String, String), (Int, String)] = Map(
    // ----- streaming -----
    ("streaming/StreamingQueries.scala", ".join(broadcast(bad),") ->
      (1, "qst10 poisoned-bucket frame: bounded by the chunk keyspace (<= 4*2^12 rows), not the corpus"),
    ("streaming/StreamingQueries.scala", """.join(broadcast(b), Seq("event_type"))""") ->
      (1, "qst27 per-event-type quantile frame: <= |event types| rows (enum-bounded)"),
    // ----- sinks -----
    ("sinks/Layout.scala", "df.crossJoin(broadcast(stats))") ->
      (1, "1-row global min/max bounds frame for Z-order ranking"),
    // ----- windows -----
    ("operators/Windows.scala", ".crossJoin(broadcast(bounds))") ->
      (1, "qw13 1-row global [lo,hi] hour-bounds frame"),
    ("operators/Windows.scala", """.join(broadcast(k), Seq("event_type")) // ≤ |types| rows by construction""") ->
      (1, "per-event-type frame: <= |event types| rows (enum-bounded)"),
    // ----- relational -----
    ("operators/Relational.scala", """.join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))""") ->
      (1, "TPC-H nation is CONSTANT at 25 rows for every scale factor"),
    ("operators/Relational.scala", """.join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))""") ->
      (1, "TPC-H region is CONSTANT at 5 rows for every scale factor"),
    ("operators/Relational.scala", ".crossJoin(broadcast(li.agg(dAggs.head, dAggs.tail: _*)))") ->
      (2, "1-row global-aggregate metric frame (q29/q29b two-pass profile)"),
    ("operators/Relational.scala", """val ins = base.filter(col("o_orderkey") % 11 === 0).crossJoin(broadcast(maxk))""") ->
      (1, "1-row max-key frame (q30 merge-apply)"),
    // ----- sampling / mixture plans: one row per SOURCE LABEL (a config-
    // scale enum of data sources, tens at 100 TB), never per document -----
    ("operators/Scale.scala", "perSource.crossJoin(broadcast(wsum))") ->
      (1, "1-row weight-sum frame (qx04)"),
    ("operators/Scale.scala", "val weighted = per.crossJoin(broadcast(tot))") ->
      (2, "1-row corpus-total frame (qx07/qx09)"),
    ("operators/Scale.scala", "weighted.crossJoin(broadcast(ws))") ->
      (1, "1-row weight-sum frame (qx07)"),
    ("operators/Scale.scala", "val plan = weighted.crossJoin(broadcast(ws))") ->
      (1, "1-row weight-sum frame (qx09)"),
    ("operators/Scale.scala", """base.join(broadcast(plan), Seq("source"))""") ->
      (1, "qx09 epoch plan: one row per source label (config-scale enum)"),
    ("operators/Scale.scala", ".crossJoin(broadcast(tot))") ->
      (1, "1-row total-weight frame (qx15)"),
    // ----- similarity / ANN: query sets are FIXED-SIZE probe workloads
    // (vec_id < 10), centroid sets are FIXED K (md5-sampled, not
    // corpus-proportional), candidate frames are |queries| * C rows -----
    ("ext/Similarity.scala", "corpus.crossJoin(broadcast(queries))") ->
      (1, "fixed 10-query probe set (qs01 brute baseline)"),
    ("ext/Similarity.scala", """corpus.join(broadcast(queries), Seq("bucket"))""") ->
      (1, "fixed 10-query probe set, LSH-bucketed (qs02)"),
    ("ext/Similarity.scala", "v.crossJoin(broadcast(cents))") ->
      (1, "fixed-K centroid frame (K=16, md5-sampled - corpus-independent)"),
    ("ext/Similarity.scala", "val cands = corp.crossJoin(broadcast(q))") ->
      (1, "fixed query-code frame (qs04 coarse pass, 10 rows)"),
    ("ext/Similarity.scala", """.join(broadcast(cands.join(broadcast(qEmb), Seq("q_id"))), Seq("n_id"))""") ->
      (2, "rerank attach (qs04/qs05): |queries| * C candidate rows joined to 10 query embeddings"),
    ("ext/Similarity.scala", """.join(broadcast(queryCells), Seq("q_id"))""") ->
      (1, "query->probed-cell map: |queries| * nprobe rows (qs05)"),
    ("ext/Similarity.scala", """val cands = corpQ.join(broadcast(qQ), Seq("c_id"))""") ->
      (1, "fixed query-code frame restricted to probed cells (qs05)"),
    ("ext/Similarity.scala", "val cands = corpus.crossJoin(broadcast(queries))") ->
      (1, "fixed query set (qs06 MMR candidate pass)"),
    ("ext/Similarity.scala", """rem.join(broadcast(selected.select(col("q_id"), col("s_emb"))), Seq("q_id"))""") ->
      (1, "MMR selected set (qs06): |queries| * (t - 1) rows, t <= 3 selection rounds"),
    ("ext/Similarity.scala", """corpus.join(broadcast(queries), Seq("label", "bucket"))""") ->
      (1, "fixed query set, label+bucket keyed (qs11 filtered ANN)"),
    ("ext/Similarity.scala", """index.join(broadcast(queryCells), Seq("c_id"))""") ->
      (1, "query->probed-cell map (qs12 DPP driver, |queries| * nprobe rows)"),
    ("ext/Similarity.scala", "val dense = corp.crossJoin(broadcast(q))") ->
      (1, "fixed query frame (qs10 dense leg)"),
    ("ext/Similarity.scala", "val coarse = qc.crossJoin(broadcast(qq))") ->
      (1, "fixed query-code frame (qs10 coarse leg)"),
    // ----- clustering / training: K and NumFeat are constants -----
    ("ext/Clustering.scala", ".crossJoin(broadcast(cents))") ->
      (1, "fixed-K centroid frame (qc01 assignment)"),
    ("ext/Clustering.scala", ".crossJoin(broadcast(cents1))") ->
      (2, "fixed-K refined centroid frames (qc02 iterations)"),
    ("ext/Clustering.scala", ".crossJoin(broadcast(tot))") ->
      (1, "1-row n_docs/accuracy frame (qc03)"),
    ("ext/Clustering.scala", """val err = feats.join(broadcast(wDF), Seq("j"))""") ->
      (1, "weight vector: NumFeat rows (model-size constant, qc04)"),
    // ----- text analysis: 1-row stats frames, dictCap-bounded dictionaries,
    // fixed eval ranges and query sets -----
    ("ext/TextAnalysis.scala", ".crossJoin(broadcast(nFrame))") ->
      (1, "1-row corpus-N frame (qt06 IDF)"),
    ("ext/TextAnalysis.scala", ".crossJoin(broadcast(total))") ->
      (3, "1-row corpus-total frames (qt07/qt08/qt20)"),
    ("ext/TextAnalysis.scala", """.join(broadcast(topV), Seq("token"), "left") // ≤ dictCap rows, bounded""") ->
      (1, "dictionary capped at dictCap rows by construction (qt08)"),
    ("ext/TextAnalysis.scala", """.join(broadcast(evalGrams), Seq("g"), "left")""") ->
      (1, "qt10/qst11 eval-gram set from a FIXED doc-id range (doc_id < 32, pushed to the scan) - corpus-independent"),
    ("ext/TextAnalysis.scala", """.join(broadcast(topB), Seq("w1", "w2"), "left")""") ->
      (1, "bigram dictionary capped at dictCap rows (qt20)"),
    ("ext/TextAnalysis.scala", """.join(broadcast(topU), Seq("w2"), "left")""") ->
      (1, "unigram dictionary capped at dictCap rows (qt20)"),
    ("ext/TextAnalysis.scala", """val matched = tf.join(broadcast(qterms), Seq("token"))""") ->
      (1, "fixed query-term set (qt23 BM25, <= 3 queries * terms)"),
    ("ext/TextAnalysis.scala", """.join(broadcast(dfq), Seq("token"))""") ->
      (1, "per-query-term df frame: <= |qterms| rows (qt23)"),
    ("ext/TextAnalysis.scala", ".crossJoin(broadcast(stats))") ->
      (2, "1-row (n_docs, avgdl) stats frames (qt23/qt23b)"),
    ("ext/TextAnalysis.scala", """val dfq = tf.join(broadcast(qterms), Seq("token"))""") ->
      (1, "fixed query-term set (qt23b variant)"),
    ("ext/TextAnalysis.scala", """qterms.join(broadcast(dfq), Seq("token"))""") ->
      (1, "per-query-term df frame: <= |qterms| rows (qt23b)"),
    ("ext/TextAnalysis.scala", ".crossJoin(broadcast(queryTable)) // ≤ 3 rows by construction") ->
      (1, "fixed 3-row query table"),
    // ----- embeddings / PQ: same fixed-K / fixed-query / code-space rules -----
    ("ext/Embeddings.scala", """codes.join(broadcast(occ), Seq("code"))""") ->
      (1, "occupancy frame bounded by the 2^16 CODE SPACE, not the corpus (qe02)"),
    ("ext/Embeddings.scala", "corpus.crossJoin(broadcast(queries))") ->
      (1, "fixed 10-query probe set (qs07 ADC)"),
    ("ext/Embeddings.scala", """val cands = corpus.join(broadcast(queryCells), Seq("c_id"))""") ->
      (1, "query->probed-cell map: |queries| * nprobe rows (qs08)"),
    ("ext/Embeddings.scala", """.join(broadcast(cands.join(broadcast(qEmb), Seq("q_id"))), Seq("n_id"))""") ->
      (1, "rerank attach: |queries| * C candidates joined to 10 query embeddings (qs08)"),
    ("ext/Embeddings.scala", """.join(broadcast(cents), Seq("c_id"))""") ->
      (2, "fixed-K centroid frames (qs09/qe05 residual attach)"),
    ("ext/Embeddings.scala", """codes.join(broadcast(qCells), Seq("c_id"))""") ->
      (1, "query->probed-cell map (qs09 serve)"))

  test("every broadcast() hint in src/main is classified bounded-by-construction") {
    assertClassified(scan(Seq(root))(_.contains("broadcast(")), manifest,
      "broadcast()", "add to the manifest with a boundedness proof, or " +
        "remove the hint and let AQE decide")
  }

  // The five sites VERDICT r12 flagged as SF-proportional pinned broadcasts
  // must stay unhinted: q03 part, q04 customer, qysb02/qst02 distinct-user
  // dims, qst25 supplier-versions. Their absence from the census above
  // already enforces this; the explicit probes below document WHICH lines
  // regressed if one comes back.
  for ((file, fragment) <- Seq(
      ("operators/Relational.scala", "broadcast(Tables.part"),
      ("operators/Relational.scala", "broadcast(Tables.customer"),
      ("ysb/Ysb.scala", "join(broadcast(dim)"),
      ("streaming/StreamingQueries.scala", "join(broadcast(dim)"),
      ("streaming/StreamingQueries.scala", "broadcast(versions)"))) {
    test(s"no pinned broadcast of an SF-proportional frame: $fragment in $file") {
      val src = scala.io.Source.fromFile(new File(root, file), "UTF-8")
      val hit = try src.getLines().map(_.trim)
        .exists(l => l.contains(fragment) && !l.startsWith("//") && !l.startsWith("*"))
      finally src.close()
      assert(!hit, s"$fragment reappeared in $file - this frame grows with " +
        "the scale factor; leave the join unhinted (AQE decides)")
    }
  }
}
