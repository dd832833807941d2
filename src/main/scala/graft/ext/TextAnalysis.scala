package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

import graft.Q
import graft.sources.Tables

/** Text-analysis operators for training-data pipelines over `documents`:
  * token counting (whitespace + BPE-ish regex), quality scoring, n-gram
  * language ID, and content fingerprinting.
  *
  * All pure Catalyst expressions (regex + higher-order array functions) —
  * one codegen'd projection per document, no shuffle except the final
  * aggregations. Regex patterns are restricted to the ASCII/character-class
  * subset that Java regex (Spark) and RE2 (DuckDB) interpret identically.
  */
object TextAnalysis {

  private val toksExpr = "split(trim(text), '\\\\s+')"
  private val bpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]" // letters | digits | single symbol
  private val stopPattern = "\\b(?:the|a|of|and|to|in|is|that|for|on)\\b"

  // ---------------------------------------------------------------------
  // qt01: token counting — whitespace tokens, BPE-ish subword tokens,
  // char length, mean token length.
  // ---------------------------------------------------------------------
  private def qt01(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", expr(toksExpr))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(regexp_extract_all(lower(col("text")), lit(bpePattern), lit(0)))
          .as("n_bpe_tokens"),
        length(col("text")).as("n_chars_text"),
        (expr("aggregate(transform(toks, t -> length(t)), 0, (a, b) -> a + b)")
          .cast("double") / size(col("toks"))).as("mean_token_len"))

  private val qt01Sql =
    s"""SELECT doc_id,
       |  len(toks) AS n_tokens,
       |  len(regexp_extract_all(lower(text), '$bpePattern')) AS n_bpe_tokens,
       |  length(text) AS n_chars_text,
       |  CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS mean_token_len
       |FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks
       |      FROM documents)""".stripMargin

  // ---------------------------------------------------------------------
  // qt02: quality scoring — stopword ratio, punctuation density, length
  // band; combined score with a fixed, identically-parenthesized formula.
  // ---------------------------------------------------------------------
  private def qt02(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("n_toks", size(expr(toksExpr)))
      .withColumn("n_stop",
        size(regexp_extract_all(lower(col("text")), lit(stopPattern), lit(0))))
      .withColumn("n_punct",
        size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9\\s]"), lit(0))))
      .select(
        col("doc_id"),
        (col("n_stop").cast("double") / col("n_toks")).as("stop_ratio"),
        (col("n_punct").cast("double") / length(col("text"))).as("punct_ratio"),
        expr("""((0.5 * (cast(n_stop as double) / n_toks))
               | + (0.3 * (1.0 - (cast(n_punct as double) / length(text)))))
               | + (0.2 * (CASE WHEN n_toks BETWEEN 50 AND 1000 THEN 1.0 ELSE 0.0 END))"""
          .stripMargin.replace("\n", " ")).as("quality_score"))

  private val qt02Sql =
    s"""SELECT doc_id,
       |  CAST(n_stop AS DOUBLE) / n_toks AS stop_ratio,
       |  CAST(n_punct AS DOUBLE) / length(text) AS punct_ratio,
       |  ((0.5 * (CAST(n_stop AS DOUBLE) / n_toks))
       |   + (0.3 * (1.0 - (CAST(n_punct AS DOUBLE) / length(text)))))
       |   + (0.2 * (CASE WHEN n_toks BETWEEN 50 AND 1000 THEN 1.0 ELSE 0.0 END)) AS quality_score
       |FROM (SELECT doc_id, text,
       |        len(regexp_split_to_array(trim(text), '\\s+')) AS n_toks,
       |        len(regexp_extract_all(lower(text), '$stopPattern')) AS n_stop,
       |        len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct
       |      FROM documents)""".stripMargin

  // ---------------------------------------------------------------------
  // qt03: language ID — marker-character/word counts per language with a
  // fixed-precedence argmax. (An n-gram frequency heuristic; the synthetic
  // corpus is ASCII so predictions skew 'en' — the oracle checks the
  // heuristic itself, not corpus ground truth.)
  // ---------------------------------------------------------------------
  private val cjkPattern = "[一-鿿]"
  private val dePattern = "[äöüß]|\\b(?:der|die|das|und|ist|nicht)\\b"
  private val frPattern = "[àâçèêëîôùû]|\\b(?:le|les|est|une|et|dans)\\b"
  private val esPattern = "[áíóúñ¿¡]|\\b(?:el|los|las|que|una|por)\\b"

  private def qt03(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("n_cjk", size(regexp_extract_all(col("text"), lit(cjkPattern), lit(0))))
      .withColumn("n_de", size(regexp_extract_all(lower(col("text")), lit(dePattern), lit(0))))
      .withColumn("n_fr", size(regexp_extract_all(lower(col("text")), lit(frPattern), lit(0))))
      .withColumn("n_es", size(regexp_extract_all(lower(col("text")), lit(esPattern), lit(0))))
      .select(col("doc_id"), col("lang"), col("n_cjk"), col("n_de"), col("n_fr"), col("n_es"),
        expr("""CASE WHEN n_cjk > 0 THEN 'zh'
               |     WHEN n_de > n_fr AND n_de > n_es AND n_de > 0 THEN 'de'
               |     WHEN n_fr > n_es AND n_fr > 0 THEN 'fr'
               |     WHEN n_es > 0 THEN 'es'
               |     ELSE 'en' END""".stripMargin.replace("\n", " ")).as("pred_lang"))

  private val qt03Sql =
    s"""SELECT doc_id, lang, n_cjk, n_de, n_fr, n_es,
       |  CASE WHEN n_cjk > 0 THEN 'zh'
       |       WHEN n_de > n_fr AND n_de > n_es AND n_de > 0 THEN 'de'
       |       WHEN n_fr > n_es AND n_fr > 0 THEN 'fr'
       |       WHEN n_es > 0 THEN 'es'
       |       ELSE 'en' END AS pred_lang
       |FROM (SELECT doc_id, lang,
       |        len(regexp_extract_all(text, '$cjkPattern')) AS n_cjk,
       |        len(regexp_extract_all(lower(text), '$dePattern')) AS n_de,
       |        len(regexp_extract_all(lower(text), '$frPattern')) AS n_fr,
       |        len(regexp_extract_all(lower(text), '$esPattern')) AS n_es
       |      FROM documents)""".stripMargin

  // ---------------------------------------------------------------------
  // qt04: document fingerprinting — md5 over whitespace/punctuation-
  // normalized text (near-exact dedup key). The normalizer is the
  // codegen'd AsciiNormalize (single byte-wise pass — the round-9 qd17
  // profile measured the regex chain at ~15 ms/doc, the whole operator
  // cost at soak tiers); the oracle keeps the regex formulation, and
  // TextNormSpec pins their equality, so this gate doubles as the
  // cross-engine check of the fast path.
  // ---------------------------------------------------------------------
  private def qt04(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("norm", graft.functions.TextNorm.asciiNormalize(col("text")))
      .select(col("doc_id"), md5(col("norm")).as("fingerprint"),
        substring(md5(col("norm")), 1, 8).as("fp_prefix"))

  private val qt04Sql =
    """SELECT doc_id, md5(norm) AS fingerprint, substr(md5(norm), 1, 8) AS fp_prefix
      |FROM (SELECT doc_id,
      |        trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS norm
      |      FROM documents)""".stripMargin

  // ---------------------------------------------------------------------
  // qt05: corpus word frequency — top 20 tokens (explode → count → top-k
  // with deterministic tie-break).
  // ---------------------------------------------------------------------
  private def qt05(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(expr(toksExpr)).as("token"))
      .groupBy(lower(col("token")).as("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(20)

  private val qt05Sql =
    """SELECT lower(token) AS token, count(*) AS n
      |FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      |      FROM documents)
      |GROUP BY lower(token)
      |ORDER BY n DESC, token ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // qt15: BPE-iteration pair statistics — the counting pass of one
  // tokenizer-training merge step (count adjacent-token pair frequencies;
  // the argmax pair becomes the next merge rule). Explode to fixed-width
  // pair keys → one partial-agg groupBy → TakeOrdered top-50 with a
  // deterministic (n DESC, pair ASC) total order — linear in corpus
  // tokens, no full sort anywhere (orderBy+limit plans as TakeOrdered).
  // ---------------------------------------------------------------------
  private def qt15(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(expr(s"transform($toksExpr, t -> lower(t))").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
        .as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(50)

  private val qt15Sql =
    """WITH toks AS (
      |  SELECT list_transform(regexp_split_to_array(trim(text), '\s+'),
      |                        t -> lower(t)) AS toks
      |  FROM documents),
      |pairs AS (
      |  SELECT unnest(list_transform(range(1, len(toks)),
      |                               i -> toks[i] || ' ' || toks[i + 1])) AS pair
      |  FROM toks WHERE len(toks) >= 2)
      |SELECT pair, count(*) AS n FROM pairs
      |GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 50""".stripMargin

  // ---------------------------------------------------------------------
  // qt16/qt17: BPE tokenizer — TRAIN (iterated merge learning) and APPLY
  // (encode documents with the learned vocabulary). qt15 gated one merge
  // step's counting pass; these close the loop into a real tokenizer.
  //
  // Representation: a word is a space-bracketed symbol string with
  // DOUBLE-space delimiters — "hello" ⇒ " h  e  l  l  o " (every symbol
  // carries its own one-space brackets). That makes one merge step a
  // plain `replace(enc, ' a  b ', ' ab ')`: string replace scans
  // left-to-right non-overlapping in BOTH engines (UTF8String.replace,
  // DuckDB replace), which is exactly greedy BPE application — and the
  // per-symbol brackets mean adjacent matches never share a delimiter
  // char ("a a a" + merge(a,a) ⇒ [aa, a], the Sennrich reference
  // behavior), so Spark and the oracle agree symbol-for-symbol.
  //
  // Train (qt16): the classic hard-to-parallelize loop, treated like
  // qc02's k-means — vocabulary stays DISTRIBUTED (word TYPES weighted
  // by frequency, so pair counting is map-side-combined over the vocab,
  // not the corpus); each iteration is one groupBy(pair).sum(freq) and
  // the driver collects only the single argmax row (n DESC, pair ASC
  // deterministic tie-break) before folding the merge into `enc`. At
  // 100 TB the vocab is Heaps-law sublinear in the corpus and each extra
  // merge costs one small shuffle; only N scalar rows ever reach the
  // driver. Apply (qt17) is a corpus-linear codegen'd projection: encode
  // each token and fold the N trained merges as chained replaces IN
  // ORDER, then one shuffle for the per-doc aggregate. This also
  // upgrades the whitespace-token stand-in feeding the mix/packing
  // budgets (qx04/qx05/qx07/qx09) into real tokenizer counts.
  // Reference capability analogue: the A2 incremental-fold family
  // (flink/YahooBenchmark.scala:229-242) — iterated stateful agg.
  // ---------------------------------------------------------------------
  private val BpeIters = 20

  /** " h  e  l  l  o " — bracketed symbols, double-space delimited. */
  private def bpeEnc(w: Column): Column =
    concat(lit(" "), rtrim(regexp_replace(w, "(.)", "$1  ")), lit(" "))

  /** Training vocabulary: lowercase alphabetic word types with counts. */
  private[graft] def bpeVocab(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(expr(toksExpr)).as("w0"))
      .select(lower(col("w0")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("freq"), bpeEnc(col("w")).as("enc"))

  /** N merge rules (lhs, rhs, weighted pair count at selection time) from
    * a (freq, enc) vocabulary. Exposed for the spec.
    *
    * Each iteration CHECKPOINTS the merged vocabulary (eager, to disk —
    * plan truncated to the materialized RDD), so
    * iteration i's plan is always "one replace over a materialized
    * table". Without this, `cur`'s lineage grows by one replace per
    * merge: iteration i re-applies all i−1 prior merges (O(n²) replace
    * work), and nesting cache() instead leaves an InMemoryRelation chain
    * whose PLAN STRING grows superlinearly — at depth 20 the AQE
    * explain-string rendering alone OOMs the driver (measured, round
    * 11). Checkpointing keeps plan size O(1) in i, so cost per merge is
    * one pair-count shuffle + one O(vocab) replace — flat in i (measured
    * at 30×: see BASELINE.md BPE row) and depth is bounded by wall-clock
    * budget, not plan growth. Driver-loop bound (measured at depth 512,
    * BPE_CURVE_r16.json): each merge is one limit(1).collect() argmax
    * job with a ~0.13 s fixed floor — corpus-independent, so 30k
    * production merges ≈ 65 min of job overhead; if that ever binds,
    * batch by materializing the top-K pair counts per round and
    * replaying the argmax driver-locally until a merge invalidates a
    * top-K entry. The
    * superseded snapshot's blocks are dropped by the ContextCleaner once
    * unreferenced. */
  /** Word-type row bound under which [[trainBpe]] collects the vocabulary
    * and trains DRIVER-LOCALLY. BPE training cost is driven by the
    * word-TYPE table (Heaps-law sublinear in the corpus), so after the
    * one distributed vocab-count pass the whole merge loop fits the
    * driver for any realistic corpus — the shape every production BPE
    * trainer uses, and the batching answer to the ~0.13 s/merge driver
    * round-trip floor the distributed loop pays (BPE_CURVE_r16.json: 512
    * merges = 94.8 s distributed; the local loop runs the same merges in
    * well under a second). Above the bound the distributed fold loop
    * still applies, so the operator never assumes the vocab fits. */
  private[graft] val LocalTrainMaxTypes: Long = 2000000L

  /** UTF-8 binary comparison — the ordering Spark's `orderBy(pair asc)`
    * actually applies (UTF8String compares encoded bytes unsigned). Java
    * `String` comparison is UTF-16 code-unit order; the two diverge for
    * supplementary-plane symbols (ADVICE r16 #1), so every local
    * tie-break goes through this, never `<` on `String`. */
  private def utf8Less(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  /** One greedy merge pass over a symbol array — the array form of
    * `enc.replace(" l  r ", " l+r ")`: left-to-right, non-overlapping,
    * scan resumes AFTER each replacement (a merged symbol is never
    * re-examined as the left element within the same pass). */
  private def mergePass(syms: Array[String], l: String, r: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var j = 0
    while (j < syms.length) {
      if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == r) {
        out += l + r; j += 2
      } else { out += syms(j); j += 1 }
    }
    out.toArray
  }

  /** The pre-r17 driver-local loop: a full pair recount every merge —
    * O(types × merges), the bound VERDICT r16 flagged (stated in the
    * scaladoc, unpaid at production depth). Kept as the SPEC REFERENCE
    * the incremental trainer is pinned bit-identical against; production
    * code calls [[trainBpeLocal]]. */
  private[graft] def trainBpeLocalReference(rows: Array[(Long, String)], n: Int)
      : Seq[(String, String, Long)] = {
    var cur = rows
    val merges = Seq.newBuilder[(String, String, Long)]
    for (i <- 1 to n) {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      cur.foreach { case (freq, e) =>
        val syms = e.trim.split("  ")
        var j = 0
        while (j < syms.length - 1) {
          val p = syms(j) + " " + syms(j + 1)
          counts.update(p, counts.getOrElse(p, 0L) + freq)
          j += 1
        }
      }
      // argmax by (count desc, pair asc in UTF-8 byte order) — the
      // distributed orderBy; order-independent, so HashMap iteration
      // order cannot leak into the result
      val (pair, c) = counts.foldLeft(("", Long.MinValue)) { (best, kv) =>
        if (kv._2 > best._2 || (kv._2 == best._2 && utf8Less(kv._1, best._1))) kv
        else best
      }
      require(c != Long.MinValue, s"vocabulary exhausted at merge $i")
      val Array(l, r) = pair.split(' ')
      merges += ((l, r, c))
      if (i < n) // the last fold is never read (mirrors the oracle CTEs)
        cur = cur.map { case (f, e) => (f, e.replace(s" $l  $r ", s" $l$r ")) }
    }
    merges.result()
  }

  /** Driver-local BPE merge loop over a collected (freq, enc) vocabulary —
    * the classic INCREMENTAL trainer (VERDICT r16 Next #1). Semantics are
    * BIT-IDENTICAL to the distributed fold (spec-pinned by exact
    * merge-sequence equality against both the distributed loop and
    * [[trainBpeLocalReference]], including the greedy left-to-right
    * replace convention and the (count desc, pair asc) tie-break in
    * UTF-8 byte order — the ordering UTF8String applies).
    *
    * Cost shape: one full pair count at init, then per merge only the
    * words CONTAINING the merged pair are recounted (pair→word inverted
    * index), with the argmax served by a lazy-deletion max-heap — stale
    * entries are discarded on pop by checking against the live count.
    * Per-merge work is O(touched words × word length + heap churn), not
    * O(types): at the scaladoc's production scenario (2M types × 30k
    * merges) the reference loop is hundreds of billions of pair
    * increments, this is minutes (BPE_CURVE_r17: planted 100k types at
    * depth 2048 — per-merge cost tracks touched words).
    *
    * A pair's count can legitimately RE-FORM after being merged away
    * (later merges can recreate the adjacency); the count map handles
    * that as a plain re-increment, and zero counts are REMOVED so the
    * exhaustion check and the argmax never see phantom pairs. */
  private[graft] def trainBpeLocal(rows: Array[(Long, String)], n: Int)
      : Seq[(String, String, Long)] = {
    import scala.collection.mutable
    val freqs = rows.map(_._1)
    val words: Array[Array[String]] = rows.map(_._2.trim.split("  "))
    val counts = mutable.HashMap.empty[String, Long]
    val index = mutable.HashMap.empty[String, mutable.Set[Int]]
    // heap of (count, pairKey, utf8 bytes) with lazy deletion: count desc,
    // key asc in UTF-8 byte order — exactly the distributed orderBy
    val heap = new java.util.PriorityQueue[(Long, String, Array[Byte])](
      math.max(16, rows.length),
      (x: (Long, String, Array[Byte]), y: (Long, String, Array[Byte])) => {
        val byCount = java.lang.Long.compare(y._1, x._1)
        if (byCount != 0) byCount
        else java.util.Arrays.compareUnsigned(x._3, y._3)
      })
    def push(key: String, c: Long): Unit = {
      heap.add((c, key, key.getBytes(java.nio.charset.StandardCharsets.UTF_8))): Unit
    }
    def pairsOf(syms: Array[String]): Array[String] = {
      val out = new Array[String](math.max(0, syms.length - 1))
      var j = 0
      while (j < syms.length - 1) { out(j) = syms(j) + " " + syms(j + 1); j += 1 }
      out
    }
    var i = 0
    while (i < words.length) {
      val f = freqs(i)
      pairsOf(words(i)).foreach { p =>
        counts.update(p, counts.getOrElse(p, 0L) + f)
        index.getOrElseUpdate(p, mutable.Set.empty[Int]) += i
      }
      i += 1
    }
    counts.foreach { case (k, c) => push(k, c) }
    val merges = Seq.newBuilder[(String, String, Long)]
    for (step <- 1 to n) {
      // pop until the top entry matches the live count (lazy deletion);
      // every live count has a heap entry (pushed at init or on update)
      var top: (Long, String, Array[Byte]) = null
      var valid = false
      while (!valid) {
        top = heap.poll()
        require(top != null, s"vocabulary exhausted at merge $step")
        valid = counts.get(top._2).contains(top._1)
      }
      val pair = top._2
      val c = top._1
      val Array(l, r) = pair.split(' ')
      merges += ((l, r, c))
      if (step < n) { // the last fold is never read (mirrors the oracle CTEs)
        val touched = index.getOrElse(pair, mutable.Set.empty[Int]).toArray
        val changed = mutable.Set.empty[String]
        touched.foreach { w =>
          val f = freqs(w)
          val oldPairs = pairsOf(words(w))
          words(w) = mergePass(words(w), l, r)
          val newPairs = pairsOf(words(w))
          oldPairs.foreach { p =>
            counts.update(p, counts.getOrElse(p, 0L) - f); changed += p
          }
          newPairs.foreach { p =>
            counts.update(p, counts.getOrElse(p, 0L) + f); changed += p
          }
          // index maintenance on SET membership (multiplicity lives in
          // counts): drop pairs this word no longer contains, add new ones
          val oldSet = oldPairs.toSet
          val newSet = newPairs.toSet
          (oldSet diff newSet).foreach { p =>
            index.get(p).foreach { s => s -= w; if (s.isEmpty) index.remove(p): Unit }
          }
          (newSet diff oldSet).foreach { p =>
            index.getOrElseUpdate(p, mutable.Set.empty[Int]) += w
          }
        }
        changed.foreach { p =>
          val cNow = counts.getOrElse(p, 0L)
          if (cNow <= 0L) counts.remove(p): Unit else push(p, cNow)
        }
      }
    }
    merges.result()
  }

  /** Top-K rows materialized per distributed round (VERDICT r16 Next #5):
    * each round-trip pays the same ~0.13 s job floor whether it returns 1
    * row or K, so the argmax is replayed driver-locally from the K-list
    * until a merge could have invalidated the next entry. */
  private[graft] val DistTrainBatchK: Int = 128

  private[graft] def trainBpe(vocab: DataFrame, n: Int,
      forceDistributed: Boolean = false): Seq[(String, String, Long)] = {
    // hybrid dispatch: one distributed count decides; the collect below
    // is GUARDED by that count (CollectSiteSpec entry), so the local path
    // never assumes boundedness it didn't check
    if (!forceDistributed && vocab.count() <= LocalTrainMaxTypes) {
      val rows = vocab.select(col("freq"), col("enc")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      return trainBpeLocal(rows, n)
    }
    val pairsOf =
      "transform(sequence(1, size(syms) - 1), " +
        "i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1)))"
    // The fold-chain frame is one row per WORD TYPE carrying the full
    // encoded form — Heap's-law sublinear in the corpus but still
    // hundreds of millions of rows at 100 TB, so it is checkpointed to
    // disk like a corpus-sized frame.
    //
    // BATCHED ARGMAX REPLAY (VERDICT r16 Next #5): each round collects
    // the top-K pair counts, then accepts entries off the sorted list
    // driver-locally while they are PROVABLY still the argmax. After
    // accepting merge (l, r) → lr with count c:
    //  - counts of pairs (·, l) and (r, ·) only DECREASE; any remaining
    //    list entry with second element l or first element r is stale →
    //    stop (its true count is unknown, it might still be the argmax).
    //  - NEW pairs (x, lr) / (lr, y) appear, each bounded by the count of
    //    its source pair (x, l) / (r, y): by that stored count when the
    //    source is in the list, else by the unseen-pair bound (the K-th
    //    count — anything outside the list is ≤ it). The running `bound`
    //    folds that in; the next entry is accepted only if its count is
    //    STRICTLY above the bound (a tie could lose the pair-asc
    //    tie-break to an unseen pair).
    //  - if lr collides with an ALREADY-EXISTING symbol name (a merged
    //    pair whose adjacency re-formed and was re-accepted), existing
    //    pairs involving lr can INCREASE (by ≤ c per pair) — rare; the
    //    round is simply ended there.
    // Replays stop conservatively, never speculatively: every accepted
    // merge is bit-identical to the limit(1)-per-merge loop (spec-pinned
    // against the local trainer on real + planted vocab; the checked-in
    // BPE_CURVE artifacts record the same equality at depth 512).
    var cur = vocab.localCheckpoint(true, StorageLevel.DISK_ONLY)
    val merges = Seq.newBuilder[(String, String, Long)]
    val seenSymbols = scala.collection.mutable.Set.empty[String]
    // The collision rule above can only see symbols created by THIS call;
    // a merged name could also collide with a multi-char symbol already
    // in the input vocab. Merged names are always ≥2 codepoints, so when
    // every input symbol is a single codepoint (the bpeEnc shape) no such
    // collision exists and batching is sound; otherwise fall back to the
    // exact one-merge-per-round loop (k=1). One extra job, paid once.
    val maxInitSymLen = cur
      .select(explode(split(trim(col("enc")), "  ")).as("s"))
      .agg(max(length(col("s"))).as("m")).collect()(0) match {
        case row if row.isNullAt(0) => 0
        case row => row.getInt(0)
      }
    val k = if (maxInitSymLen <= 1) DistTrainBatchK else 1
    var i = 1
    while (i <= n) {
      val top = cur
        .withColumn("syms", split(trim(col("enc")), "  "))
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(pairsOf)).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(k).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      require(top.nonEmpty, s"vocabulary exhausted at merge $i")
      // unseen-pair bound: with a full list, anything outside is ≤ the
      // K-th count; a short list means there ARE no unseen pairs
      var bound = if (top.length == k) top.last._2 else Long.MinValue
      val dirtyL = scala.collection.mutable.Set.empty[String] // accepted l's
      val dirtyR = scala.collection.mutable.Set.empty[String] // accepted r's
      val newSyms = scala.collection.mutable.Set.empty[String]
      var accepted = 0
      var j = 0
      var stop = false
      // ≤64 accepts per round: each accept chains one replace onto the
      // un-checkpointed plan; the cap bounds expression depth per round
      while (!stop && j < top.length && i <= n && accepted < 64) {
        val (pairStr, c) = top(j)
        val Array(l, r) = pairStr.split(' ')
        val exact = // count unchanged by every merge accepted this round
          !dirtyL(r) && !dirtyR(l) && !newSyms(l) && !newSyms(r)
        if (j > 0 && (!exact || c <= bound)) stop = true
        else {
          merges += ((l, r, c))
          if (i < n) // the last fold is never read (mirrors the oracle CTEs)
            cur = cur.withColumn("enc",
              replace(col("enc"), lit(s" $l  $r "), lit(s" $l$r ")))
          val lr = l + r
          // raise the new-pair bound: sources (x, l) / (r, y) in the list
          // cap their descendants; unseen sources are already ≤ bound
          top.foreach { case (p, pc) =>
            val Array(a, b) = p.split(' ')
            if (b == l || a == r) bound = math.max(bound, pc)
          }
          if (seenSymbols(lr)) stop = true // name collision: counts of
            // existing lr-pairs can rise; end the round conservatively
          dirtyL += l; dirtyR += r; newSyms += lr; seenSymbols += lr
          accepted += 1
          i += 1
          j += 1
        }
      }
      // one checkpoint per ROUND, not per merge
      if (i <= n) cur = cur.localCheckpoint(true, StorageLevel.DISK_ONLY)
    }
    merges.result()
  }

  private def qt16(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    trainBpe(bpeVocab(s, d), BpeIters).zipWithIndex
      .map { case ((l, r, n), i) => (i + 1, l, r, l + r, n) }
      .toDF("step", "lhs", "rhs", "merged", "n")
  }

  /** DuckDB mirror of one full training pass: v0 = vocab, then per step i
    * a p_i (argmax pair of v_{i-1}) and v_i (merge applied). */
  private def bpeTrainCtes(n: Int): String = {
    val v0 =
      """v0 AS MATERIALIZED (
        |  SELECT CAST(count(*) AS BIGINT) AS freq,
        |    ' ' || rtrim(regexp_replace(w, '(.)', '\1  ', 'g')) || ' ' AS enc
        |  FROM (SELECT lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS w
        |        FROM documents)
        |  WHERE regexp_matches(w, '^[a-z]+$')
        |  GROUP BY w)""".stripMargin
    val steps = (1 to n).flatMap { i =>
      val pick =
        s"""p$i AS MATERIALIZED (
           |  SELECT split_part(pair, ' ', 1) AS lhs, split_part(pair, ' ', 2) AS rhs, n FROM (
           |    SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM (
           |      SELECT freq, unnest(list_transform(range(1, len(syms)),
           |        i -> syms[i] || ' ' || syms[i + 1])) AS pair
           |      FROM (SELECT freq, string_split(trim(enc), '  ') AS syms FROM v${i - 1})
           |      WHERE len(syms) >= 2
           |    ) GROUP BY pair)
           |  ORDER BY n DESC, pair ASC LIMIT 1)""".stripMargin
      val fold =
        s"""v$i AS MATERIALIZED (
           |  SELECT freq, replace(enc, ' ' || lhs || '  ' || rhs || ' ',
           |                            ' ' || lhs || rhs || ' ') AS enc
           |  FROM v${i - 1} CROSS JOIN p$i)""".stripMargin
      if (i < n) Seq(pick, fold) else Seq(pick) // last v_i never read
    }
    (v0 +: steps).mkString(",\n")
  }

  private val qt16Sql = {
    val sel = (1 to BpeIters)
      .map(i => s"SELECT CAST($i AS INT) AS step, lhs, rhs, lhs || rhs AS merged, n FROM p$i")
      .mkString("\nUNION ALL ")
    s"WITH ${bpeTrainCtes(BpeIters)}\n$sel"
  }

  /** Default-config trained merges for this dataset — the BPE artifact
    * downstream operators (qt17, qx14) encode with. */
  private[graft] def bpeDefaultMerges(s: SparkSession, d: String): Seq[(String, String, Long)] =
    trainBpe(bpeVocab(s, d), BpeIters)

  /** Fold `merges` IN ORDER into the encoded form of word column `w`. */
  private[graft] def bpeApplied(w: Column, merges: Seq[(String, String, Long)]): Column =
    merges.foldLeft(bpeEnc(w)) { case (c, (l, r, _)) =>
      replace(c, lit(s" $l  $r "), lit(s" $l$r "))
    }

  /** Post-merge symbol count for one (possibly empty) token column —
    * usable inside a higher-order lambda, so per-doc totals need no
    * explode/shuffle. */
  private[graft] def bpeTokenCount(t: Column, merges: Seq[(String, String, Long)]): Column = {
    val w = lower(t)
    when(length(w) > 0,
      size(split(trim(bpeApplied(w, merges)), "  ")).cast("long"))
      .otherwise(lit(0L))
  }

  private def qt17(s: SparkSession, d: String): DataFrame = {
    val merges = bpeDefaultMerges(s, d)
    val applied = bpeApplied(col("w"), merges)
    Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(toksExpr)).as("w0"))
      .select(col("doc_id"), lower(col("w0")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("doc_id"), length(col("w")).as("n_chars_tok"),
        size(split(trim(applied), "  ")).as("n_sym"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("n_chars_tok")).as("n_chars"),
        sum(col("n_sym")).as("n_bpe_tokens"))
  }

  /** Shared DuckDB CTE chain ending in app(doc_id, n_chars_tok, n_sym):
    * the full train→apply pass — qt17 aggregates it per doc; qx14 feeds
    * the per-doc sums into the packing arithmetic. */
  private[graft] val bpeApplySqlCtes: String = {
    val mcols = (1 to BpeIters)
      .map(i => s"p$i.lhs AS l$i, p$i.rhs AS r$i").mkString(", ")
    val msrc = (1 to BpeIters).map(i => s"p$i").mkString(" CROSS JOIN ")
    val applied = (1 to BpeIters).foldLeft(
      """' ' || rtrim(regexp_replace(w, '(.)', '\1  ', 'g')) || ' '""") {
      (c, i) => s"replace($c, ' ' || l$i || '  ' || r$i || ' ', ' ' || l$i || r$i || ' ')"
    }
    s"""${bpeTrainCtes(BpeIters)},
       |m AS (SELECT $mcols FROM $msrc),
       |tok AS (
       |  SELECT doc_id, lower(unnest(regexp_split_to_array(trim(text), '\\s+'))) AS w
       |  FROM documents),
       |app AS (
       |  SELECT doc_id, length(w) AS n_chars_tok,
       |    len(string_split(trim($applied), '  ')) AS n_sym
       |  FROM tok CROSS JOIN m WHERE length(w) > 0)""".stripMargin
  }

  private val qt17Sql =
    s"""WITH $bpeApplySqlCtes
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_chars_tok) AS BIGINT) AS n_chars,
       |  CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens
       |FROM app GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // qt06: TF-IDF — per (doc, token) with tf ≥ 3: tf · ln((N+1)/(df+1)),
  // rounded to 6 dp (ln is libm-vs-JVM ulp territory; everything else is
  // exact integer counts). Two shuffles: (doc,token) tf and token df. The
  // df dictionary join is deliberately NOT hinted: whitespace-token
  // vocabulary grows with corpus size (Heaps' law — URLs, typos, hashes),
  // so at 100 TB the dictionary is not broadcast-safe. AQE broadcasts it
  // when it measures small and shuffle-joins it when it doesn't
  // (asserted in PlanLintSpec). The bounded-dictionary shape is qt08.
  // ---------------------------------------------------------------------
  private def qt06(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // Corpus size as a broadcast 1-row frame (q17 cross-join pattern) —
    // keeps the whole query lazy instead of forcing an eager driver-side
    // count() job per invocation.
    val nFrame = docs.agg(count(lit(1)).as("corpus_n"))
    val toks = docs.select(col("doc_id"), explode(expr(toksExpr)).as("token"))
      .select(col("doc_id"), lower(col("token")).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = toks.select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.filter(col("tf") >= 3)
      .join(df, Seq("token"))
      .crossJoin(broadcast(nFrame))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("tf") * log((col("corpus_n") + 1.0) / (col("df") + 1.0)), 6).as("tfidf"))
  }

  private val qt06Sql =
    """WITH toks AS (
      |  SELECT doc_id, lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS token
      |  FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT token, count(*) AS df
      |       FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token),
      |n AS (SELECT count(*) AS n FROM documents)
      |SELECT doc_id, token, tf, df,
      |  round(tf * ln((n + 1.0) / (df + 1.0)), 6) AS tfidf
      |FROM tf JOIN df USING (token), n
      |WHERE tf >= 3""".stripMargin

  // ---------------------------------------------------------------------
  // qt07: unigram log-prob score — the CCNet-style perplexity filter: per
  // document, mean −ln p(token) under the corpus unigram model (lower =
  // more typical text; a quality gate drops the high tail). Determinism:
  // each token's −ln(cnt/N) is computed identically in both engines,
  // quantized to 0.1-milli-nats (round(x·1e4) → BIGINT — coarse enough
  // that libm-vs-JVM ln ulp differences sit ~1e-11 from any rounding tie),
  // and summed exactly — the per-doc sum is order-independent; one final
  // IEEE division by token count. Two shuffles: the unigram counts and
  // the per-doc sum. The dictionary join is NOT hinted (vocabulary grows
  // with corpus — Heaps' law); AQE picks broadcast vs shuffle at runtime.
  // The capped-dictionary variant that IS broadcast-safe by construction
  // is qt08.
  // ---------------------------------------------------------------------
  private def qt07(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(toksExpr)).as("token"))
      .select(col("doc_id"), lower(col("token")).as("token"))
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = toks.agg(count(lit(1)).as("corpus_n"))
    toks
      .join(counts, Seq("token"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        expr("cast(round(-ln(cast(cnt as double) / corpus_n) * 1e4) as bigint)")
          .as("nll_q"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("nll_q")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        (col("s").cast("double") / 1e4 / col("n_tokens")).as("mean_nll"))
  }

  private val qt07Sql =
    """WITH toks AS (
      |  SELECT doc_id, lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS token
      |  FROM documents),
      |counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
      |total AS (SELECT count(*) AS corpus_n FROM toks),
      |scored AS (
      |  SELECT doc_id,
      |    CAST(round(-ln(CAST(cnt AS DOUBLE) / corpus_n) * 1e4) AS BIGINT) AS nll_q
      |  FROM toks JOIN counts USING (token), total)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(CAST(sum(nll_q) AS BIGINT) AS DOUBLE) / 1e4 / count(*) AS mean_nll
      |FROM scored GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // qt08: capped-dictionary unigram log-prob — the shape a CCNet-style
  // quality filter actually runs at 100 TB: the unigram model keeps only
  // the top-V tokens (deterministic order: count desc, token asc), so the
  // dictionary is ≤ V rows BY CONSTRUCTION and the broadcast hint is
  // justified at any corpus scale — unlike qt07's full vocabulary.
  // Out-of-vocabulary tokens fall back to the rare-token floor
  // p = 1/corpus_n (count-1 smoothing); per-doc OOV counts are emitted so
  // a pipeline can also gate on OOV rate. Same integer-quantization
  // determinism as qt07. One groupBy(token) shuffle for the counts, a
  // TakeOrderedAndProject for the top-V (no full sort), broadcast join,
  // one per-doc shuffle.
  // ---------------------------------------------------------------------
  def unigramCapped(s: SparkSession, d: String, dictCap: Int): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(toksExpr)).as("token"))
      .select(col("doc_id"), lower(col("token")).as("token"))
    val topV = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(dictCap)
    val total = toks.agg(count(lit(1)).as("corpus_n"))
    toks
      .join(broadcast(topV), Seq("token"), "left") // ≤ dictCap rows, bounded
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        expr("cast(round(-ln(cast(coalesce(cnt, 1) as double) / corpus_n) * 1e4) as bigint)")
          .as("nll_q"),
        when(col("cnt").isNull, 1L).otherwise(0L).as("oov"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("oov")).as("n_oov"),
        sum(col("nll_q")).as("s"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("s").cast("double") / 1e4 / col("n_tokens")).as("mean_nll"))
  }

  // The synthetic corpus has a 31-token vocabulary, so the gated variant
  // caps at 16 to actually exercise the OOV fallback path (a production V
  // would be ~1e5 — the plan shape is identical).
  private val DictCap = 16

  private def qt08(s: SparkSession, d: String): DataFrame =
    unigramCapped(s, d, DictCap)

  private val qt08Sql =
    s"""WITH toks AS (
      |  SELECT doc_id, lower(unnest(regexp_split_to_array(trim(text), '\\s+'))) AS token
      |  FROM documents),
      |topv AS (
      |  SELECT token, count(*) AS cnt FROM toks GROUP BY token
      |  ORDER BY cnt DESC, token ASC LIMIT $DictCap),
      |total AS (SELECT count(*) AS corpus_n FROM toks),
      |scored AS (
      |  SELECT t.doc_id,
      |    CAST(round(-ln(CAST(coalesce(v.cnt, 1) AS DOUBLE) / corpus_n) * 1e4) AS BIGINT) AS nll_q,
      |    CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
      |  FROM toks t LEFT JOIN topv v ON t.token = v.token, total)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(sum(oov) AS BIGINT) AS n_oov,
      |  CAST(CAST(sum(nll_q) AS BIGINT) AS DOUBLE) / 1e4 / count(*) AS mean_nll
      |FROM scored GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // qt09: repetition-based quality signals — the Gopher/MassiveText rules a
  // production pre-filter runs: the fraction of all word 2-grams taken by
  // the single most frequent one (boilerplate/listicle detector) and the
  // fraction of 3-gram occurrences that are repeats. Grams are md5-hashed
  // BEFORE the shuffle so group keys are fixed-width (the qd04 trick).
  // All counts are exact integers; each output ratio is one IEEE division,
  // so the oracle matches bit-for-bit. Shuffles: one groupBy(doc_id, gram)
  // per gram order + the per-doc rollup — the same linear, partial-agg-
  // heavy shape as qt06's tf counting.
  // ---------------------------------------------------------------------
  // r18 measured a fused shape (both gram orders from one tokenize pass,
  // one (doc_id, n, g) shuffle, no joins) as SLOWER: 2.00 vs 1.70 s at
  // sf0.1 and 9.92 vs 9.65 s at 30× (AB_PROBE_r18.jsonl) — the three
  // passes here are individually light, while the fused concat-of-struct
  // explode pays more per row than the extra scans cost.
  private def qt09(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), expr(s"transform($toksExpr, t -> lower(t))").as("tk"))
      .filter(size(col("tk")) >= 3)
    def gramCounts(n: Int) = toks
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(tk) - ${n - 1}), i -> md5(concat_ws(' ', slice(tk, i, $n))))"))
        .as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val a2 = gramCounts(2).groupBy(col("doc_id"))
      .agg(max(col("c")).as("top2_n"), sum(col("c")).as("n2"))
    val a3 = gramCounts(3).groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n3"), count(lit(1)).as("d3"))
    // merge hints: a2/a3 are per-doc aggregates — corpus-sized, never
    // broadcast-safe; the static planner's post-explode estimates are
    // unreliable (see Dedup qd03/qd04). PlanLint asserts no broadcast here.
    toks.select(col("doc_id"), size(col("tk")).as("n_words"))
      .join(a2.hint("merge"), Seq("doc_id"))
      .join(a3.hint("merge"), Seq("doc_id"))
      .select(col("doc_id"), col("n_words"),
        (col("top2_n").cast("double") / col("n2")).as("top2gram_frac"),
        ((col("n3") - col("d3")).cast("double") / col("n3")).as("dup3gram_frac"))
  }

  private val qt09Sql =
    """WITH tks AS (
      |  SELECT doc_id, tk FROM (
      |    SELECT doc_id,
      |      list_transform(regexp_split_to_array(trim(text), '\s+'), t -> lower(t)) AS tk
      |    FROM documents)
      |  WHERE len(tk) >= 3),
      |c2 AS (
      |  SELECT doc_id, g, count(*) AS c FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(tk)),
      |      i -> md5(array_to_string(tk[i:i+1], ' ')))) AS g
      |    FROM tks)
      |  GROUP BY 1, 2),
      |a2 AS (SELECT doc_id, max(c) AS top2_n, sum(c) AS n2 FROM c2 GROUP BY doc_id),
      |c3 AS (
      |  SELECT doc_id, g, count(*) AS c FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
      |      i -> md5(array_to_string(tk[i:i+2], ' ')))) AS g
      |    FROM tks)
      |  GROUP BY 1, 2),
      |a3 AS (SELECT doc_id, sum(c) AS n3, count(*) AS d3 FROM c3 GROUP BY doc_id)
      |SELECT t.doc_id, len(t.tk) AS n_words,
      |  CAST(top2_n AS DOUBLE) / n2 AS top2gram_frac,
      |  CAST(n3 - d3 AS DOUBLE) / n3 AS dup3gram_frac
      |FROM tks t
      |JOIN a2 ON a2.doc_id = t.doc_id
      |JOIN a3 ON a3.doc_id = t.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // qt10: benchmark-contamination screening — the GPT-3-style n-gram
  // decontamination pass: a document is contaminated if it shares a word
  // 5-gram with the eval set (stand-in here: the FIXED doc-id range
  // doc_id < EvalDocCount; in production the benchmark suite). Per corpus
  // doc: distinct 5-grams, how many hit the eval set, the fraction, and
  // the binary flag.
  //
  // Scale shape: unlike qt06/qt07's unbounded dictionaries, the broadcast
  // here is justified BY CONSTRUCTION (qt08's argument) — and the
  // construction must actually deliver it: the eval side is a fixed
  // NUMBER OF DOCUMENTS (doc_id < 32), so its gram set is independent of
  // corpus size, exactly like a real benchmark suite. (A proportional
  // stand-in such as doc_id % k = 0 grows linearly with the corpus and
  // turns the static broadcast into a guaranteed driver OOM at 100 TB —
  // the same bug class the 30× soak caught in qd04.) The doc_id bound is
  // pushed to the eval-side parquet scan, and PlanLintSpec pins both the
  // pushdown and the single-BroadcastExchange shape. Corpus work is one
  // gram explode + one per-doc rollup — linear, no self-join.
  // ---------------------------------------------------------------------
  /** Fixed size of the stand-in eval set, shared with the streaming gate
    * (qst11) so both faces screen against the identical benchmark suite. */
  private[graft] val EvalDocCount = 32

  private def qt10(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), expr(s"transform($toksExpr, t -> lower(t))").as("tk"))
      .filter(size(col("tk")) >= 5)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(tk) - 4), i -> md5(concat_ws(' ', slice(tk, i, 5)))))"))
        .as("g"))
    val evalGrams = grams.filter(col("doc_id") < EvalDocCount)
      .select(col("g")).distinct().withColumn("hit", lit(1L))
    grams.filter(col("doc_id") >= EvalDocCount)
      .join(broadcast(evalGrams), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
        (col("n_contaminated").cast("double") / col("n_grams")).as("contamination_frac"),
        when(col("n_contaminated") > 0, 1L).otherwise(0L).as("is_contaminated"))
  }

  private[graft] val qt10Sql =
    s"""WITH g AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - 3),
      |    i -> md5(array_to_string(tk[i:i+4], ' '))))) AS g
      |  FROM (SELECT doc_id,
      |          list_transform(regexp_split_to_array(trim(text), '\\s+'), t -> lower(t)) AS tk
      |        FROM documents)
      |  WHERE len(tk) >= 5),
      |ev AS (SELECT DISTINCT g FROM g WHERE doc_id < $EvalDocCount),
      |corp AS (
      |  SELECT g.doc_id, CASE WHEN ev.g IS NULL THEN 0 ELSE 1 END AS hit
      |  FROM g LEFT JOIN ev ON g.g = ev.g
      |  WHERE g.doc_id >= $EvalDocCount)
      |SELECT doc_id, count(*) AS n_grams,
      |  CAST(sum(hit) AS BIGINT) AS n_contaminated,
      |  CAST(CAST(sum(hit) AS BIGINT) AS DOUBLE) / count(*) AS contamination_frac,
      |  CASE WHEN sum(hit) > 0 THEN 1 ELSE 0 END AS is_contaminated
      |FROM corp GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // qt20: capped BIGRAM log-prob with stupid backoff — the context-aware
  // upgrade of qt07/qt08's unigram perplexity filter (the published
  // recipe is a KenLM n-gram model; the web-scale simplification is
  // Brants et al. 2007 "Stupid Backoff": S(w_i|w_{i-1}) =
  // f(bigram)/f(prefix) when the bigram is known, else 0.4·S_uni(w_i)).
  // Both dictionaries are top-V capped (qt08's argument): the bigram
  // table keeps the top-BigramCap pairs WITH their prefix counts
  // captured at build time, the unigram table is qt08's top-DictCap, so
  // every serving-side join is broadcast-justified BY CONSTRUCTION at
  // any corpus scale; unseen unigrams take the count-1 floor. Build side
  // is two counting shuffles + TakeOrdered. Same 0.1-milli-nat integer
  // quantization as qt07 (ln ulp differences sit ~1e-11 from rounding
  // ties), so per-doc sums are exact and order-free. Per-doc backoff
  // counts are emitted — the filter's coverage diagnostic.
  // ---------------------------------------------------------------------
  private val BigramCap = 64

  private def qt20(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(toksExpr)).as("t0"))
      .select(col("doc_id"), lower(col("t0")).as("token"))
    val uni = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = toks.agg(count(lit(1)).as("corpus_n"))
    val bigrams = Tables.documents(s, d)
      .select(col("doc_id"), expr(s"transform($toksExpr, t -> lower(t))").as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(tk) - 1),
          |  i -> named_struct('w1', element_at(tk, i), 'w2', element_at(tk, i + 1)))"""
          .stripMargin.replace("\n", " "))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val topB = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cntB"))
      .join(uni.select(col("token").as("w1"), col("cnt").as("prefix_cnt")),
        Seq("w1"))
      .orderBy(col("cntB").desc, col("w1").asc, col("w2").asc)
      .limit(BigramCap)
    val topU = uni.orderBy(col("cnt").desc, col("token").asc).limit(DictCap)
      .select(col("token").as("w2"), col("cnt").as("u_cnt"))
    bigrams
      .join(broadcast(topB), Seq("w1", "w2"), "left")
      .join(broadcast(topU), Seq("w2"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        expr("""cast(round(-ln(CASE WHEN cntB IS NOT NULL
                |  THEN cast(cntB as double) / prefix_cnt
                |  ELSE 0.4 * cast(coalesce(u_cnt, 1) as double) / corpus_n
                |END) * 1e4) as bigint)""".stripMargin.replace("\n", " "))
          .as("nll_q"),
        when(col("cntB").isNull, 1L).otherwise(0L).as("backoff"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("backoff")).as("n_backoff"),
        sum(col("nll_q")).as("s"))
      .select(col("doc_id"), col("n_bigrams"), col("n_backoff"),
        (col("s").cast("double") / 1e4 / col("n_bigrams")).as("mean_nll"))
  }

  private val qt20Sql =
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    list_transform(regexp_split_to_array(trim(text), '\\s+'),
       |      t -> lower(t)) AS tk
       |  FROM documents),
       |toks AS (SELECT doc_id, unnest(tk) AS token FROM tk),
       |uni AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
       |        FROM toks GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS corpus_n FROM toks),
       |bg AS (
       |  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
       |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
       |        FROM tk WHERE len(tk) >= 2)),
       |topb AS (
       |  SELECT x.w1, x.w2, x.cntB, u.cnt AS prefix_cnt
       |  FROM (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cntB
       |        FROM bg GROUP BY 1, 2) x
       |  JOIN uni u ON u.token = x.w1
       |  ORDER BY x.cntB DESC, x.w1 ASC, x.w2 ASC LIMIT $BigramCap),
       |topu AS (
       |  SELECT token AS w2, cnt AS u_cnt FROM uni
       |  ORDER BY cnt DESC, token ASC LIMIT $DictCap),
       |scored AS (
       |  SELECT b.doc_id,
       |    CAST(round(-ln(CASE WHEN tb.cntB IS NOT NULL
       |      THEN CAST(tb.cntB AS DOUBLE) / tb.prefix_cnt
       |      ELSE 0.4 * CAST(coalesce(tu.u_cnt, 1) AS DOUBLE) / corpus_n
       |    END) * 1e4) AS BIGINT) AS nll_q,
       |    CASE WHEN tb.cntB IS NULL THEN 1 ELSE 0 END AS backoff
       |  FROM bg b
       |  LEFT JOIN topb tb ON tb.w1 = b.w1 AND tb.w2 = b.w2
       |  LEFT JOIN topu tu ON tu.w2 = b.w2
       |  CROSS JOIN tot)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(sum(backoff) AS BIGINT) AS n_backoff,
       |  CAST(sum(nll_q) AS BIGINT) / 1e4 / count(*) AS mean_nll
       |FROM scored GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // qt19: SYMMETRIC cross-corpus contamination — the both-sides-huge
  // variant of qt10 (VERDICT r09 Next #6, carried through r10). qt10's
  // broadcast is justified only because a benchmark suite is a fixed
  // document COUNT; the other real decontamination job is corpus-vs-
  // corpus (two pretraining crawls, train-vs-heldout split), where BOTH
  // 5-gram sets grow with the data and any broadcast is a driver OOM at
  // scale. Here the two corpora are the doc_id parity halves; per doc:
  // how many of its distinct 5-grams also occur on the OTHER side.
  //
  // Scale shape — why this needs NO BucketCap, unlike qd03/qd07: those
  // enumerate candidate PAIRS, quadratic in bucket occupancy, so hot
  // buckets must be capped. Overlap counting never materializes a pair:
  // "gram is shared" is min(side) = 0 AND max(side) = 1 in ONE
  // gram-keyed shuffle with constant-size partial aggs (qd12's min≠max
  // trick), and the per-doc rollup is a gram-keyed SEMI join back —
  // linear in posting rows however hot the gram. Both sides are
  // corpus-sized, so every join is merge-pinned: the plan lint asserts
  // ZERO BroadcastExchange (contrast qt10's exactly-one).
  // ---------------------------------------------------------------------
  /** One gram pass (optimization r18, guide §1.2/§2.4): the gram
    * projection (tokenize + per-position md5 + array_distinct + explode)
    * is the dominant cost, and a shape with separate shared / per-doc /
    * hits consumers executes it three times (their exchanges carry
    * different columns, and AQE's stage cache only reuses IDENTICAL
    * exchanges). Here the gram frame is materialized once (on disk —
    * corpus-sized posting rows) and the per-doc
    * count and hit count fold into ONE rollup via a flag left-join:
    * n_shared = Σ 1[g ∈ shared] over the same rows n_grams counts. (No
    * pre-shuffle before the checkpoint: Spark 4's localCheckpoint
    * returns UnknownPartitioning, so a repartition there is a pure extra
    * exchange — plans/r18.) Measured against the three-consumer shape
    * (AB_PROBE_r19.jsonl): 1.78× faster at 30× warm, 1.29× faster at
    * 100× warm and 1.59× with the OS page cache dropped before every
    * pass. */
  private def qt19(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), expr(s"transform($toksExpr, t -> lower(t))").as("tk"))
      .filter(size(col("tk")) >= 5)
      .select(col("doc_id"), (col("doc_id") % 2).as("side"), explode(expr(
        "array_distinct(transform(sequence(1, size(tk) - 4), i -> md5(concat_ws(' ', slice(tk, i, 5)))))"))
        .as("g"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    val shared = grams
      .groupBy(col("g"))
      .agg(min(col("side")).as("mn"), max(col("side")).as("mx"))
      .filter(col("mn") === 0 && col("mx") === 1)
      .select(col("g"), lit(1L).as("hit"))
    // corpus-sized × corpus-sized → merge-pinned (the qd04 broadcast trap)
    grams.join(shared.hint("merge"), Seq("g"), "left")
      .groupBy(col("doc_id"), col("side"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
      .select(col("doc_id"), col("side"), col("n_grams"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_grams")).as("shared_frac"),
        when(col("n_shared") > 0, 1L).otherwise(0L).as("is_contaminated"))
  }

  private val qt19Sql =
    """WITH gr AS (
      |  SELECT doc_id, doc_id % 2 AS side,
      |    unnest(list_distinct(list_transform(range(1, len(tk) - 3),
      |      i -> md5(array_to_string(tk[i:i+4], ' '))))) AS g
      |  FROM (SELECT doc_id,
      |          list_transform(regexp_split_to_array(trim(text), '\s+'), t -> lower(t)) AS tk
      |        FROM documents)
      |  WHERE len(tk) >= 5),
      |shared AS (
      |  SELECT g FROM gr GROUP BY g HAVING min(side) = 0 AND max(side) = 1),
      |per_doc AS (
      |  SELECT doc_id, side, count(*) AS n_grams FROM gr GROUP BY 1, 2),
      |hits AS (
      |  SELECT gr.doc_id, count(*) AS n_shared
      |  FROM gr JOIN shared USING (g) GROUP BY 1)
      |SELECT p.doc_id, p.side, p.n_grams,
      |  coalesce(h.n_shared, 0) AS n_shared,
      |  CAST(coalesce(h.n_shared, 0) AS DOUBLE) / p.n_grams AS shared_frac,
      |  CASE WHEN coalesce(h.n_shared, 0) > 0 THEN 1 ELSE 0 END AS is_contaminated
      |FROM per_doc p LEFT JOIN hits h ON h.doc_id = p.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // qt11: PII redaction — scrub emails and dashed/dotted phone numbers
  // (the pre-training privacy pass), emitting per-doc redaction counts and
  // the md5 of the redacted text so the full rewrite is oracle-checked
  // without shipping a text column through the hash gate. Patterns stay in
  // the character-class subset Java regex and RE2 read identically; Spark
  // regexp_replace is replace-all by default, DuckDB needs the 'g' flag.
  // Pure per-row projection: codegen'd, zero shuffle.
  // ---------------------------------------------------------------------
  private val emailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val phonePattern = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"

  /** The qt11 redaction projection over an arbitrary (doc_id, text) frame —
    * stateless and codegen'd, so it applies unchanged to a stream (qst12). */
  private[graft] def piiRedact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailPattern), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(col("text"), lit(phonePattern), lit(0)))
          .as("n_phones"),
        md5(regexp_replace(
          regexp_replace(col("text"), emailPattern, "<EMAIL>"),
          phonePattern, "<PHONE>")).as("redacted_hash"))

  private def qt11(s: SparkSession, d: String): DataFrame =
    piiRedact(Tables.documents(s, d))

  private[graft] val qt11Sql =
    s"""SELECT doc_id,
      |  len(regexp_extract_all(text, '$emailPattern')) AS n_emails,
      |  len(regexp_extract_all(text, '$phonePattern')) AS n_phones,
      |  md5(regexp_replace(
      |    regexp_replace(text, '$emailPattern', '<EMAIL>', 'g'),
      |    '$phonePattern', '<PHONE>', 'g')) AS redacted_hash
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // qt12: hashed linear quality classifier — the fastText-style shape real
  // pipelines use for learned quality filtering: hash each lowercased
  // token into D feature buckets, score = Σ w[bucket] over the token bag,
  // keep iff score ≥ 0. The weight table is deterministic here (pseudo-
  // weights derived from md5 of the bucket index, integers in
  // [−1000, 1000]) so the oracle regenerates it exactly; a trained model
  // swaps in a broadcast D-row weight dim without changing the shape.
  //
  // Determinism: the score is an EXACT integer sum (the float-sum
  // order-dependence trap, see qc01) folded per document with
  // higher-order `aggregate` — a pure projection, NO shuffle at all; the
  // final normalized score is one IEEE division of exact integers.
  // 100 TB shape: embarrassingly parallel map pass, nothing else.
  // ---------------------------------------------------------------------
  private val FeatDim = 4096

  /** Integer pseudo-weight of one token: w(h(lower(t))) ∈ [−1000, 1000]. */
  private def tokWeightExpr(t: String): String =
    s"""(cast(conv(substring(md5(concat('w',
       |  cast(cast(conv(substring(md5(lower($t)), 1, 15), 16, 10) as bigint)
       |    % $FeatDim as string))), 1, 15), 16, 10) as bigint) % 2001) - 1000"""
      .stripMargin.replace("\n", " ")

  /** The qt12 scoring projection over an arbitrary (doc_id, text) frame —
    * stateless, so it applies unchanged to a stream; package-private for
    * the spec's planted-frame checks. */
  private[graft] def classifierScore(docs: DataFrame): DataFrame =
    docs
      .filter(length(trim(col("text"))) > 0)
      .withColumn("toks", expr(toksExpr))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        expr(s"aggregate(transform(toks, t -> ${tokWeightExpr("t")}), 0L, (a, x) -> a + x)")
          .as("score_int"))
      .withColumn("score",
        col("score_int").cast("double") / (lit(1000L) * col("n_toks")))
      .withColumn("keep", (col("score_int") >= 0L).cast("int"))

  private def qt12(s: SparkSession, d: String): DataFrame =
    classifierScore(Tables.documents(s, d))

  private[graft] val qt12TokWeightSql =
    s"""(CAST('0x' || substr(md5('w' ||
       |  CAST(CAST('0x' || substr(md5(lower(t)), 1, 15) AS BIGINT)
       |    % $FeatDim AS VARCHAR)), 1, 15) AS BIGINT) % 2001) - 1000"""
      .stripMargin.replace("\n", " ")

  private[graft] val qt12Sql =
    s"""WITH tok AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents WHERE len(trim(text)) > 0),
       |scored AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
       |    CAST(list_sum(list_transform(toks, t -> $qt12TokWeightSql))
       |      AS BIGINT) AS score_int
       |  FROM tok)
       |SELECT doc_id, n_toks, score_int,
       |  CAST(score_int AS DOUBLE) / (1000 * n_toks) AS score,
       |  CAST(score_int >= 0 AS INT) AS keep
       |FROM scored""".stripMargin

  // ---------------------------------------------------------------------
  // qt13: overlapping context chunking — split each document into
  // fixed-length token windows (64 tokens, stride 48 → 16-token overlap),
  // the standard retrieval/embedding preprocessing step. Emits
  // (doc_id, chunk_idx, start_tok, n_tok, chunk_hash); the hash stands in
  // for the chunk text so the gate compares exact content without
  // shipping strings. One explode projection per doc — no shuffle, and at
  // 100 TB the ~1.33× row amplification is the only cost.
  // ---------------------------------------------------------------------
  private val ChunkLen = 64
  private val ChunkStride = 48

  /** The qt13 chunking projection over an arbitrary (doc_id, text) frame —
    * package-private for the spec's planted-document checks. */
  private[graft] def ragChunks(docs: DataFrame): DataFrame =
    docs
      .filter(length(trim(col("text"))) > 0)
      .withColumn("toks", expr(toksExpr))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, cast((size(toks) - 1) div $ChunkStride as int)),
           |  i -> named_struct(
           |    'chunk_idx', cast(i as bigint),
           |    'start_tok', cast(i * $ChunkStride as bigint),
           |    'n_tok', cast(least($ChunkLen, size(toks) - i * $ChunkStride) as bigint),
           |    'chunk_hash', md5(concat_ws(' ', slice(toks, i * $ChunkStride + 1, $ChunkLen)))))"""
          .stripMargin.replace("\n", " "))).as("c"))
      .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
        col("c.start_tok").as("start_tok"), col("c.n_tok").as("n_tok"),
        col("c.chunk_hash").as("chunk_hash"))

  private def qt13(s: SparkSession, d: String): DataFrame =
    ragChunks(Tables.documents(s, d))

  private val qt13Sql =
    s"""WITH tok AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents WHERE len(trim(text)) > 0),
       |idx AS (
       |  SELECT doc_id, toks,
       |    unnest(range(0, (len(toks) - 1) // $ChunkStride + 1)) AS i
       |  FROM tok)
       |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
       |  CAST(i * $ChunkStride AS BIGINT) AS start_tok,
       |  CAST(least($ChunkLen, len(toks) - i * $ChunkStride) AS BIGINT) AS n_tok,
       |  md5(array_to_string(
       |    toks[i * $ChunkStride + 1 : i * $ChunkStride + $ChunkLen], ' ')) AS chunk_hash
       |FROM idx""".stripMargin

  // ---------------------------------------------------------------------
  // qt14: text normalization — the C4/CCNet-style cleaning pass every
  // ingest pipeline runs first: strip control characters, lowercase,
  // collapse whitespace runs, trim. The test corpus is already clean, so
  // the query first synthesizes a deterministically-dirty variant from its
  // own columns (title-cased prefix, embedded tab, trailing CR, run-on
  // spaces) IN BOTH ENGINES, then normalizes it — the gate exercises the
  // real cleaning path on genuinely dirty input while staying exact.
  // Pure per-row projection: zero shuffle, fully codegen'd, scales
  // embarrassingly at 100 TB. (Unicode NFC is out of scope here: the
  // corpus is ASCII and Spark/DuckDB normalize via different libs, so an
  // NFC gate could not be hash-exact; the chain is where NFC would slot.)
  // ---------------------------------------------------------------------

  /** The qt14 cleaning chain over any frame with a `dirty` column —
    * package-private so the spec can feed planted dirty strings. */
  private[graft] def normalizeText(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
        length(col("dirty")).cast("long").as("n_raw"),
        trim(regexp_replace(
          regexp_replace(lower(col("dirty")), "[\\t\\r]", " "),
          " +", " ")).as("clean_text"))
      .select(col("doc_id"), col("n_raw"),
        length(col("clean_text")).cast("long").as("n_clean"), col("clean_text"))

  private def qt14(s: SparkSession, d: String): DataFrame =
    normalizeText(Tables.documents(s, d)
      .select(col("doc_id"),
        concat(
          upper(substring(col("text"), 1, 30)), lit("\t"),
          // unbounded tail, exactly matching the oracle's substr(text, 31) —
          // a fixed length cap would silently diverge on very long documents
          expr("substring(text, 31)"), lit("   "),
          col("source"), lit("\r")).as("dirty")))

  private val qt14Sql =
    """WITH dirtied AS (
      |  SELECT doc_id,
      |    upper(substr(text, 1, 30)) || chr(9) || substr(text, 31) ||
      |      '   ' || source || chr(13) AS dirty
      |  FROM documents),
      |cleaned AS (
      |  SELECT doc_id, CAST(len(dirty) AS BIGINT) AS n_raw,
      |    trim(regexp_replace(
      |      regexp_replace(lower(dirty), '[\t\r]', ' ', 'g'),
      |      ' +', ' ', 'g')) AS clean_text
      |  FROM dirtied)
      |SELECT doc_id, n_raw, CAST(len(clean_text) AS BIGINT) AS n_clean, clean_text
      |FROM cleaned""".stripMargin

  // ---------------------------------------------------------------------
  // qt18: Unicode-aware normalization — the multilingual face of qt14 /
  // AsciiNormalize. The ASCII contract (functions/TextNormExpression)
  // deletes every byte ≥ 0x80, so a multilingual corpus would dedup on
  // EMPTY keys; this face case-folds and strips punctuation while
  // PRESERVING non-ASCII letters and digits (\p{L}\p{N} — tables both
  // Java regex and DuckDB's RE2 implement), then collapses whitespace
  // and trims, and derives the dedup key (md5 of the normalized UTF-8
  // bytes — both engines hash the same byte sequence).
  //
  // The test corpus is pure ASCII (checked: 0 of 500 sf0.01 docs contain
  // a byte ≥ 0x80), so like qt14 the query plants deterministic
  // multilingual suffixes (Latin-1 accents, ß, Cyrillic, Greek, CJK +
  // CJK punctuation) keyed by doc_id % 6 IN BOTH ENGINES — the gate
  // exercises genuine non-ASCII case mapping, \p{L} preservation and
  // \p{P} deletion, hash-exactly.
  //
  // Engine-equivalence contract (spec-pinned in TextNormSpec): Spark
  // lowercases via java.lang.String.toLowerCase (full, context-sensitive
  // mappings); DuckDB via utf8proc (per-codepoint simple mappings). Most
  // raw-lower() divergences WASH OUT under this normalize — İ U+0130
  // (Java → i + combining U+0307; the U+0307 is \p{Mn}, not \p{L}, so
  // it is stripped), U+212A KELVIN and ẞ U+1E9E (both engines reach the
  // same letter) — all spec-pinned as convergent. The one class that
  // SURVIVES is context-sensitive final sigma (Java lowers trailing Σ
  // to ς, utf8proc always σ), so capital Σ is excluded from the planted
  // set and spec-pinned as divergent. The whitespace class is spelled
  // explicitly as [ \t\n\r\f] because Java's \s includes \x0B while
  // RE2's does not.
  // Pure per-row projection: zero shuffle, codegen'd, 100 TB-linear.
  // ---------------------------------------------------------------------

  /** Unicode-aware normalization: lower-case, keep letters/digits/space,
    * collapse whitespace, trim. The multilingual counterpart of
    * [[graft.functions.TextNorm.normalize]] — see the qt18 header for the
    * engine-equivalence contract. */
  def unicodeNormalize(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^\\p{L}\\p{N} \\t\\n\\r\\f]", ""),
      "[ \\t\\n\\r\\f]+", " "))

  /** Planted multilingual suffixes, index = doc_id % 6 — mirrored verbatim
    * in the oracle's CASE. Each exercises a distinct script family. */
  private val MlSuffixes = Seq(
    "Père—Noël,   CAFÉ!?",          // Latin-1 accents + punctuation runs
    "Straße GRÜSSE aus München",     // ß (lowercase fixed point) + umlauts
    "МОСКВА — Россия",               // Cyrillic upper→lower
    "北京市、東京都。",                // CJK ideographs + CJK punctuation
    "Ελλάδα και κύπρος",             // Greek (no capital sigma — see header)
    "naïve FAÇADE œuvre élevée")     // ligature œ + accents

  private def qt18(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("utext",
        concat(col("text"), lit("  \t"),
          element_at(array(MlSuffixes.map(lit): _*),
            (col("doc_id") % 6 + 1).cast("int"))))
      .select(col("doc_id"),
        length(col("utext")).cast("long").as("n_raw"),
        unicodeNormalize(col("utext")).as("norm_text"))
      .select(col("doc_id"), col("n_raw"),
        length(col("norm_text")).cast("long").as("n_norm"),
        md5(col("norm_text")).as("ukey"),
        col("norm_text"))

  private val qt18Sql =
    """WITH planted AS (
      |  SELECT doc_id,
      |    text || '  ' || chr(9) ||
      |    CASE CAST(doc_id % 6 AS INTEGER)
      |      WHEN 0 THEN 'Père—Noël,   CAFÉ!?'
      |      WHEN 1 THEN 'Straße GRÜSSE aus München'
      |      WHEN 2 THEN 'МОСКВА — Россия'
      |      WHEN 3 THEN '北京市、東京都。'
      |      WHEN 4 THEN 'Ελλάδα και κύπρος'
      |      ELSE 'naïve FAÇADE œuvre élevée' END AS utext
      |  FROM documents),
      |normed AS (
      |  SELECT doc_id, CAST(length(utext) AS BIGINT) AS n_raw,
      |    trim(regexp_replace(
      |      regexp_replace(lower(utext), '[^\p{L}\p{N} \t\n\r\f]', '', 'g'),
      |      '[ \t\n\r\f]+', ' ', 'g')) AS norm_text
      |  FROM planted)
      |SELECT doc_id, n_raw, CAST(length(norm_text) AS BIGINT) AS n_norm,
      |  md5(norm_text) AS ukey, norm_text
      |FROM normed""".stripMargin

  // ---------------------------------------------------------------------
  // qt21: winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
  // 2003 — the MOSS algorithm; public method). qt04 fingerprints a whole
  // document; winnowing selects LOCAL fingerprints with a guarantee:
  // from every window of WinnowW consecutive k-gram hashes keep the
  // minimal hash (rightmost on ties), so any shared substring of length
  // ≥ WinnowK + WinnowW − 1 tokens is guaranteed to contribute at least
  // one shared fingerprint, while only ~2/(WinnowW+1) of positions are
  // kept — the published density/guarantee trade behind plagiarism and
  // near-dup detection at corpus scale.
  //
  // Determinism: hashes are the 60-bit md5-prefix integers both engines
  // render identically (the qst28/qc03 family); selection is integer
  // min + rightmost-pos max — no floats anywhere. The gate emits a
  // per-doc profile (gram count, fingerprint count, fingerprint
  // checksum + position sum) that pins the exact selected SET without
  // corpus-sized output.
  //
  // 100 TB shape: the window join multiplies gram rows by WinnowW = 4
  // (the qw12 tap-join shape — bounded constant, never corpus²), then
  // ONE (doc, window)-keyed groupBy with map-side partials and one
  // merge-pinned join back; per-doc aggregation is the usual keyed
  // rollup. No pairs, no broadcasts, no caps needed.
  // ---------------------------------------------------------------------
  private val WinnowK = 5 // tokens per gram (qd12's SpanK)
  private val WinnowW = 4 // windows of consecutive gram hashes

  /** 60-bit md5-prefix hash of every positional WinnowK-gram, as one
    * array column over `toks`. */
  private val winnowGramExpr =
    s"""transform(sequence(1, size(toks) - ${WinnowK - 1}),
       |  i -> cast(conv(substring(md5(concat_ws(' ', slice(toks, i, $WinnowK))), 1, 15), 16, 10) as bigint))"""
      .stripMargin.replace("\n", " ")

  /** The winnowing selection over the gram-hash array `hs` as ONE
    * higher-order expression: for each full window ending at 1-based
    * index t, the selected 0-based position is t − (1-based position of
    * the min in the REVERSED window) — i.e. the rightmost minimal hash —
    * and array_distinct collapses adjacent windows that re-select the
    * same gram. Selection is per-document local, so the whole operator
    * is a PURE PROJECTION: zero shuffle at any corpus size (the first
    * cut shuffled a (doc, window)-keyed tap join — 4.7× at 30× soak;
    * this form tracks the scan). */
  private def winnowSelExpr: org.apache.spark.sql.Column = expr(
    s"""array_distinct(transform(sequence($WinnowW, size(hs)), t ->
       |  named_struct(
       |    'pos', cast(t - array_position(
       |        reverse(slice(hs, t - ${WinnowW - 1}, $WinnowW)),
       |        array_min(slice(hs, t - ${WinnowW - 1}, $WinnowW))) as int),
       |    'h', array_min(slice(hs, t - ${WinnowW - 1}, $WinnowW)))))"""
      .stripMargin.replace("\n", " "))

  /** (doc_id, n_grams, hs) for docs with at least one full window.
    * `hs` is materialized behind a single-element explode: a Generate
    * node is a CollapseProject barrier, so downstream expressions see
    * the ATTRIBUTE — without it Catalyst inlines the alias into every
    * use and the md5 of every gram is recomputed per window reference
    * (measured: 4.6 s vs 1.7 s at sf0.1 for qt21). */
  private def winnowHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("toks"))
      .filter(size(col("toks")) >= WinnowK)
      .select(col("doc_id"),
        (size(col("toks")) - lit(WinnowK - 1)).cast("long").as("n_grams"),
        explode(array(expr(winnowGramExpr))).as("hs"))
      .filter(size(col("hs")) >= WinnowW)

  /** (doc_id, n_grams, sel) with the selection array materialized once
    * (same Generate-barrier trick as `hs`). */
  private def winnowSelected(docs: DataFrame): DataFrame =
    winnowHashes(docs)
      .select(col("doc_id"), col("n_grams"),
        explode(array(winnowSelExpr)).as("sel"))

  /** The selected (doc_id, pos, h) rows — package-private so the spec
    * can check the density guarantee and planted shared-substring
    * behavior on the raw selected set; qt22 joins these rows. */
  private[graft] def winnowedFingerprints(docs: DataFrame): DataFrame =
    winnowSelected(docs)
      .select(col("doc_id"), explode(col("sel")).as("fp"))
      .select(col("doc_id"), col("fp.pos").as("pos"), col("fp.h").as("h"))

  private def qt21(s: SparkSession, d: String): DataFrame =
    // the per-doc profile folds over the selection array in the SAME
    // projection — the gate query has no shuffle at all
    winnowSelected(Tables.documents(s, d))
      .select(col("doc_id"), col("n_grams"),
        size(col("sel")).cast("long").as("n_fps"),
        expr("aggregate(sel, 0L, (a, x) -> a + x.h % 1048576)").as("fp_check"),
        expr("aggregate(sel, 0L, (a, x) -> a + x.pos)").as("pos_sum"))

  /** The winnowing selection as DuckDB CTEs ending in
    * `fps(doc_id, pos, h)` — shared by qt21 and qt22. */
  private val winnowFpsSqlCte =
    s"""tok AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents
       |  WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= $WinnowK),
       |occ AS (
       |  SELECT doc_id, len(toks) - $WinnowK AS maxpos,
       |    unnest(range(1, len(toks) - ${WinnowK - 2})) AS i, toks
       |  FROM tok),
       |grams AS (
       |  SELECT doc_id, maxpos, i - 1 AS pos,
       |    CAST('0x' || substr(md5(array_to_string(toks[i:i+${WinnowK - 1}], ' ')), 1, 15)
       |      AS BIGINT) AS h
       |  FROM occ),
       |tagged AS (
       |  SELECT doc_id, pos, h, pos + dt.dt AS t, maxpos
       |  FROM grams, range(0, $WinnowW) dt(dt)
       |  WHERE pos + dt.dt BETWEEN ${WinnowW - 1} AND maxpos),
       |winmin AS (
       |  SELECT doc_id, t, min(h) AS mh FROM tagged GROUP BY 1, 2),
       |sel AS (
       |  SELECT g.doc_id, g.t, w.mh, max(g.pos) AS pos
       |  FROM tagged g JOIN winmin w ON w.doc_id = g.doc_id AND w.t = g.t
       |  WHERE g.h = w.mh GROUP BY 1, 2, 3),
       |fps AS (SELECT DISTINCT doc_id, pos, mh AS h FROM sel)""".stripMargin

  private val qt21Sql =
    s"""WITH $winnowFpsSqlCte,
       |prof AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps,
       |    CAST(sum(h % 1048576) AS BIGINT) AS fp_check,
       |    CAST(sum(pos) AS BIGINT) AS pos_sum
       |  FROM fps GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(len(t.toks) - ${WinnowK - 1} AS BIGINT) AS n_grams,
       |  p.n_fps, p.fp_check, p.pos_sum
       |FROM tok t JOIN prof p USING (doc_id)""".stripMargin

  // ---------------------------------------------------------------------
  // qt22: fingerprint-based contamination screening — winnowing's
  // production composition (what MOSS actually does with the
  // fingerprints): classify each incoming document (doc_id % 5 == 0,
  // qd13's split) by how many of its selected fingerprints also occur
  // anywhere in the seen corpus. The winnowing guarantee keeps the
  // detection floor of qt10/qt19's exhaustive gram overlap for every
  // shared run of ≥ k+w−1 tokens while the fingerprint INDEX holds
  // only ~2/(W+1) of the gram positions. The honest cost model
  // (measured at 30× soak, BASELINE.md): the selection pass itself
  // costs MORE than one exhaustive gram join — winnowing's win is not
  // the one-shot comparison but the AT-REST index: the seen corpus is
  // fingerprinted ONCE into a ~4× smaller index, then every arriving
  // batch screens against it paying only its own selection + one semi
  // join — the steady-state ingest shape where the seen side's
  // selection amortizes to zero (qd18's store argument, applied to
  // substring screening).
  //
  // 100 TB shape: one semi join of incoming fingerprint rows against
  // the DISTINCT seen-fingerprint set, both sides corpus-sized →
  // merge-pinned, posting rows only, never pairs (qd12's argument);
  // per-doc rollup is the usual keyed agg. shared_frac is one IEEE
  // division of exact longs (the established float-parity rule).
  // ---------------------------------------------------------------------
  private def qt22(s: SparkSession, d: String): DataFrame =
    fingerprintContamination(Tables.documents(s, d))

  /** The qt22 computation over an arbitrary (doc_id, text) frame —
    * package-private so the spec can plant shared runs across the
    * seen/incoming split. */
  private[graft] def fingerprintContamination(docs: DataFrame): DataFrame = {
    // fps feeds the seen index AND both uses of the incoming slice — with
    // plain lineage the winnowing selection (the dominant cost) executes
    // 3×. Eager checkpoint runs it once (qd19's r14 fix, same subtree),
    // on disk: corpus-sized.
    val fps = winnowedFingerprints(docs).localCheckpoint(true, StorageLevel.DISK_ONLY)
    val seenH = fps.filter(col("doc_id") % 5 =!= 0)
      .select(col("h")).distinct()
    val inc = fps.filter(col("doc_id") % 5 === 0)
    val shared = inc.join(seenH.hint("merge"), Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    inc.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fps"))
      .join(shared.hint("merge"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_fps"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)).cast("double") / col("n_fps"))
          .as("shared_frac"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("flagged"))
  }

  private[graft] val qt22Sql =
    s"""WITH $winnowFpsSqlCte,
       |seen_h AS (SELECT DISTINCT h FROM fps WHERE doc_id % 5 <> 0),
       |inc AS (SELECT * FROM fps WHERE doc_id % 5 = 0),
       |shared AS (
       |  SELECT i.doc_id, CAST(count(*) AS BIGINT) AS n_shared
       |  FROM inc i JOIN seen_h s ON s.h = i.h
       |  GROUP BY i.doc_id)
       |SELECT a.doc_id, a.n_fps,
       |  coalesce(sh.n_shared, 0) AS n_shared,
       |  CAST(coalesce(sh.n_shared, 0) AS DOUBLE) / a.n_fps AS shared_frac,
       |  coalesce(sh.n_shared, 0) > 0 AS flagged
       |FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps
       |      FROM inc GROUP BY doc_id) a
       |LEFT JOIN shared sh ON sh.doc_id = a.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // qd19: fingerprint-CONTAINMENT dedup — the asymmetric duplication
  // mode the symmetric families (qd03 Jaccard, qd07 Hamming) miss by
  // construction: a page that CONTAINS another's article (quoted posts,
  // syndicated articles inside portals) has low symmetric similarity
  // but near-total one-sided overlap. Broder's containment coefficient
  // c(A, B) = |S(A) ∩ S(B)| / |S(A)| over sketch sets (public method,
  // "On the resemblance and containment of documents", 1997), computed
  // here over the winnowed fingerprint sets: pairs sharing ≥ 1
  // fingerprint (posting lists per hash, capped at Dedup.BucketCap —
  // corpus-wide boilerplate fingerprints are skipped, the qd03 cap
  // argument verbatim), shared count per pair, containment = shared /
  // min(|fps|) — flag at ≥ 0.8. Winnowing's guarantee makes the screen
  // sound for any contained run of ≥ k+w−1 tokens.
  //
  // 100 TB shape: EXACT-DEDUP-FIRST (the qd17/qp01 lesson, applied r13):
  // docs with IDENTICAL winnowed fingerprint sets are interchangeable in
  // every downstream set operation, so the capped posting self-join runs
  // over one REPRESENTATIVE per distinct set and results expand back to
  // member pairs afterwards. Under duplication pressure (the soak tiers,
  // and boilerplate-heavy real corpora) the pair stage's input collapses
  // to the distinct corpus; the expansion — inherently m_a·m_b output
  // rows — is a map-side double explode, never a shuffle. Cap semantics
  // are defined over DOCS, not representatives, so the per-h counts that
  // feed kept = [2, BucketCap] weight each rep by its group size — the
  // oracle's HAVING clause is matched exactly at any duplication level.
  // Float parity: containment is ONE IEEE division of exact longs.
  //
  // Pair-volume bound (r15, VERDICT r14 #4): a fully pair-free shape is
  // impossible — the OUTPUT is pairwise, and per-fingerprint posting
  // counts are marginals that cannot assemble the per-pair intersection
  // (two corpora with identical per-h doc counts can differ in every
  // pairwise overlap) — but the size filter inside qd19Impl prunes every
  // pair neither of whose sides could be the min-nf side of a qualifying
  // pair, BEFORE the pair shuffle. Same output, same oracle.
  // ---------------------------------------------------------------------
  private val ContainmentFlag = 0.8

  /** Auto-mode posting-row threshold below which qd19 skips the size
    * filter (VERDICT r15 #6a): the filter's elig/postElig stages cost a
    * near-constant ~3.8 s of extra joins and checkpoint writes at the
    * sf0.1 base tier, where posting is small (dup-light corpora drop
    * docfreq-1 fingerprints) and the unpruned pair stage is already
    * cheap — the prune only pays where pair volume lives (1.27–1.72×
    * at the 30×/decade tiers, AB_PROBE_r15/r16). Output is identical on
    * both sides of the threshold (spec-pinned), so this is a cost-based
    * physical choice, not a semantic one. */
  private[graft] val SizeFilterMinPostings: Long = 1000000L

  private def qd19(s: SparkSession, d: String): DataFrame = qd19Impl(s, d)

  /** `sizeFilter`: None (the default) decides from the materialized
    * posting count against [[SizeFilterMinPostings]]; Some(b) forces the
    * pair stage — output is identical either way, and the forced modes
    * let the spec pin both stages at a tier where auto takes only one. */
  private[graft] def qd19Impl(s: SparkSession, d: String,
      sizeFilter: Option[Boolean] = None): DataFrame = {
    // fps feeds docSig AND (via repFps) both sides of the pair join: with
    // plain lineage the whole winnowing projection re-executes per
    // reference — the r13 census counted 64 Exchanges here, the registry
    // maximum. Eagerly checkpoint the three multiply-referenced frames
    // (the qc04/qd08 lineage lesson), on disk: under UNIFORM (dup-free)
    // data these frames are corpus-sized (the rule is in the Dedup
    // scaladoc).
    val fps = winnowedFingerprints(Tables.documents(s, d))
      .select(col("doc_id"), col("h")).distinct()
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    // one doc-keyed shuffle computes nf AND the set signature together
    val docSig = fps.groupBy(col("doc_id")).agg(
      count(lit(1)).as("nf"),
      expr("md5(cast(sort_array(collect_list(h)) as string))").as("sig"))
    // one row per DISTINCT set — corpus-sized when nothing duplicates
    val groups = docSig.groupBy(col("sig")).agg(
      min(col("doc_id")).as("rep"),
      sort_array(collect_list(col("doc_id"))).as("members"),
      count(lit(1)).as("m"),
      first(col("nf")).as("nf")) // identical sets ⇒ identical nf
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    val repFps = fps.join(
      groups.select(col("rep").as("doc_id")).hint("merge"),
      Seq("doc_id"), "left_semi")
    // per-h DOC counts via group-size weights (oracle-exact cap semantics)
    val kept = repFps.join(
        groups.select(col("rep").as("doc_id"), col("m")).hint("merge"),
        Seq("doc_id"))
      .groupBy(col("h")).agg(sum(col("m")).as("n"))
      .filter(col("n").between(2, Dedup.BucketCap)).select(col("h"))
    // read 3×: both pair-join sides (left via postElig) + kcnt
    val posting = repFps.join(kept.hint("merge"), Seq("h"), "left_semi")
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    // kept-fingerprint count per rep — feeds the size filter AND the
    // within-group shared count (identical sets ⇒ shared = |kept ∩ set|);
    // checkpointed so the posting scan + agg runs once, not per reference
    val kcnt = posting.groupBy(col("doc_id")).agg(count(lit(1)).as("kc"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    // Size filter (Bayardo et al., "Scaling Up All Pairs Similarity
    // Search", WWW'07 — the min-overlap bound, adapted to containment):
    // a pair passes shared / min(nf_a, nf_b) >= 0.8 only if its MIN-nf
    // side m has kc_m >= 0.8·nf_m, because shared <= kc_m. So reps below
    // that bound can never be the min side of a qualifying pair — pairs
    // where NEITHER side clears it are pruned BEFORE the pair shuffle.
    // On dup-free corpora most fingerprints are unique (docfreq 1 →
    // dropped by `kept`), so kc << nf for most reps and the pair stage's
    // input collapses to the genuinely-contained docs (VERDICT r14 #4:
    // the pairwise OUTPUT is irreducible — per-h posting counts are
    // marginals and cannot assemble the bilinear per-pair intersection —
    // but the non-qualifying pair volume is prunable). IEEE-conservative:
    // the same double division as the output filter; for a qualifying
    // pair shared <= kc_m and IEEE division by a fixed positive nf is
    // monotone, so kc_m/nf_m >= shared/nf_m >= 0.8 — no false prune.
    // auto mode: posting is already materialized (eager checkpoint above), so
    // the count is one cheap pass over checkpoint blocks — the cost-based
    // decision reads the SAME quantity the filter prunes (pair-stage
    // input rows), not a proxy like corpus rows
    val useFilter =
      sizeFilter.getOrElse(posting.count() >= SizeFilterMinPostings)
    val elig = kcnt.join(
        groups.select(col("rep").as("doc_id"), col("nf")).hint("merge"),
        Seq("doc_id"))
      .filter(col("kc").cast("double") / col("nf") >= ContainmentFlag)
      .select(col("doc_id"))
    def postElig = posting.join(elig.hint("merge"), Seq("doc_id"), "left_semi")
    // Pair stage with the filtered LEFT side: every candidate pair has an
    // eligible side on the left. A both-eligible pair is generated in
    // both orientations with IDENTICAL shared counts (the h-match rows
    // are orientation-symmetric), a mixed pair in exactly one — so the
    // unordered rollup takes max(shared), which equals the single value.
    val sharedRep = if (useFilter)
      postElig.select(col("h"), col("doc_id").as("ra"))
        .join(posting.select(col("h"), col("doc_id").as("rb")).hint("merge"),
          Seq("h"))
        .filter(col("ra") =!= col("rb"))
        .groupBy(col("ra"), col("rb")).agg(count(lit(1)).as("shared"))
        .groupBy(least(col("ra"), col("rb")).as("ra"),
          greatest(col("ra"), col("rb")).as("rb"))
        .agg(max(col("shared")).as("shared"))
    else // unpruned pair stage: cheaper below SizeFilterMinPostings
      posting.select(col("h"), col("doc_id").as("ra"))
        .join(posting.select(col("h"), col("doc_id").as("rb")).hint("merge"),
          Seq("h"))
        .filter(col("ra") < col("rb"))
        .groupBy(col("ra"), col("rb")).agg(count(lit(1)).as("shared"))
    // cross-group member pairs: every (x ∈ A, y ∈ B) shares exactly the
    // rep pair's fingerprints; reorder ids and carry each side's nf along
    val cross = sharedRep
      .join(groups.select(col("rep").as("ra"), col("members").as("mem_a"),
        col("nf").as("nf_ga")).hint("merge"), Seq("ra"))
      .join(groups.select(col("rep").as("rb"), col("members").as("mem_b"),
        col("nf").as("nf_gb")).hint("merge"), Seq("rb"))
      .select(col("shared"), col("nf_ga"), col("nf_gb"), col("mem_b"),
        explode(col("mem_a")).as("x"))
      .select(col("shared"), col("nf_ga"), col("nf_gb"), col("x"),
        explode(col("mem_b")).as("y"))
      .select(
        least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"),
        col("shared"),
        when(col("x") < col("y"), col("nf_ga")).otherwise(col("nf_gb")).as("nf_a"),
        when(col("x") < col("y"), col("nf_gb")).otherwise(col("nf_ga")).as("nf_b"))
    // within-group member pairs: identical sets ⇒ shared = |kept ∩ set|
    val swithin = kcnt.select(col("doc_id").as("rep"), col("kc").as("shared"))
    val within = groups.filter(col("m") >= 2)
      .join(swithin.hint("merge"), Seq("rep"), "left")
      .select(col("members"), coalesce(col("shared"), lit(0L)).as("shared"),
        col("nf"))
      .select(col("shared"), col("nf"), col("members"),
        posexplode(col("members")).as(Seq("i", "x")))
      .select(col("shared"), col("nf"), col("x"),
        explode(slice(col("members"), col("i") + lit(2),
          size(col("members")))).as("y"))
      .select(col("x").as("a"), col("y").as("b"), col("shared"),
        col("nf").as("nf_a"), col("nf").as("nf_b"))
    cross.unionByName(within)
      .select(col("a"), col("b"), col("shared"),
        (col("shared").cast("double") / least(col("nf_a"), col("nf_b")))
          .as("containment"),
        when(col("nf_a") <= col("nf_b"), col("a")).otherwise(col("b"))
          .as("contained_doc"))
      .filter(col("containment") >= ContainmentFlag)
  }

  private val qd19Sql =
    s"""WITH $winnowFpsSqlCte,
       |fpset AS (SELECT DISTINCT doc_id, h FROM fps),
       |nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf
       |       FROM fpset GROUP BY doc_id),
       |kept AS (SELECT h FROM fpset GROUP BY h
       |         HAVING count(*) BETWEEN 2 AND ${Dedup.BucketCap}),
       |posting AS (SELECT f.doc_id, f.h FROM fpset f JOIN kept USING (h)),
       |shared AS (
       |  SELECT p1.doc_id AS a, p2.doc_id AS b,
       |    CAST(count(*) AS BIGINT) AS shared
       |  FROM posting p1 JOIN posting p2
       |    ON p2.h = p1.h AND p1.doc_id < p2.doc_id
       |  GROUP BY 1, 2)
       |SELECT s.a, s.b, s.shared,
       |  CAST(s.shared AS DOUBLE) / least(na.nf, nb.nf) AS containment,
       |  CASE WHEN na.nf <= nb.nf THEN s.a ELSE s.b END AS contained_doc
       |FROM shared s
       |JOIN nf na ON na.doc_id = s.a
       |JOIN nf nb ON nb.doc_id = s.b
       |WHERE CAST(s.shared AS DOUBLE) / least(na.nf, nb.nf) >= $ContainmentFlag""".stripMargin

  // ---------------------------------------------------------------------
  // qt23: BM25 ranked retrieval (Okapi BM25, Robertson et al. TREC-3; the
  // +1-inside-ln idf variant Lucene ships, so idf > 0 even for terms
  // present in every document). Queries are data-derived — the nine
  // highest-global-tf tokens of length ≥ 4, split round-robin into three
  // 3-term queries — so the gate is meaningful at every SF without
  // hard-coded literals. Per (query, doc):
  //   score = Σ_t ln((N − df + ½)/(df + ½) + 1) ·
  //           tf·(k₁+1) / (tf + k₁·(1 − b + b·dl/avgdl))
  // Determinism: each term's contribution is quantized to integer
  // micro-units BEFORE the per-(query,doc) sum (qt07's pattern — integer
  // sums are order-independent; ln ulp divergence sits ~1e-11 from any
  // rounding tie), and avgdl is one IEEE division of exact integers in
  // both engines. Scale shape: one (doc,token) tf shuffle; dl derived
  // from tf (no second corpus pass); the 9-term query table and its df
  // are broadcast BY CONSTRUCTION (≤ 9 rows); the dl attach is a
  // doc-keyed join of two corpus-sized frames (unhinted — AQE decides,
  // the qt06 dictionary rule); term selection is a TakeOrderedAndProject
  // top-9 (per-partition heaps, never a full sort — the trailing rank
  // window runs on exactly 9 rows); the final top-10 is a rank window
  // over 3 query partitions, WindowGroupLimit-eligible.
  // ---------------------------------------------------------------------
  private val Bm25TopK = 10
  // k1=1.2, b=0.75 (the standard Okapi defaults). All constants are spelled
  // in e-notation because BOTH parsers type e-notation as DOUBLE, while a
  // bare `1.2` is DECIMAL in each — mixing decimal into the chain makes
  // DuckDB's `tf * 2.2` exact-decimal where Spark's is a rounded double
  // product (a 1-ulp divergence channel at round()-tie boundaries). With
  // every literal a double, the two engines execute the identical IEEE op
  // sequence and only the shared ln ulp caveat remains.
  private def bm25ContribExpr(n: String, df: String, tf: String, dl: String,
                              avgdl: String): String =
    s"""CAST(round(
       |  ln(($n - $df + 0.5e0) / ($df + 0.5e0) + 1.0e0) *
       |  ($tf * (1.2e0 + 1.0e0)) /
       |  ($tf + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * $dl / $avgdl)) * 1e6) AS BIGINT)""".stripMargin

  // (doc,token) tf / per-doc dl / corpus stats / the 9 data-derived query
  // terms — the shared building blocks of the batch scorer and the
  // broadcastable query table. The top-9 term selection is a
  // TakeOrderedAndProject (per-partition heaps, never a full sort); the
  // trailing rank window runs on exactly 9 rows (bounded by construction
  // — the qs06 pattern).
  private def bm25Tf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(expr(toksExpr)).as("token"))
      .select(col("doc_id"), lower(col("token")).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))

  private def bm25QTerms(tf: DataFrame): DataFrame =
    tf.groupBy(col("token")).agg(sum(col("tf")).as("cnt"))
      .filter(length(col("token")) >= 4)
      .orderBy(col("cnt").desc, col("token").asc).limit(9)
      .withColumn("trank",
        row_number().over(Window.orderBy(col("cnt").desc, col("token").asc)))
      .select(col("token"), ((col("trank") - 1) % 3 + 1).as("query_id"))

  /** Per-(query, doc) BM25 scores in micro-units — the distributed tf
    * path (qt23 ranks it; the streaming face gates against it). */
  private[graft] def bm25Scores(docs: DataFrame): DataFrame = {
    // tf (the token explode + count, the dominant cost) feeds dl, qterms
    // AND matched — 3 executions without a checkpoint; dl feeds stats and
    // the score join. Corpus-sized ⇒ on disk.
    val tf = bm25Tf(docs).localCheckpoint(true, StorageLevel.DISK_ONLY)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val qterms = bm25QTerms(tf)
    val matched = tf.join(broadcast(qterms), Seq("token"))
    // df restricted to the 9 query terms — computed from the matched rows
    // (one row per (doc, term)), so only matching rows ever shuffle
    val dfq = matched.groupBy(col("token")).agg(count(lit(1)).as("df"))
    matched
      .join(broadcast(dfq), Seq("token"))
      .join(dl, Seq("doc_id")) // corpus-sized × corpus-sized: AQE decides
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        expr(bm25ContribExpr("n_docs", "df", "tf", "dl", "avgdl"))
          .as("contrib_u"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib_u")).as("score_u"), count(lit(1)).as("n_terms"))
  }

  private def qt23(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_u").desc, col("doc_id").asc)
    bm25Scores(Tables.documents(s, d))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Bm25TopK)
  }

  // Shared CTE chain: per-(query, doc) BM25 scores in micro-units. qt23
  // ranks them; the streaming face (qst34) gates its stateless row-local
  // scorer against the un-ranked form.
  private val bm25SqlCtes = {
    val contrib = bm25ContribExpr("n_docs", "df", "tf", "dl", "avgdl")
    s"""toks AS (
       |  SELECT doc_id, lower(unnest(regexp_split_to_array(trim(text), '\\s+'))) AS token
       |  FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       |stats AS (SELECT count(*) AS n_docs,
       |  CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |qterms AS (
       |  SELECT token,
       |    (row_number() OVER (ORDER BY cnt DESC, token ASC) - 1) % 3 + 1 AS query_id
       |  FROM (SELECT token, CAST(sum(tf) AS BIGINT) AS cnt FROM tf
       |        WHERE length(token) >= 4 GROUP BY token
       |        ORDER BY cnt DESC, token ASC LIMIT 9)),
       |matched AS (
       |  SELECT t.doc_id, t.token, t.tf, q.query_id
       |  FROM tf t JOIN qterms q USING (token)),
       |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
       |        FROM matched GROUP BY token),
       |scored AS (
       |  SELECT m.query_id, m.doc_id, $contrib AS contrib_u
       |  FROM matched m JOIN dfq USING (token) JOIN dl USING (doc_id), stats),
       |agg AS (
       |  SELECT query_id, doc_id, CAST(sum(contrib_u) AS BIGINT) AS score_u,
       |    count(*) AS n_terms
       |  FROM scored GROUP BY 1, 2)""".stripMargin
  }

  private val qt23Sql =
    s"""WITH $bm25SqlCtes
       |SELECT query_id, doc_id, score_u, n_terms, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score_u DESC, doc_id ASC) AS rank
       |  FROM agg)
       |WHERE rank <= $Bm25TopK""".stripMargin

  /** Un-ranked per-(query, doc) BM25 scores — qst34's oracle. */
  private[graft] val bm25ScoresSql =
    s"""WITH $bm25SqlCtes
       |SELECT query_id, doc_id, score_u, n_terms FROM agg""".stripMargin

  /** The 3-query BM25 "index at rest": one row per query_id carrying its
    * term+df array plus the corpus stats — ≤ 3 rows BY CONSTRUCTION, so
    * the broadcast is justified at any corpus scale. This is the artifact
    * a serving path builds once from the static corpus and joins streams
    * against (the qst22/qst30 static-side pattern). */
  private[graft] def bm25QueryTable(docs: DataFrame): DataFrame = {
    val tf = bm25Tf(docs)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val qterms = bm25QTerms(tf)
    val dfq = tf.join(broadcast(qterms), Seq("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    qterms.join(broadcast(dfq), Seq("token"))
      .groupBy(col("query_id"))
      .agg(sort_array(collect_list(struct(col("token"), col("df")))).as("terms"))
      .crossJoin(broadcast(stats))
  }

  /** Stateless row-local BM25 scorer: the same per-(query, doc) score as
    * qt23's distributed tf path, re-expressed as a PURE PROJECTION after
    * a stream-static join against [[bm25QueryTable]] — tf and dl are
    * computed inside the row with higher-order array functions, each
    * term's contribution is quantized to the identical integer
    * micro-units, and the Σ over ≤ 3 terms is an exact BIGINT fold. Zero
    * stateful operators ⇒ append mode, state size zero, at any rate.
    * (Batch builds the index with shuffles; serving never shuffles — the
    * two physical shapes of one logical operator.) */
  private[graft] def bm25ScoreDocs(docs: DataFrame,
                                   queryTable: DataFrame): DataFrame = {
    // tf is bound ONCE per term by the transform stage (the array scan is
    // the hot-path cost; naively inlining `size(filter(...))` into the
    // score recomputes it three times per term — the BloomDedup hex-string
    // lesson, applied before it ships)
    val scoreU =
      """aggregate(
        |  transform(terms, t -> named_struct(
        |    'df', t.df, 'tf', size(filter(toks, w -> w = t.token)))),
        |  CAST(0 AS BIGINT), (acc, t) -> acc +
        |  (CASE WHEN t.tf > 0 THEN
        |    CAST(round(
        |      ln((n_docs - t.df + 0.5e0) / (t.df + 0.5e0) + 1.0e0) *
        |      (t.tf * (1.2e0 + 1.0e0)) /
        |      (t.tf + 1.2e0 *
        |        (1.0e0 - 0.75e0 + 0.75e0 * size(toks) / avgdl)) * 1e6) AS BIGINT)
        |  ELSE CAST(0 AS BIGINT) END))""".stripMargin
    val nTerms =
      "CAST(size(filter(terms, t -> size(filter(toks, w -> w = t.token)) > 0)) AS BIGINT)"
    docs
      .crossJoin(broadcast(queryTable)) // ≤ 3 rows by construction
      .withColumn("toks", expr(s"transform($toksExpr, w -> lower(w))"))
      .select(col("query_id"), col("doc_id"),
        expr(scoreU).as("score_u"), expr(nTerms).as("n_terms"))
      .filter(col("n_terms") > 0) // absent-from-all-terms docs have no batch row
  }

  def queries: Seq[Q] = Seq(
    Q("qt01_token_stats", qt01, Some(qt01Sql), headline = true),
    Q("qt02_quality_score", qt02, Some(qt02Sql)),
    Q("qt03_langid", qt03, Some(qt03Sql)),
    Q("qt04_fingerprint", qt04, Some(qt04Sql)),
    Q("qt05_word_freq", qt05, Some(qt05Sql)),
    Q("qt06_tfidf", qt06, Some(qt06Sql)),
    Q("qt07_unigram_logprob", qt07, Some(qt07Sql)),
    Q("qt08_unigram_capped", qt08, Some(qt08Sql)),
    Q("qt09_gopher_repetition", qt09, Some(qt09Sql)),
    Q("qt10_contamination", qt10, Some(qt10Sql)),
    Q("qt11_pii_redaction", qt11, Some(qt11Sql)),
    Q("qt12_quality_classifier", qt12, Some(qt12Sql)),
    Q("qt13_rag_chunks", qt13, Some(qt13Sql)),
    Q("qt14_text_normalize", qt14, Some(qt14Sql)),
    Q("qt15_bpe_pairs", qt15, Some(qt15Sql)),
    Q("qt16_bpe_train", qt16, Some(qt16Sql)),
    Q("qt17_bpe_apply", qt17, Some(qt17Sql)),
    Q("qt18_unicode_normalize", qt18, Some(qt18Sql)),
    Q("qt19_symmetric_contamination", qt19, Some(qt19Sql)),
    Q("qt20_bigram_logprob", qt20, Some(qt20Sql)),
    Q("qt21_winnowing_fingerprints", qt21, Some(qt21Sql)),
    Q("qt22_fingerprint_contamination", qt22, Some(qt22Sql)),
    Q("qt23_bm25_rank", qt23, Some(qt23Sql)),
    // lives here (not Dedup.scala) because it builds on the winnowing
    // machinery above; the qd prefix keeps the dedup-family naming
    Q("qd19_containment_dup", qd19, Some(qd19Sql)))
}
