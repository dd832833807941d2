package graft

import org.apache.spark.sql.functions._

import graft.operators.Scale
import graft.sources.Tables

class ScaleSpec extends SparkSpec {

  test("salted join is result-identical to the plain join") {
    val fact = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val dim = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = fact.join(dim, Seq("l_orderkey"))
    val salted = Scale.saltedJoin(fact, dim, "l_orderkey", salt = 4)
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("two-stage salted aggregation equals direct groupBy") {
    val df = Tables.lineitem(spark, sf)
    val direct = df.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_value"))
    val salted = Scale.saltedCountSum(df, "l_orderkey", "l_quantity", salt = 4)
    assert(salted.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(salted).count() === 0)
  }

  test("AQE splits a skewed join partition (runtime skew handling)") {
    // Adversarial skew: 90% of fact rows share one key. With the skew
    // thresholds lowered to test size, AQE must mark the skewed partition
    // split (OptimizeSkewedJoin) — and the result must equal the plain join.
    // The groupBy(k) downstream requires the join's partitioning, so AQE
    // withholds the split unless forceOptimizeSkewedJoin trades an extra
    // shuffle for it: both inputs are checked (BASELINE.md round 8/9 has
    // their timings at scale).
    for (force <- Seq(true, false)) withSkewConfs(force) {
      val fact = spark.range(0, 40000)
        .select((when(col("id") % 10 < 9, 7L).otherwise(col("id") % 1000)).as("k"),
          col("id").as("v"))
      val dim = spark.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = fact.join(dim, "k").groupBy("k").agg(count(lit(1)).as("n"))
      val rows = joined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows(7L) === 36000L) // the hot key: 90% of the fact side
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"))
      if (force)
        assert(plan.contains("skew=true"), s"AQE did not mark the skewed join:\n${plan.take(800)}")
      else
        assert(!plan.contains("skew=true"),
          s"AQE split a join whose aggregate needs its partitioning:\n${plan.take(800)}")
    }
  }

  /** Runs `body` with AQE's skew thresholds lowered to test size and
    * broadcast off, `forceOptimizeSkewedJoin` set to `force`. */
  private def withSkewConfs(force: Boolean)(body: => Unit): Unit = {
    val overrides = Map(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> force.toString,
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = overrides.keys.map(k => k -> spark.conf.getOption(k)).toMap
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed TERMINAL join without forcing (qx11's scale face)") {
    // The test above needs forceOptimizeSkewedJoin because its aggregate
    // reuses the join key's partitioning. The TERMINAL enrich join — the
    // qx11 scale shape of BASELINE.md's round-8 skewed-join table, join →
    // write with nothing above it keyed on the join key — must split
    // WITHOUT the force knob: that's the default-config behavior a 100 TB
    // run relies on.
    withSkewConfs(force = false) {
      val fact = spark.range(0, 40000)
        .select((when(col("id") % 10 < 9, 7L).otherwise(col("id") % 1000)).as("k"),
          col("id").as("v"))
      val dim = spark.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = fact.join(dim, "k").select(col("k"), col("v"), col("w"))
      // collect() (not count()) so the dataset's OWN QueryExecution runs
      // and the adaptive plan below is final
      assert(joined.collect().length === 40000) // enrich join: 1 dim row/key
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"))
      assert(plan.contains("skew=true"),
        s"terminal skewed join not split without force:\n${plan.take(800)}")
    }
  }

  test("qx12 rebalance splits the hot output group and preserves rows") {
    // 90% of rows share one group key. A plain repartition(col) would put
    // all 36k hot rows in ONE writer partition; the rebalance hint with a
    // small advisory size must split the hot group across partitions
    // (OptimizeSkewsInRebalancePartitions) while keeping every row.
    val overrides = Map(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true")
    val prev = overrides.keys.map(k => k -> spark.conf.getOption(k)).toMap
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val skewed = spark.range(0, 40000)
        .select(when(col("id") % 10 < 9, lit("hot")).otherwise(lit("cold")).as("t"),
          col("id").as("v"))
      val reb = skewed.hint("rebalance", col("t"))
      val sizes = reb.rdd.mapPartitions(it => Iterator(it.length)).collect()
        .filter(_ > 0)
      assert(sizes.sum === 40000, "rebalance must preserve every row")
      assert(sizes.max < 36000,
        s"hot group not split: partition sizes ${sizes.sorted.reverse.take(5).mkString(",")}")
      assert(sizes.length > 2, s"expected several bounded partitions, got ${sizes.length}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed join runs shuffle-free (no Exchange in plan)") {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    Scale.writeBucketed(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity"),
      "li_bkt", "l_orderkey", buckets = 8)
    Scale.writeBucketed(
      Tables.orders(spark, sf).select(col("o_orderkey").as("l_orderkey"), col("o_totalprice")),
      "ord_bkt", "l_orderkey", buckets = 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val joined = Scale.bucketedJoin(spark, "li_bkt", "ord_bkt", "l_orderkey")
      joined.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join plan still shuffles:\n$plan")
      // and it is still correct
      val expected = Tables.lineitem(spark, sf).count()
      assert(joined.count() === expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("stratified sample is deterministic, rate-bounded, and shuffle-free") {
    val q = Registry.byName("qx03_stratified_sample")
    val a = q.run(spark, sf)
    val b = q.run(spark, sf)
    // identical across runs (no RNG state — the reproducibility contract)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
    // every kept row satisfies its source's rate bound
    val viol = a.filter(
      (expr("cast(substring(source, 4) as int) % 2 = 0") && col("bucket") >= 50) ||
        (expr("cast(substring(source, 4) as int) % 2 = 1") && col("bucket") >= 20))
    assert(viol.count() === 0)
    // md5 buckets are uniform enough that each stratum lands near its rate
    val total = Tables.documents(spark, sf).count().toDouble
    val kept = a.count().toDouble
    assert(kept / total > 0.2 && kept / total < 0.5, s"overall keep ${kept / total}")
    // pure map-side filter: no Exchange anywhere in the plan
    assert(!a.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("domain mix: allocations proportional to weight, rates consistent") {
    val out = Registry.byName("qx04_domain_mix").run(spark, sf).collect()
    val budget = 1000000L
    val wsum = out.map(_.getAs[Long]("weight")).sum
    out.foreach { r =>
      assert(r.getAs[Long]("alloc_tokens") === budget * r.getAs[Long]("weight") / wsum)
      val expectRate = math.min(100L,
        r.getAs[Long]("alloc_tokens") * 100 / r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("keep_rate_pct") === expectRate)
    }
    // total allocation never exceeds the budget (floor division only loses)
    assert(out.map(_.getAs[Long]("alloc_tokens")).sum <= budget)
  }

  test("sequence packing sub-shards a 90%-skewed source yet matches the global window") {
    // A realistic mix: one source holds 90% of the corpus. A window
    // partitioned by source alone would run that source's cumsum as ONE
    // sequential task; the shard-wise formulation must (a) split it across
    // many bounded (source, shard) partitions and (b) stay row-identical
    // to the single global window (associativity of the running sum).
    val docs = spark.range(0, 2000).select(
      col("id").as("doc_id"),
      when(col("id") % 10 < 9, lit("src_hot"))
        .otherwise(concat(lit("src_"), (col("id") % 10).cast("string"))).as("source"),
      concat_ws(" ", array_repeat(lit("w"), (col("id") % 50 + 1).cast("int"))).as("text"))
    val packed = Scale.packedDocs(docs)
    val W = org.apache.spark.sql.expressions.Window
    val globalW = W.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(W.unboundedPreceding, 0)
    val reference = docs
      .select(col("doc_id"), col("source"),
        size(expr("split(trim(text), '\\\\s+')")).cast("long").as("nt"))
      .withColumn("bin", expr(s"(sum(nt) over (partition by source order by doc_id " +
        s"rows unbounded preceding) - nt) div 4096"))
      .select(col("doc_id"), col("source"), col("nt"), col("bin"))
    assert(packed.exceptAll(reference).count() === 0)
    assert(reference.exceptAll(packed).count() === 0)
    // the hot source's cumsum really is split: >= 10 live shard partitions,
    // each bounded by ShardSize docs by construction of doc_id div ShardSize
    val hotShards = packed.filter(col("source") === "src_hot")
      .select(expr(s"doc_id div ${Scale.ShardSize}")).distinct().count()
    assert(hotShards >= 10, s"hot source in only $hotShards shard partitions")
  }

  test("sequence packing: bins contiguous per source, tokens conserved") {
    val out = Registry.byName("qx05_sequence_packing").run(spark, sf).collect()
    val total = Tables.documents(spark, sf)
      .select(size(expr("split(trim(text), '\\\\s+')")).cast("long").as("nt"))
      .agg(sum("nt")).collect()(0).getLong(0)
    assert(out.map(_.getAs[Long]("n_tokens")).sum === total, "tokens not conserved")
    out.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      // docs are << 4096 tokens at test SF, so occupied bins are contiguous
      val bins = rows.map(_.getAs[Long]("bin")).sorted.toSeq
      assert(bins === bins.indices.map(_.toLong), s"$src bins not contiguous: $bins")
    }
    assert(out.forall(r => r.getAs[Double]("fill_rate") > 0
      && r.getAs[Double]("fill_rate") <= 1.0))
  }

  test("qx10 bloom prefilter: keeps every joining row, prunes most others") {
    val li = Tables.lineitem(spark, sf)
    val sel = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
    val pruned = graft.operators.Scale.bloomPrunedLineitem(spark, sf, sel)
    val total = li.count()
    val prunedN = pruned.count()
    // no false negatives: every lineitem row whose order is selected survives
    val trueMatch = li.join(sel, col("l_orderkey") === col("o_orderkey")).count()
    val keptMatch = pruned.join(sel, col("l_orderkey") === col("o_orderkey")).count()
    assert(keptMatch === trueMatch, "bloom prefilter dropped a joining row")
    // the point of the sketch: most non-joining fact rows die at the scan.
    // ~20% of orders are 1-URGENT; at 8 bits/key fpp ~2%, so kept should
    // be well under half the fact table.
    assert(prunedN < total / 2,
      s"bloom prefilter barely pruned: kept $prunedN of $total")
    assert(prunedN >= trueMatch)
  }

  test("qx16 weighted Bernoulli: membership is exactly h < w * 2^50, JVM-replayed") {
    // recompute the inclusion rule single-threaded from raw text: every
    // sampled doc must satisfy it and every excluded doc must fail it —
    // the whole operator is this one exact integer comparison
    val docs = Tables.documents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val sampled = Registry.byName("qx16_weighted_bernoulli").run(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def h60(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    var included = 0
    docs.foreach { case (id, text) =>
      val w = math.min(text.trim.split("\\s+").length.toLong, 1024L)
      val in = h60(id) < w * (1L << 50)
      if (in) included += 1
      assert(sampled.contains(id) === in, s"doc $id: rule says $in")
      if (in) assert(sampled(id) === w, s"doc $id weight ${sampled(id)} != $w")
    }
    assert(included === sampled.size)
    assert(included > 0, "degenerate corpus: nothing sampled")
  }
}

class ShardShuffleSpec extends SparkSpec {
  import org.apache.spark.sql.expressions.Window
  import graft.operators.Scale
  import graft.sources.Tables

  test("shard shuffle ord equals the single global-window formulation") {
    val docs = Tables.documents(spark, sf)
    val out = graft.operators.Scale.shardShuffle(docs)
    // independent mirror: the plain (skew-prone) global row_number the
    // oracle states — the composed-offset plan must be arithmetic-identical
    val ref = docs.select(col("doc_id"),
        md5(col("doc_id").cast("string")).as("skey"),
        expr("cast(conv(substring(md5(concat('s', cast(doc_id as string))), 1, 15), 16, 10) as bigint) % 32")
          .as("shard"))
      .withColumn("ord", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("shard"), col("ord"))
    assert(out.count() === ref.count())
    assert(out.join(ref, Seq("doc_id", "shard", "ord"), "left_anti").count() === 0)
  }

  test("shard shuffle: ords are a dense 1..n permutation within every shard") {
    val out = graft.operators.Scale.shardShuffle(Tables.documents(spark, sf))
    val bad = out.groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), min(col("ord")).as("mn"),
        max(col("ord")).as("mx"), countDistinct(col("ord")).as("nd"))
      .filter(col("mn") =!= 1L || col("mx") =!= col("n") || col("nd") =!= col("n"))
    assert(bad.count() === 0, "some shard's ordinals are not dense 1..n")
  }

  test("shard shuffle window partitions are prefix-bounded under the sub key") {
    // the composed plan's row_number partitions carry (shard, sub): with
    // 2-hex-char subs the largest partition must be well under a whole
    // shard — the boundedness that makes the window safe at scale
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val maxPart = docs
      .select(expr("cast(conv(substring(md5(concat('s', cast(doc_id as string))), 1, 15), 16, 10) as bigint) % 32").as("shard"),
        substring(md5(col("doc_id").cast("string")), 1, 2).as("sub"))
      .groupBy(col("shard"), col("sub")).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    assert(maxPart < n / 32, s"largest (shard, sub) partition $maxPart not sub-shard bounded")
  }
}

class TemperatureMixSpec extends SparkSpec {

  test("temperature flattening upweights the rare source by ~sqrt of share ratio") {
    import spark.implicits._
    // big: 90 docs x 1000 tokens (90% share); rare: 10 x 1000 (10%).
    // Proportional (tau=1) sampling would keep both at the same rate;
    // tau=2 keeps rare at ~sqrt(9) = 3x the big source's rate.
    val tokens = (1 to 1000).map(i => s"t$i").mkString(" ")
    val docs = ((1 to 90).map(i => (i.toLong, "big", tokens)) ++
      (1 to 10).map(i => (100L + i, "rare", tokens)))
      .toDF("doc_id", "source", "text")
    val out = graft.operators.Scale.temperatureMix(docs).collect()
      .map(r => r.getString(0) -> r.getLong(5)).toMap
    assert(out("rare") > out("big"), s"rare not upweighted: $out")
    val ratio = out("rare").toDouble / out("big")
    assert(ratio > 2.5 && ratio < 3.5, s"flattening ratio $ratio not ~sqrt(9)")
  }

  test("temperature mix weights follow integer sqrt of ppm share exactly") {
    import spark.implicits._
    val tokens = (1 to 100).map(i => s"t$i").mkString(" ")
    val docs = ((1 to 9).map(i => (i.toLong, "a", tokens)) ++
      Seq((10L, "b", tokens))).toDF("doc_id", "source", "text")
    val out = graft.operators.Scale.temperatureMix(docs).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(out("a") === math.floor(math.sqrt(900000.0)).toLong)
    assert(out("b") === math.floor(math.sqrt(100000.0)).toLong)
  }
}

class PerSourceCapSpec extends SparkSpec {
  import org.apache.spark.sql.expressions.Window
  import graft.sources.Tables

  test("two-phase per-source cap equals the naive single-window top-K") {
    import spark.implicits._
    // skewed corpus: one source holds 90% of docs — the shape where the
    // naive window serializes and the two-phase form must not
    val docs = ((1 to 900).map(i => (i.toLong, "hot")) ++
      (1 to 100).map(i => (1000L + i, "cold"))).toDF("doc_id", "source")
    val out = graft.operators.Scale.perSourceCap(docs)
    val naive = docs
      .withColumn("skey", md5(col("doc_id").cast("string")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("skey"), col("doc_id"))).cast("long"))
      .filter(col("rank") <= 20)
      .select(col("doc_id"), col("source"), col("rank"))
    assert(out.count() === 40)
    assert(out.join(naive, Seq("doc_id", "source", "rank"), "left_anti").count() === 0)
    assert(naive.join(out, Seq("doc_id", "source", "rank"), "left_anti").count() === 0)
  }

  test("per-source cap on the sf corpus: exactly K per source, ranks dense") {
    val out = Registry.byName("qx08_per_source_cap").run(spark, sf)
    val bad = out.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"))
      .filter(col("n") =!= 20 || col("mx") =!= 20)
    assert(bad.count() === 0) // sf0.001 has 25 docs/source, all capped to 20
  }
}

class EpochMixSpec extends SparkSpec {

  test("epoch mix: counts conserve the plan (full epochs x n_docs + fractional)") {
    import spark.implicits._
    // skewed corpus: s_big 90 docs, s_rare 10 docs — sqrt temperature
    // pushes s_rare past 1 full epoch at a 1000-doc budget; the planted
    // frame keeps the arithmetic hand-checkable
    val docs = ((1 to 90).map(i => (i.toLong, "s_big")) ++
      (101 to 110).map(i => (i.toLong, "s_rare"))).toDF("doc_id", "source")
    val out = graft.operators.Scale.epochMix(docs)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // every full epoch carries exactly n_docs of its source
    val bySrc = out.groupBy(_._1._1)
    for ((src, m) <- bySrc) {
      val n = if (src == "s_big") 90L else 10L
      val epochs = m.keys.map(_._2).toSeq.sorted
      // epochs are contiguous from 0
      assert(epochs === (0L until epochs.size).toSeq, s"$src epochs not contiguous")
      // all but possibly the last epoch are full
      epochs.dropRight(1).foreach(e => assert(m((src, e)) === n, s"$src epoch $e not full"))
      // last epoch never exceeds a full one
      assert(m((src, epochs.last)) <= n)
    }
    // rare source is upweighted: more epochs than the dominant source
    val rareEpochs = bySrc("s_rare").size
    val bigEpochs = bySrc("s_big").size
    assert(rareEpochs > bigEpochs,
      s"temperature epoch mix failed to upweight: rare $rareEpochs vs big $bigEpochs")
  }

  test("epoch mix at SF: epoch-0 presence and deterministic rerun") {
    val out = Registry.byName("qx09_epoch_mix").run(spark, sf)
    // every source appears at epoch 0 with at least its fractional share
    val sources = Tables.documents(spark, sf).select("source").distinct().count()
    assert(out.filter(col("epoch") === 0).count() === sources)
    val again = Registry.byName("qx09_epoch_mix").run(spark, sf)
    assert(out.exceptAll(again).count() === 0)
    assert(again.exceptAll(out).count() === 0)
  }

}

class DatasetSplitSpec extends SparkSpec {

  test("qx13 split: disjoint, exhaustive, and exact duplicates never straddle splits") {
    val out = Registry.byName("qx13_dataset_split").run(spark, sf)
    val total = graft.sources.Tables.documents(spark, sf).count()
    // exhaustive (every doc assigned) and disjoint (one row per doc)
    assert(out.count() === total)
    assert(out.select("doc_id").distinct().count() === total)
    assert(out.select("split").distinct().count() === 3)

    // leakage safety: the split key is md5(text), so planted verbatim
    // duplicates MUST receive identical assignments
    import spark.implicits._
    val dups = Seq(
      (1L, "the exact same document text"),
      (2L, "the exact same document text"),
      (3L, "the exact same document text"),
      (4L, "a different document entirely"),
      (5L, "a different document entirely"))
      .toDF("doc_id", "text")
      .withColumn("bucket", expr(
        "cast(conv(substring(md5(concat('split:', md5(text))), 1, 15), 16, 10) as bigint) % 1000"))
    val buckets = dups.collect().map(r => r.getString(1) -> r.getLong(2))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSet }
    assert(buckets.values.forall(_.size == 1),
      s"duplicate texts landed in different split buckets: $buckets")
  }

  test("qx15 PPS: two-phase cumsum equals the single global window exactly") {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.sources.Tables.documents(spark, sf)
    val twoPhase = Scale.ppsSample(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // reference: the plain (single-partition) window formulation
    val tw = docs.agg(sum(col("n_chars"))).collect()(0).getLong(0)
    val stride = math.max(tw / 100L, 1L)
    val single = docs
      .select(col("doc_id"), col("n_chars").cast("long").as("w"))
      .withColumn("cum", sum(col("w")).over(Window.orderBy(col("doc_id"))))
      .withColumn("n_picks",
        expr(s"cum div $stride") - expr(s"(cum - w) div $stride"))
      .filter(col("n_picks") > 0)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(twoPhase === single)
    // systematic-PPS conservation: total picks = floor(totalW / stride)
    assert(twoPhase.values.map(_._3).sum === tw / stride)
    // weight-proportionality: a doc heavier than the stride is picked >1×
    twoPhase.foreach { case (id, (w, _, picks)) =>
      assert(picks >= w / stride, s"doc $id: $picks picks for weight $w")
      assert(picks <= w / stride + 1, s"doc $id overpicked")
    }
  }
}

class ZOrderSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import graft.sinks.Layout

  test("zorder2: JVM mirror of the bit interleave") {
    import spark.implicits._
    def jvm(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map { j =>
        (((x >> j) & 1L) << (2 * j)) | (((y >> j) & 1L) << (2 * j + 1))
      }.reduce(_ | _)
    val pairs = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 3L), (1499L, 199L),
      (149999L, 19999L), ((1L << 21) - 1, (1L << 21) - 1))
    val got = pairs.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zorder2(col("x"), col("y"), 21).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pairs.foreach { case (x, y) =>
      assert(got((x, y)) === jvm(x, y, 21), s"z($x, $y)")
    }
    // the curve is monotone in each coordinate along its own bit positions:
    // fixing y, growing x grows z
    assert(jvm(5, 3, 21) < jvm(6, 3, 21) || ((5 ^ 6) & ~((1 << 21) - 1)) != 0)
  }

  private def scanRows(df: DataFrame): Long = {
    df.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: FileSourceScanExec => Seq(s)
      case o => o.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .map(_.metrics("numOutputRows").value).sum
  }

  test("z-order layout prunes row groups on BOTH dimensions; linear only one") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val total = li.count()
    val base = graft.store.PartitionedStore.tempRoot("graft-zorder-spec-").toString
    // linear = single-column sort on l_orderkey, same file count
    li.repartitionByRange(32, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(s"$base/linear")
    Layout.writeZOrdered(li, s"$base/zorder", "l_orderkey", "l_partkey", 32)
    def rows(layout: String, pred: org.apache.spark.sql.Column): Long =
      scanRows(spark.read.parquet(s"$base/$layout").filter(pred))
    val pOrder = col("l_orderkey") <= 300
    val pPart = col("l_partkey") <= 40
    // the sorted dimension: both layouts prune (linear prunes harder)
    assert(rows("linear", pOrder) < total / 2, "linear failed to prune its own sort key")
    assert(rows("zorder", pOrder) < total / 2, "z-order failed to prune dim 1")
    // the second dimension: linear reads EVERYTHING, z-order skips
    val linPart = rows("linear", pPart)
    val zPart = rows("zorder", pPart)
    assert(linPart === total, "linear layout unexpectedly pruned the unsorted key")
    assert(zPart < (total * 7) / 10,
      s"z-order read $zPart of $total rows for the dim-2 predicate")
    // conjunctive predicate: at least as good as the better single leg
    assert(rows("zorder", pOrder && pPart) <= math.min(rows("zorder", pOrder), zPart))
    // and the layout is lossless under every predicate
    assert(spark.read.parquet(s"$base/zorder").filter(pPart).count() ===
      li.filter(pPart).count())
  }

  test("hilbert index: bijection on the full 4-bit grid, consecutive cells adjacent") {
    import spark.implicits._
    import graft.functions.HilbertExpression.hilbertIndex
    val n = 16 // 2^4 per side
    val grid = (for (x <- 0 until n; y <- 0 until n) yield (x.toLong, y.toLong))
      .toDF("x", "y")
      .select(col("x"), col("y"), hilbertIndex(col("x"), col("y"), 4).as("d"))
      .collect().map(r => r.getLong(2) -> (r.getLong(0), r.getLong(1)))
    // bijection: 256 distinct d covering exactly [0, 256)
    val byD = grid.toMap
    assert(byD.size === n * n, "hilbert index is not injective on the grid")
    assert(byD.keySet === (0 until n * n).map(_.toLong).toSet)
    // CONTINUITY — the property Morton lacks: consecutive curve positions
    // are Manhattan-adjacent cells (|dx| + |dy| == 1), so contiguous curve
    // ranges are compact rectangles (the tighter-envelope claim's cause)
    (0 until n * n - 1).foreach { d =>
      val (x1, y1) = byD(d.toLong); val (x2, y2) = byD(d.toLong + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1,
        s"curve jumps between d=$d ($x1,$y1) and d=${d + 1} ($x2,$y2)")
    }
    // interpreted eval path agrees with codegen (nullSafeEval mirror)
    val expr = graft.functions.HilbertIndex(
      org.apache.spark.sql.catalyst.expressions.Literal(3L),
      org.apache.spark.sql.catalyst.expressions.Literal(5L), 4)
    assert(expr.eval(null) === byD.find(_._2 == ((3L, 5L))).get._1)
  }

  test("hilbert layout prunes both dimensions and is lossless (qx17 parity)") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val total = li.count()
    val base = graft.store.PartitionedStore.tempRoot("graft-hilbert-spec-").toString
    Layout.writeHilbertOrdered(li, s"$base/hilbert", "l_orderkey", "l_partkey", 32)
    def rows(pred: org.apache.spark.sql.Column): Long =
      scanRows(spark.read.parquet(s"$base/hilbert").filter(pred))
    val pOrder = col("l_orderkey") <= 300
    val pPart = col("l_partkey") <= 40
    assert(rows(pOrder) < total / 2, "hilbert failed to prune dim 1")
    assert(rows(pPart) < (total * 7) / 10, "hilbert failed to prune dim 2")
    assert(spark.read.parquet(s"$base/hilbert").filter(pPart).count() ===
      li.filter(pPart).count(), "hilbert layout is not lossless")
  }
}
