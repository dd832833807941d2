package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** A 3× tier of the test fixtures, uniform and zipf: the copy rules
  * `Tiers.generate` states, and the drop channels a uniform tier must
  * leave flat (copies add no near-dup bucket across copies). */
class TiersSpec extends SparkSpec {

  private val Mult = 3
  private val dims = Seq("region", "nation", "customer", "supplier", "part")
  private val facts = Seq("orders", "lineitem", "events", "documents", "embeddings")

  private def tier(zipf: Boolean): String = {
    val out = graft.store.PartitionedStore.tempRoot(s"graft-tier-${if (zipf) "zipf" else "uniform"}-")
      .resolve("x3").toString
    Tiers.generate(spark, sf, Mult, zipf, out)
    out
  }
  private lazy val uniform = tier(zipf = false)
  private lazy val zipf = tier(zipf = true)

  private def rows(d: String, t: String): Long = Tables.load(spark, d, t).count()

  /** One more than the base's largest value of `c`: the per-copy key offset. */
  private def offset(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).collect()(0).getLong(0) + 1

  test("Tiers.dir is derived from the base's name, the multiple and the shape") {
    assert(Tiers.dir("/data/sf0.1", 30, zipf = false) === "target/tiers/sf0.1_x30")
    assert(Tiers.dir("/data/sf0.1/", 30, zipf = true) === "target/tiers/sf0.1_x30_zipf")
  }

  test("the main rejects a missing base dir, a multiple below 1 and an unknown shape") {
    val missing = graft.store.PartitionedStore.tempRoot("graft-tier-args-").resolve("absent").toString
    for (args <- Seq(Array(missing, "3"), Array(sf, "0"), Array(sf, "x"),
        Array(sf, "3", "skewed"), Array(sf)))
      intercept[IllegalArgumentException](Tiers.main(args))
  }

  for ((shape, d) <- Seq("uniform" -> (() => uniform), "zipf" -> (() => zipf))) {
    test(s"$shape: facts are ×$Mult, dims unchanged") {
      for (t <- dims) assert(rows(d(), t) === rows(sf, t), t)
      for (t <- facts) assert(rows(d(), t) === Mult * rows(sf, t), t)
    }

    test(s"$shape: fact keys are distinct across copies and lineitem ⋈ orders stays 1:1") {
      for ((t, k) <- Seq("orders" -> "o_orderkey", "events" -> "event_id",
          "documents" -> "doc_id", "embeddings" -> "vec_id")) {
        val df = Tables.load(spark, d(), t)
        assert(df.select(k).distinct().count() === df.count(), s"$t.$k")
      }
      val li = Tables.lineitem(spark, d())
      val joined = li.join(Tables.orders(spark, d()), col("l_orderkey") === col("o_orderkey"))
      assert(joined.count() === li.count())
      assert(li.join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"), "left_anti").count() ===
        (Mult - 1) * rows(sf, "lineitem"), "copies 1.. must not join base orders")
    }

    test(s"$shape: query vectors (vec_id < 10) exist only in copy 0") {
      val base = Tables.embeddings(spark, sf)
      val off = offset(base, "vec_id")
      val e = Tables.embeddings(spark, d())
      val queries = e.filter(col("vec_id") < 10)
      assert(queries.count() === base.filter(col("vec_id") < 10).count())
      assert(queries.count() > 0)
      // copy k's image of a query id is a corpus vector, not a query
      assert(e.filter(col("vec_id") % off < 10 && col("vec_id") >= off).count() ===
        (Mult - 1) * queries.count())
      assert(queries.exceptAll(base.filter(col("vec_id") < 10)).isEmpty)
    }
  }

  test(s"zipf: copy k keeps doc d's text verbatim exactly when (d+1)·k ≤ N") {
    val base = Tables.documents(spark, sf).select(col("doc_id").as("d"), col("text").as("t0"))
    val n = offset(base, "d")
    val copies = Tables.documents(spark, zipf)
      .select((col("doc_id") / n).cast("long").as("k"), (col("doc_id") % n).as("d"),
        col("text"))
      .join(base, "d")
      .select(col("k"), col("d"), (col("text") === col("t0")).as("verbatim"))
    val wrong = copies.filter(col("verbatim") =!=
      ((col("d") + 1) * col("k") <= lit(n) || col("k") === 0))
    assert(wrong.isEmpty, wrong.limit(5).collect().mkString(", "))
    // the rule must bite both ways at this size
    assert(copies.filter(col("k") > 0 && col("verbatim")).count() > 0)
    assert(copies.filter(col("k") > 0 && !col("verbatim")).count() > 0)
    // the uniform tier rotates every copy past the first
    val uni = Tables.documents(spark, uniform)
      .select((col("doc_id") % n).as("d"), (col("doc_id") / n).cast("long").as("k"),
        col("text"))
      .join(base, "d").filter(col("k") > 0 && col("text") === col("t0"))
    assert(uni.isEmpty)
  }

  test("uniform: three drop channels read 0; the pipeline's stays flat from 3× to 5×") {
    assert(ext.Dedup.oversizedLshBuckets(spark, uniform).count() === 0)
    assert(ext.Dedup.shingleDfDrops(spark, uniform).count() === 0)
    assert(ext.SpanDedup.incrementalDroppedBuckets(spark, uniform).count() === 0)
    // The pipeline's near-dup chunks are not 0 here: the fixtures' small
    // vocabulary concentrates SimHash: 2 chunks pass BucketCap (66 and 71
    // docs) once copy 2 is added, and copies 3 and 4 add none. The cap
    // binds inside one copy, so further copies must add no oversized bucket.
    val five = graft.store.PartitionedStore.tempRoot("graft-tier-uniform-").resolve("x5").toString
    Tiers.generate(spark, sf, 5, zipf = false, five)
    assert(ext.Pipeline.oversizedBuckets(spark, sf).count() === 0)
    assert(ext.Pipeline.oversizedBuckets(spark, uniform).count() ===
      ext.Pipeline.oversizedBuckets(spark, five).count())
  }
}
