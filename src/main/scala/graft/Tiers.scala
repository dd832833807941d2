package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Grown tiers: an N× copy of a fixture directory, for timing the gates
  * at a scale the fixtures do not reach. A tier is timed like any fixture
  * directory, by pointing `SPARK_GRAFT_SF_DIR` at it for `graft.Bench`
  * (`graft.Bench batch` for every batch gate, `graft.Bench stream` for the
  * streaming ones).
  *
  * {{{
  * sbt "runMain graft.Tiers BASE MULT [uniform|zipf]"
  * }}}
  * writes `target/tiers/<name of BASE>_x<MULT>` (`_x<MULT>_zipf` for the
  * zipf shape, see [[dir]]), overwriting any earlier tier there, and
  * prints one JSON line with the directory and each table's row count.
  *
  * Generation is union-of-reseeded-copies, NOT duplication, so the scaled
  * data keeps the statistical shape the operators are sensitive to:
  *
  *  - fact keys are offset per copy (l_orderkey/o_orderkey, event_id,
  *    doc_id, vec_id) so joins stay 1:1 against the unscaled dims and
  *    outputs scale linearly instead of quadratically;
  *  - document text is letter-rotated per copy (translate with a rotated
  *    alphabet): token/shingle structure and lengths are preserved but
  *    hashes differ, so copy k's near-dup clusters mirror copy 0's without
  *    creating cross-copy duplicates — LSH/posting bucket sizes stay flat
  *    (the property that keeps qd03/qd04/qd07 linear; TiersSpec checks the
  *    drop channels on a uniform tier);
  *  - embeddings get a per-copy seeded perturbation (cosine structure
  *    within a copy preserved, copies distinct); query vectors (vec_id<10)
  *    exist only in copy 0, so ANN query fan-out stays fixed while the
  *    corpus grows — the 100 TB shape.
  *
  * Events keep their user_id, type and ts in every copy, so a per-user
  * event self-join grows as mult², not mult: qst07/qst09's click→purchase
  * pairs go from 8,727 at sf0.1 to 7,854,300 (900×) at 30×.
  *
  * Zipf shape: instead of every copy being letter-rotated unique text,
  * copy k keeps doc d's text VERBATIM when (d + 1) · k ≤ N — so base doc d
  * ends up in ≈ min(mult, N/(d+1)) exact copies: duplicate-cluster sizes
  * follow 1/rank, the published shape of crawl duplication. This is the
  * skew the uniform letter-rotated corpus cannot produce: hot documents
  * concentrate hash buckets, exercising BucketCap / ShingleDfCap and the
  * capped-bucket paths under realistic pressure.
  *
  * Dims (region/nation/customer/supplier/part) are copied unscaled: at real
  * scale dims grow far slower than facts, and this keeps q03/q04's
  * broadcast-ability invariant — exactly what those plans claim at 100 TB.
  */
object Tiers {

  private val dims = Seq("region", "nation", "customer", "supplier", "part")
  private val facts = Seq("orders", "lineitem", "events", "documents", "embeddings")

  private val alpha = "abcdefghijklmnopqrstuvwxyz"
  private def rotated(k: Int): String = {
    val r = (k * 7) % 26
    alpha.drop(r) + alpha.take(r)
  }

  /** Where the main writes the `mult`× tier of `base`. */
  def dir(base: String, mult: Int, zipf: Boolean): String =
    s"target/tiers/${new File(base).getName}_x$mult${if (zipf) "_zipf" else ""}"

  /** Writes the `mult`× tier of the fixture dir `base` under `out`. */
  private[graft] def generate(s: SparkSession, base: String, mult: Int,
      zipf: Boolean, out: String): Unit = {
    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until mult).map(k => f(df, k)).reduce(_ unionAll _)
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    // unscaled dims, copied verbatim
    for (t <- dims) write(Tables.load(s, base, t), t)

    val orderOff = Tables.orders(s, base).agg(max(col("o_orderkey")))
      .collect()(0).getLong(0) + 1
    write(copies(Tables.orders(s, base)) { (df, k) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(k * orderOff))
    }, "orders")
    write(copies(Tables.lineitem(s, base)) { (df, k) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(k * orderOff))
    }, "lineitem")

    val eventOff = Tables.events(s, base).agg(max(col("event_id")))
      .collect()(0).getLong(0) + 1
    // ts written as micros TimestampType; Tables.normalizeEvents passes it
    // through (the nanos coercion only applies to the driver's raw files)
    write(copies(Tables.events(s, base)) { (df, k) =>
      df.withColumn("event_id", col("event_id") + lit(k * eventOff))
    }, "events")

    val docOff = Tables.documents(s, base).agg(max(col("doc_id")))
      .collect()(0).getLong(0) + 1
    write(copies(Tables.documents(s, base)) { (df, k) =>
      val rot = translate(col("text"), alpha, rotated(k))
      val text =
        if (k == 0) col("text")
        else if (zipf) when((col("doc_id") + 1) * k <= lit(docOff), col("text"))
          .otherwise(rot)
        else rot
      df.withColumn("text", text)
        .withColumn("doc_id", col("doc_id") + lit(k * docOff))
    }, "documents")

    val vecOff = Tables.embeddings(s, base).agg(max(col("vec_id")))
      .collect()(0).getLong(0) + 1
    write(copies(Tables.embeddings(s, base)) { (df, k) =>
      if (k == 0) df
      else df.withColumn("vec_id", col("vec_id") + lit(k * vecOff))
        .withColumn("embedding", expr(
          s"""transform(embedding, (x, i) -> cast(x +
             |(((vec_id * 31L + ${k}L * 1103515245L + i * 12345L) % 1000L) / 10000.0 - 0.05)
             |as float))""".stripMargin.replace("\n", " ")))
    }, "embeddings")
  }

  private val usage = "usage: graft.Tiers BASE MULT [uniform|zipf]"

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3, usage)
    val base = args(0)
    val mult = args(1).toIntOption.getOrElse(
      throw new IllegalArgumentException(s"MULT is not an integer: ${args(1)}; $usage"))
    val shape = args.lift(2).getOrElse("uniform")
    require(new File(base).isDirectory, s"BASE is not a directory: $base")
    require(mult >= 1, s"MULT must be at least 1, got $mult")
    require(shape == "uniform" || shape == "zipf",
      s"shape must be uniform or zipf, got $shape; $usage")
    val zipf = shape == "zipf"
    val out = dir(base, mult, zipf)
    val spark = GraftSession.local("graft-tiers", GraftSession.cores)
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(s"[tiers] writing the ${mult}x $shape tier of $base to $out")
    val t0 = System.nanoTime()
    generate(spark, base, mult, zipf, out)
    val secs = (System.nanoTime() - t0) / 1e9
    val rows = (dims ++ facts)
      .map(t => s""""$t":${Tables.load(spark, out, t).count()}""").mkString("{", ",", "}")
    println(s"""{"metric":"tier","dir":"$out","base":"$base","mult":$mult,""" +
      s""""zipf":$zipf,"gen_sec":${String.format(java.util.Locale.ROOT, "%.1f",
        Double.box(secs))},"rows":$rows}""")
    spark.stop()
  }
}
