package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the Spark implementation plus (when SQL-expressible)
  * the equivalent DuckDB oracle SQL the driver replays over the same parquet
  * tables. `headline` marks the subset Bench times at sf0.1.
  *
  * Oracle-parity rules used throughout (so driver hash-compare is exact):
  *  - money sums go through DECIMAL casts in BOTH engines (order-independent
  *    exact arithmetic; double sums are order-dependent and would flake);
  *  - averages are written `CAST(decimal_sum AS DOUBLE)/count` in both so the
  *    final division is a single deterministic IEEE op;
  *  - every computed column is aliased identically in Spark and SQL (the
  *    driver sorts columns by name before hashing).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false,
    // Dir-aware oracle override for gates whose strong oracle embeds
    // values recorded while RUNNING against a specific sf dir (qst27's
    // quantile literals): Verify dumps oracleFor(sfDir) so a dump for a
    // dir the query never ran against falls back to the weak form
    // instead of embedding another dir's literals (ADVICE r12).
    oracleFor: Option[String => String] = None) {
  /** The oracle to dump for `sfDir` — dir-aware when the gate needs it. */
  def oracleAt(sfDir: String): Option[String] =
    oracleFor.map(f => f(sfDir)).orElse(oracle)
}

object Registry {
  def all: Seq[Q] =
    graft.operators.Relational.queries ++
      graft.operators.Windows.queries ++
      graft.operators.Scale.queries ++
      graft.operators.AsOf.queries ++
      graft.sinks.Frames.queries ++
      graft.sources.FileSources.queries ++
      graft.ysb.Ysb.queries ++
      graft.streaming.StreamingQueries.queries ++
      graft.ext.Dedup.queries ++
      graft.ext.SpanDedup.queries ++
      graft.ext.Similarity.queries ++
      graft.ext.Embeddings.queries ++
      graft.ext.Clustering.queries ++
      graft.ext.TextAnalysis.queries ++
      graft.ext.Multimodal.queries ++
      graft.ext.Pipeline.queries

  def byName: Map[String, Q] = all.map(q => q.name -> q).toMap

  /** The gates every main is narrowed to: `SPARK_GRAFT_ONLY=qa,qb` re-runs
    * some gates without their suite; unset keeps every gate. */
  def only: String => Boolean =
    sys.env.get("SPARK_GRAFT_ONLY").fold((_: String) => true)(_.split(",").toSet)
}
