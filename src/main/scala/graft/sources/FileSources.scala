package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q

/** File-format sources beyond parquet (SURVEY §2 S6: the reference's CSV
  * scan feeds its batch pipeline [sbx/test-yahoo.cpp:97-115]).
  *
  * The gated query is a write→read roundtrip: the supplier table is written
  * to CSV (quoted, headered) and read back with an explicit schema; the
  * result must row-for-row hash-match the oracle reading the original
  * parquet — i.e. the CSV codec is lossless for every column type it
  * carries (int, string, double — doubles print shortest-roundtrip, so
  * text transit is bit-exact).
  *
  * At scale the same reader handles a partitioned CSV directory: Spark's
  * CSV source is splittable (uncompressed), so a 100 TB CSV dataset scans
  * in parallel like parquet, just without pushdown/pruning — which is why
  * parquet stays the preferred layout and CSV is an ingest format.
  */
object FileSources {

  // roundtrip copies: one directory per (table, sfDir) and process, so
  // two concurrent sessions never race on one with mode=overwrite
  import graft.store.PartitionedStore.scratchDir

  private def csvDir(d: String): String = scratchDir("csv-supplier", d)

  private def qf01(s: SparkSession, d: String): DataFrame = {
    val supplier = Tables.supplier(s, d)
    val path = csvDir(d)
    supplier.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(path)
    s.read.schema(supplier.schema).option("header", "true").csv(path)
  }

  private val qf01Sql =
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier"

  /** Microsecond-precision timestamp format: Spark's default JSON timestamp
    * format truncates to millis, which would silently lose the events
    * table's microsecond precision in the roundtrip. */
  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  private def jsonDir(d: String): String = scratchDir("jsonl-events", d)

  /** qf02: JSON-lines roundtrip of the events table (timestamps at full
    * microsecond precision, doubles shortest-roundtrip via Jackson, nested
    * JSON `props` as escaped strings) — then an aggregate over the re-read
    * rows, hash-matched against the parquet oracle. */
  private def qf02(s: SparkSession, d: String): DataFrame = {
    val events = Tables.events(s, d)
    val path = jsonDir(d)
    events.coalesce(1).write.mode("overwrite")
      .option("timestampFormat", TsFmt).json(path)
    s.read.schema(events.schema).option("timestampFormat", TsFmt).json(path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        max(col("ts")).as("max_ts"),
        min(col("value")).as("min_value"),
        max(col("user_id")).as("max_user"))
  }

  private val qf02Sql =
    """SELECT event_type, count(*) AS n, max(ts) AS max_ts,
      |  min(value) AS min_value, max(user_id) AS max_user
      |FROM events GROUP BY event_type""".stripMargin

  private def orcDir(d: String): String = scratchDir("orc-events", d)

  /** qf03: ORC roundtrip of the events table — Spark's other built-in
    * columnar format (native timestamp/double encodings, no text transit at
    * all), aggregated after re-read and hash-matched against the parquet
    * oracle. At scale ORC behaves like parquet (splittable, predicate
    * pushdown, column pruning), so the engine is layout-agnostic between
    * the two columnar formats; the same oracle as qf02 pins that the two
    * codecs carry identical values. */
  private def qf03(s: SparkSession, d: String): DataFrame = {
    val events = Tables.events(s, d)
    val path = orcDir(d)
    events.coalesce(1).write.mode("overwrite").orc(path)
    s.read.schema(events.schema).orc(path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        max(col("ts")).as("max_ts"),
        min(col("value")).as("min_value"),
        max(col("user_id")).as("max_user"))
  }

  private def dtDir(d: String): String = scratchDir("dtpart-events", d)

  /** qf04: date-partitioned layout roundtrip + partition-pruned read — the
    * layout that makes date-range queries cheap at 100 TB. Events are
    * written hive-partitioned by event date ([[graft.sinks.Layout
    * .writeDatePartitioned]], `dt=YYYY-MM-DD` directories), re-read with a
    * one-week `dt` range predicate, and aggregated per day. The predicate
    * is a PARTITION filter: planning-time pruning reads 7 of 30 day
    * directories and zero data files from the rest (PlanLintSpec asserts
    * the pruned scan). The oracle replays the same week over the raw
    * parquet — pinning that the partitioned layout is lossless AND that
    * partition-column derivation (date_format of ts) matches DuckDB's
    * strftime. */
  private def qf04(s: SparkSession, d: String): DataFrame = {
    val events = Tables.events(s, d)
    val path = dtDir(d)
    graft.sinks.Layout.writeDatePartitioned(events, path, "ts")
    // dt is type-inferred DATE from the hive layout: filter on the native
    // type (so pruning happens at planning time), then re-format to string
    // for the gate (date32 parquet output is a driver hash-risk type)
    graft.sinks.Layout.readDatePartitioned(s, path)
      .filter(col("dt").between(
        lit("2024-01-08").cast("date"), lit("2024-01-14").cast("date")))
      .groupBy(date_format(col("dt"), "yyyy-MM-dd").as("dt"))
      .agg(count(lit(1)).as("n"),
        max(col("user_id")).as("max_user"),
        min(col("value")).as("min_value"))
  }

  private val qf04Sql =
    """SELECT strftime(ts, '%Y-%m-%d') AS dt, count(*) AS n,
      |  max(user_id) AS max_user, min(value) AS min_value
      |FROM events
      |WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08' AND '2024-01-14'
      |GROUP BY 1""".stripMargin

  /** The pruned scan qf04 exercises — package-private for PlanLintSpec. */
  private[graft] def datePartitionedScan(s: SparkSession, d: String): DataFrame = {
    val events = Tables.events(s, d)
    val path = dtDir(d)
    graft.sinks.Layout.writeDatePartitioned(events, path, "ts")
    graft.sinks.Layout.readDatePartitioned(s, path)
      .filter(col("dt").between(
        lit("2024-01-08").cast("date"), lit("2024-01-14").cast("date")))
  }

  private def txtDir(d: String): String = scratchDir("txt-docs", d)

  /** qf05: plain-text roundtrip — the rawest ingest format an LLM data
    * pipeline starts from (one document per line). Documents are written
    * as `doc_id<TAB>text` lines via the `text` source and re-parsed with a
    * limit-2 split, so a tab inside the payload would stay in the text
    * (this corpus has none — qt14 dirties its own). The re-read corpus is
    * aggregated per doc_id decade bucket and hash-matched against the
    * parquet oracle — the line codec is lossless for every row. At scale
    * the text source is splittable like CSV: parallel scan, no pushdown —
    * the ingest tier, not the storage tier. */
  private def qf05(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val path = txtDir(d)
    docs.select(concat(col("doc_id").cast("string"), lit("\t"), col("text")).as("value"))
      .coalesce(1).write.mode("overwrite").text(path)
    s.read.text(path)
      .select(split(col("value"), "\t", 2).as("p"))
      .select(element_at(col("p"), 1).cast("long").as("doc_id"),
        element_at(col("p"), 2).as("text"))
      .groupBy((col("doc_id") % 10).as("decade"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("text"))).as("chars"),
        md5(concat_ws("|", sort_array(collect_list(md5(col("text")))))).as("content_hash"))
  }

  private val qf05Sql =
    """SELECT doc_id % 10 AS decade, count(*) AS n,
      |  CAST(sum(len(text)) AS BIGINT) AS chars,
      |  md5(string_agg(md5(text), '|' ORDER BY md5(text))) AS content_hash
      |FROM documents GROUP BY 1""".stripMargin

  private def corruptDir(d: String): String = scratchDir("jsonl-corrupt", d)

  /** qf06: corrupt-record-tolerant ingest — the file-source behavior a
    * 100 TB crawl batch actually needs: torn/garbage lines must be
    * ACCOUNTED, not crash the job (FAILFAST) or vanish silently
    * (DROPMALFORMED). Documents are written as JSONL with every
    * doc_id % 7 == 0 line deterministically truncated mid-string
    * (unterminated JSON — the torn-record shape); the read back uses
    * PERMISSIVE mode with `_corrupt_record`, and the gate aggregates BOTH
    * populations: the corrupt count (the data-loss ledger an ingest tier
    * must report) and content sums over clean rows only (corrupt rows
    * excluded by `_corrupt_record IS NULL`, so JSON partial-results
    * recovery of a torn row's parseable prefix can never leak into the
    * clean-side numbers). The oracle restates both from the corruption
    * rule. At scale this is per-record work inside the scan — no shuffle,
    * no driver involvement, and one bad split cannot poison the batch. */
  private def qf06(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val path = corruptDir(d)
    docs.select(
      when(col("doc_id") % 7 === 0,
        concat(lit("{\"doc_id\":"), col("doc_id").cast("string"),
          lit(",\"text\":\"TORN")))
        .otherwise(to_json(struct(col("doc_id"), col("text"))))
        .as("value"))
      .coalesce(1).write.mode("overwrite").text(path)
    s.read
      .schema("doc_id LONG, text STRING, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .agg(
        count(lit(1)).as("n_lines"),
        count(col("_corrupt_record")).as("n_corrupt"),
        sum(when(col("_corrupt_record").isNull, col("doc_id"))).as("good_id_sum"),
        sum(when(col("_corrupt_record").isNull, length(col("text"))))
          .as("good_text_chars"))
  }

  private val qf06Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(count(*) FILTER (doc_id % 7 = 0) AS BIGINT) AS n_corrupt,
      |  CAST(sum(doc_id) FILTER (doc_id % 7 <> 0) AS BIGINT) AS good_id_sum,
      |  CAST(sum(length(text)) FILTER (doc_id % 7 <> 0) AS BIGINT) AS good_text_chars
      |FROM documents""".stripMargin

  private def gzDir(d: String): String = scratchDir("jsonl-gz", d)

  /** qf07: compressed-text roundtrip — JSONL written gzip, read back
    * transparently (extension-dispatched codec), same per-decade
    * aggregate as qf05 so the oracle is shared shape. The 100 TB note is
    * the layout rule this gate stands for: gzip is NOT splittable — one
    * .gz file = one task, so a compressed ingest tier must arrive as
    * many files (or a splittable codec) for the scan to parallelize;
    * Spark's reader handles either transparently, which is exactly what
    * the gate pins. */
  private def qf07(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val path = gzDir(d)
    docs.select(to_json(struct(col("doc_id"), col("text"))).as("value"))
      .repartition(4) // several .gz files: the parallel-scan layout
      .write.mode("overwrite").option("compression", "gzip").text(path)
    s.read.schema("doc_id LONG, text STRING").json(path)
      .groupBy((col("doc_id") % 10).as("decade"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("text"))).as("chars"),
        md5(concat_ws("|", sort_array(collect_list(md5(col("text")))))).as("content_hash"))
  }

  private def gensDir(d: String): String = scratchDir("gens-docs", d)

  /** qf08: schema-evolution ingest (mergeSchema) — the drift a years-long
    * 100 TB ingest tier accumulates: an early generation wrote
    * (doc_id, text); a later one added `lang`. One mergeSchema read over
    * the generation-partitioned dir reconciles the UNION schema (new
    * column null for old rows — no backfill rewrite of petabytes), and
    * the gate aggregates per generation: row counts, non-null counts in
    * the added column (exactly 0 for gen 1 — merge-filled nulls — and the
    * corpus's own non-null `lang` count for gen 2, so the gate holds even
    * if the corpus ever carries null langs), and
    * content sums proving both generations' payloads survive the merge.
    * Schema merging is a FOOTER-level planning operation (per-file footer
    * reads, no data scan), so it costs file-listing time, not data time,
    * at any corpus size; the per-row null-fill is free in the columnar
    * reader. The oracle restates the generation rule from `documents`. */
  private def qf08(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val path = gensDir(d)
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$path/gen=1")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"), col("lang"))
      .write.mode("overwrite").parquet(s"$path/gen=2")
    s.read.option("mergeSchema", "true").parquet(path)
      .groupBy(col("gen"))
      .agg(count(lit(1)).as("n"),
        count(col("lang")).as("n_lang"),
        sum(col("doc_id")).as("id_sum"),
        sum(length(col("text"))).as("chars"))
  }

  private val qf08Sql =
    """SELECT CAST(1 + doc_id % 2 AS INT) AS gen,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(lang) FILTER (doc_id % 2 = 1) AS BIGINT) AS n_lang,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
      |  CAST(sum(length(text)) AS BIGINT) AS chars
      |FROM documents GROUP BY 1""".stripMargin

  def queries: Seq[Q] = Seq(
    Q("qf01_csv_roundtrip", qf01, Some(qf01Sql)),
    Q("qf02_jsonl_roundtrip", qf02, Some(qf02Sql)),
    Q("qf03_orc_roundtrip", qf03, Some(qf02Sql)),
    Q("qf04_partitioned_roundtrip", qf04, Some(qf04Sql)),
    Q("qf05_text_roundtrip", qf05, Some(qf05Sql)),
    Q("qf06_corrupt_tolerant", qf06, Some(qf06Sql)),
    // same aggregate shape as qf05, so the oracle is reused verbatim
    Q("qf07_compressed_roundtrip", qf07, Some(qf05Sql)),
    Q("qf08_merge_schema", qf08, Some(qf08Sql)))
}
