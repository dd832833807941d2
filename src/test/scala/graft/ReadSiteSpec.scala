package graft

/** Parquet-read census for library code: a bare `spark.read.parquet(path)`
  * runs a schema-inference job (a footer read) every time it is called,
  * ~0.1 s of fixed cost per load. The fixture tables are read through
  * `graft.sources.Tables`, which infers each table's schema once per file
  * version. Every batch or streaming parquet read under the library roots
  * must be listed below with the reason it is not a fixture-table read
  * that bypasses that memo.
  */
class ReadSiteSpec extends SiteLint {

  private def startsRead(l: String): Boolean =
    l.contains(".read.") || l.endsWith(".read") || l.contains(".readStream")

  private def readsParquet(chain: String): Boolean =
    chain.contains(".parquet(") || chain.contains("format(\"parquet\")")

  /** (file, trimmed first line of the read chain) -> (expected
    * occurrences, why it is no bypass of the schema memo). */
  private val manifest: Map[(String, String), (Int, String)] = Map(
    ("sources/Tables.scala", """spark.read.schema(schemaOf(spark, path)).parquet(path)""") ->
      (1, "the fixture-table loader: reads with the memoized schema"),
    ("sources/Tables.scala", """val schema = spark.read.parquet(path).schema""") ->
      (1, "the schema memo's one inference, once per file version"),
    ("streaming/StreamingQueries.scala", """spark.readStream.schema(Tables.schemaOf(spark, streamDir))""") ->
      (1, "the one stream source: a replay's slice directory (sliceStream), " +
        "written by this process, with its memoized schema"),
    ("streaming/StreamingQueries.scala", """s.read.parquet(base.toString).drop("batch_id")""") ->
      (1, "reads the clustered sink's own output, written by this gate"),
    ("streaming/FingerprintStore.scala", """s.read.schema(StructType(Seq(""") ->
      (1, "reads the store's own output with its fixed schema"),
    ("store/PartitionedStore.scala", """s.read.schema(schema).parquet(dir(table))""") ->
      (1, "reads the store's own output with its fixed schema"),
    ("sinks/Layout.scala", """spark.read.parquet(path)""") ->
      (1, "reads the date-partitioned sink's own output (partition columns inferred)"),
    ("sinks/Layout.scala", """writeZOrdered(spark.read.parquet(path).drop("batch_id"),""") ->
      (1, "compaction: reads the clustered sink's own output before rewriting it"),
    ("operators/Scale.scala", """s.read.parquet(path)""") ->
      (2, "reads the z-order / Hilbert layout this gate just wrote"),
    ("ext/Similarity.scala", """val index = s.read.parquet(path)""") ->
      (1, "reads the IVF index this gate just wrote (partition column inferred)"),
    ("sources/FileSources.scala", """s.read.option("mergeSchema", "true").parquet(path)""") ->
      (1, "the schema-merge gate: inferring the merged schema is what it tests"))

  private lazy val found = scanChains(libraryRoots)(startsRead)(readsParquet)

  test("every parquet read in library code is classified; fixture tables load through Tables") {
    assertClassified(found, manifest, "parquet-read", "load a fixture table " +
      "through graft.sources.Tables (schema from Tables.schemaOf), or add " +
      "the site with the reason it reads no fixture table")
  }

  test("no read outside Tables names a fixture table file without an explicit schema") {
    val bypass = scanChains(libraryRoots)(startsRead) { chain =>
      readsParquet(chain) && chain.contains(".parquet\"") && !chain.contains(".schema(")
    }.keySet.filter(_._1 != "sources/Tables.scala")
    assert(bypass.isEmpty, s"fixture-table reads that infer the schema per load:\n  " +
      bypass.toSeq.sorted.mkString("\n  "))
  }
}
