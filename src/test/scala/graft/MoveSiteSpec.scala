package graft

/** File-move census for library code: a rename is how a hand-rolled
  * "stage, move aside, place, recover" protocol starts, and graft keeps
  * exactly one of those, `graft.store.PartitionedStore`, whose scaladoc
  * argues its crash safety and whose every crash point
  * `PersistedStoreCrashSpec` tests. Every `renameTo`, `Files.move` and
  * `FileSystem`/`FileContext` `rename` under the library roots must be
  * listed below with the reason it is not a second swap.
  */
class MoveSiteSpec extends SiteLint {

  /** (file, trimmed line) -> (expected occurrences, why it is no swap). */
  private val manifest: Map[(String, String), (Int, String)] = Map(
    ("store/PartitionedStore.scala", """if (fs.exists(new Path(dst)) || !fs.rename(new Path(src), new Path(dst)))""") ->
      (1, "the store core's one move: every commit and recovery of the " +
        "signature store, the fingerprint store and the clustered sink's " +
        "compaction goes through it"),
    ("streaming/StreamingQueries.scala", """require(f.renameTo(dst), s"move failed: $f")""") ->
      (1, "test-data replay (writeSlices, behind replayTable and qst44's " +
        "ingest): places each staged slice file in a fresh stream input " +
        "directory before any query reads it; no persisted state is replaced"),
    ("fs/NioLocalFileSystem.scala", """if (!Files.isRegularFile(from, LinkOption.NOFOLLOW_LINKS)) super.rename(src, dst, options: _*)""") ->
      (1, "the file system's own rename primitive (directories: Hadoop's)"),
    ("fs/NioLocalFileSystem.scala", """notFound(to.getParent)(Files.move(from, to, StandardCopyOption.ATOMIC_MOVE))""") ->
      (1, "the file system's own rename primitive (overwriting file rename)"),
    ("fs/NioLocalFileSystem.scala", """fsImpl.asInstanceOf[RawNioFileSystem].rename(src, dst,""") ->
      (1, "FileContext's rename delegating to the file system's primitive"))

  test("every file move in library code is classified; the store core is the only swap site") {
    val found = scan(libraryRoots) { l =>
      l.contains("renameTo(") || l.contains("Files.move(") || l.contains(".rename(")
    }
    assertClassified(found, manifest, "file-move", "commit persisted state " +
      "through graft.store.PartitionedStore, or add the site with the " +
      "reason it is not a swap")
  }
}
