package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Shared machinery of the source-site lints (BroadcastSiteSpec,
  * CollectSiteSpec, EnvKnobSiteSpec, MoveSiteSpec, ReadSiteSpec): scan the
  * source tree for lines that contain a hazard, and hold every hit against
  * a manifest that classifies it with a written reason.
  *
  * Manifest key = (file relative to src/main/scala/graft, the trimmed
  * source line). Keying on line text rather than line numbers keeps a
  * manifest stable under unrelated edits while still pinning each site.
  */
trait SiteLint extends AnyFunSuite {

  protected val root = new File("src/main/scala/graft")

  /** Library code: everything a query plan is built from, as opposed to
    * the measurement and driver mains at the top of the package. */
  protected val libraryRoots: Seq[File] =
    Seq("operators", "ext", "streaming", "ysb", "sinks", "functions",
      "sources", "store", "fs").map(new File(root, _))

  private def scalaFiles(dir: File): Seq[File] =
    if (!dir.exists()) Nil
    else {
      val (dirs, files) = dir.listFiles.toSeq.partition(_.isDirectory)
      files.filter(_.getName.endsWith(".scala")) ++ dirs.flatMap(scalaFiles)
    }

  /** The non-comment, non-import lines of every file under `roots`,
    * trimmed, as (relative file, line). */
  private def codeLines(roots: Seq[File]): Seq[(String, IndexedSeq[String])] = {
    val prefix = root.getPath + "/"
    roots.flatMap(scalaFiles).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try f.getPath.stripPrefix(prefix) -> src.getLines().map(_.trim).map { l =>
        if (l.startsWith("*") || l.startsWith("/*") || l.startsWith("//") ||
            l.startsWith("import ")) "" else l
      }.toIndexedSeq
      finally src.close()
    }
  }

  /** Every non-comment, non-import line under `roots` for which `hit`
    * holds, as (relative file, trimmed line) -> occurrence count. */
  protected def scan(roots: Seq[File])(hit: String => Boolean)
      : Map[(String, String), Int] =
    codeLines(roots).flatMap { case (rel, ls) =>
      ls.filter(l => l.nonEmpty && hit(l)).map(l => (rel, l))
    }.groupBy(identity).map { case (k, v) => k -> v.size }

  /** Like [[scan]], over call chains: a line for which `start` holds is
    * joined with the lines after it that continue its chain (while a
    * parenthesis is open, or the next line starts with `.`), and `hit` is
    * asked of the joined text. A hit is keyed by the chain's first line. */
  protected def scanChains(roots: Seq[File])(start: String => Boolean)(
      hit: String => Boolean): Map[(String, String), Int] =
    codeLines(roots).flatMap { case (rel, ls) =>
      ls.indices.filter(i => ls(i).nonEmpty && start(ls(i))).flatMap { i =>
        val chain = new StringBuilder(ls(i))
        def open = chain.count(_ == '(') > chain.count(_ == ')')
        var j = i + 1
        while (j < ls.size && (open || ls(j).startsWith("."))) { chain ++= ls(j); j += 1 }
        if (hit(chain.toString)) Some((rel, ls(i))) else None
      }
    }.groupBy(identity).map { case (k, v) => k -> v.size }

  /** Fails on a found site missing from `manifest` (with `advice` on how
    * to resolve it), on a manifest entry no longer found, and on an
    * occurrence count that differs from the manifest's. */
  protected def assertClassified(found: Map[(String, String), Int],
      manifest: Map[(String, String), (Int, String)], what: String,
      advice: String): Unit = {
    val unclassified = found.keySet -- manifest.keySet
    assert(unclassified.isEmpty,
      s"unclassified $what sites ($advice):\n  " +
        unclassified.toSeq.sorted.mkString("\n  "))
    val stale = manifest.keySet -- found.keySet
    assert(stale.isEmpty,
      s"stale manifest entries (site moved or removed - update the manifest):\n  " +
        stale.toSeq.sorted.mkString("\n  "))
    val miscounted = found.collect {
      case (k, n) if manifest(k)._1 != n => s"$k: found $n, manifest says ${manifest(k)._1}"
    }
    assert(miscounted.isEmpty, miscounted.mkString("\n"))
  }
}
