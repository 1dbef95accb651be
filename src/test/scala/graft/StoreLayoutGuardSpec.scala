package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the on-disk batch layout and the choice of local file system in
  * one module: outside `graft/store/`, no main source may rename a path,
  * spell a `.staging-` dir or build a local file system in code (comments
  * excluded) — a store family publishes and swaps through
  * [[graft.store.BatchStore]], and every session's `file:` scheme is
  * [[graft.store.LocalFs]]. A declared store family's lock, build guard,
  * heals and compactions run through [[graft.store.BatchStore]]'s family
  * operations. Every store maintainer streams through the one driver,
  * [[graft.streaming.StreamingPipeline.maintain]].
  */
class StoreLayoutGuardSpec extends AnyFunSuite {

  /** `src` with comments blanked; block comments keep their newlines so
    * line numbers still point into the file.
    */
  private def codeOf(src: String): String =
    "(?s)/\\*.*?\\*/".r.replaceAllIn(src, m => "\n" * m.matched.count(_ == '\n'))
      .linesIterator
      .map(l => l.indexOf("//") match { case -1 => l; case i => l.take(i) })
      .mkString("\n")

  /** Every code line of a main source whose path `keep` selects that `hit`
    * flags, as `file:line: code`.
    */
  private def hits(keep: String => Boolean)(hit: String => Boolean): Seq[String] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root ($root)")
    val files = java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .filter(f => keep(f.toString.replace('\\', '/')))
    assert(files.size > 10)
    files.flatMap { f =>
      val code = codeOf(new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
      code.linesIterator.zipWithIndex.collect {
        case (l, i) if hit(l) => s"$f:${i + 1}: ${l.trim}"
      }
    }
  }

  private def hitsOutsideStore(hit: String => Boolean): Seq[String] =
    hits(!_.contains("/graft/store/"))(hit)

  test("no .rename( call or .staging- literal outside graft/store") {
    val hits = hitsOutsideStore(l => l.contains(".rename(") || l.contains(".staging-"))
    assert(hits.isEmpty, hits.mkString("layout code outside graft/store:\n", "\n", ""))
  }

  test("no local file system chosen outside graft/store") {
    val hits = hitsOutsideStore(l => Seq("new RawLocalFileSystem", "new LocalFileSystem",
      "FileSystem.getLocal(").exists(l.contains))
    assert(hits.isEmpty, hits.mkString(
      "local file system chosen outside graft/store (sessions use graft.store.LocalFs):\n", "\n", ""))
  }

  test("store transactions run through the family operations: no build guard, minor heal or minor compaction outside graft/store") {
    val hits = hitsOutsideStore(l =>
      Seq("requireNoPendingBuild(", "recoverMinor(", "compactMinor(").exists(l.contains))
    assert(hits.isEmpty, hits.mkString(
      "store transaction steps outside graft/store (declare a StoreFamily and use " +
        "BatchStore.maintain/land/retire/compactStore/live):\n", "\n", ""))
  }

  test("one stream chain: exactly one .writeStream in the code of src/main") {
    val found = hits(_ => true)(_.contains(".writeStream"))
    assert(found.size == 1, found.mkString(
      "store maintainers stream through StreamingPipeline.maintain:\n", "\n", ""))
  }

  test("no session-wide partition overwrite mode: writes pass it as a per-write option") {
    val found = hits(_ => true)(l => Seq("conf.set(", "conf.unset(").exists(l.contains) &&
      l.contains("partitionOverwriteMode"))
    assert(found.isEmpty, found.mkString(
      "session conf partitionOverwriteMode set in src/main (a concurrent writer in the " +
        "session sees it; use .option(\"partitionOverwriteMode\", \"dynamic\")):\n", "\n", ""))
  }
}
