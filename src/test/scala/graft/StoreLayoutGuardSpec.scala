package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the on-disk batch layout in one module: outside `graft/store/`,
  * no main source may rename a path or spell a `.staging-` dir in code
  * (comments excluded) — a store family publishes and swaps through
  * [[graft.store.BatchStore]].
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

  test("no .rename( call or .staging- literal outside graft/store") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root ($root)")
    val files = java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.toString.replace('\\', '/').contains("/graft/store/"))
    assert(files.size > 10)
    val hits = files.flatMap { f =>
      val code = codeOf(new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
      code.linesIterator.zipWithIndex.collect {
        case (l, i) if l.contains(".rename(") || l.contains(".staging-") => s"$f:${i + 1}: ${l.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("layout code outside graft/store:\n", "\n", ""))
  }
}
