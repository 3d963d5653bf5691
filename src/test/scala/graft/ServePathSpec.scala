package graft

import org.scalatest.funsuite.AnyFunSuite

/** One ANN serve path, kept structural (the [[SourceEncodingSpec]]
  * source-scan idiom): every persisted IVF and multimodal serve reads its
  * probed cells through `QueryBase.probedCodes`, the one place that
  * prunes a cell-bucketed code table with a literal `cell IN (...)` and
  * anti-joins tombstones on `cell`. Seven near-copies of that step once
  * drifted apart (only two guarded an empty probed-cell list). This spec
  * scans `src/main/scala/graft/queries` and fails on any such prune or
  * anti join outside the helper, so another serve copy reddens the suite
  * instead of slipping in. Needs no SparkSession. */
class ServePathSpec extends AnyFunSuite {

  private val Root = "src/main/scala/graft/queries"
  private val Helper = "QueryBase.scala"
  private val HelperDef = "def probedCodes("

  private val CellIn = """col\(\s*"cell"\s*\)\s*\.isin\(""".r

  /** (file name, 1-based line, text) of every line under [[Root]],
    * comment lines included. */
  private def lines: Seq[(String, Int, String)] = SourceLines(Root, skip = Nil)

  /** Lines that prune by `cell IN` or anti-join on `cell` (a join whose
    * `"left_anti"` line or the line before it names `"cell"`). */
  private def hits: Seq[(String, Int, String)] = {
    val ls = lines
    ls.zipWithIndex.collect {
      case ((f, n, l), i) if CellIn.findFirstIn(l).nonEmpty ||
          (l.contains("\"left_anti\"") && (l.contains("\"cell\"") ||
            (i > 0 && ls(i - 1)._1 == f && ls(i - 1)._3.contains("\"cell\"")))) =>
        (f, n, l)
    }
  }

  /** The helper's line span in [[Helper]]: its `def` line through the
    * first later line indented no deeper than the `def` (the closing
    * brace or the next member). Empty when the helper is missing, so
    * every hit then counts as a copy. */
  private def helperSpan: Range = {
    val src = lines.filter(_._1 == Helper)
    src.find(_._3.contains(HelperDef)).fold(0 until 0) { start =>
      val indent = start._3.indexWhere(_ != ' ')
      val end = src.dropWhile(_._2 <= start._2)
        .find(l => l._3.trim.nonEmpty && l._3.indexWhere(_ != ' ') <= indent)
        .map(_._2).getOrElse(src.last._2)
      start._2 to end
    }
  }

  test("the scan sees the one serve path's prune and anti join") {
    val span = helperSpan
    assert(span.nonEmpty, s"$Helper no longer defines $HelperDef")
    val inHelper = hits.filter(h => h._1 == Helper && span.contains(h._2))
    assert(inHelper.exists(h => CellIn.findFirstIn(h._3).nonEmpty),
      s"the scan found no `cell IN` prune inside $HelperDef — run from the " +
        "repository root, or update the pattern with the helper")
    assert(inHelper.exists(_._3.contains("\"left_anti\"")),
      s"the scan found no tombstone anti join inside $HelperDef")
  }

  test("no query file prunes by cell IN or anti-joins tombstones outside probedCodes") {
    val span = helperSpan
    val stray = hits.filterNot(h => h._1 == Helper && span.contains(h._2))
    assert(stray.isEmpty,
      s"${stray.size} serve-path copies outside QueryBase.probedCodes — " +
        "read the probed cells through it instead:\n" +
        stray.map { case (f, n, l) => s"$f:$n: ${l.trim}" }.mkString("\n"))
  }
}
