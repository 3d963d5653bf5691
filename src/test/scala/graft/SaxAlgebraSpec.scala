package graft

import org.scalatest.funsuite.AnyFunSuite

/** One SAX symbol algebra, kept structural (the [[StoreProtocolSpec]]
  * source-scan idiom): `graft.sax.Sax` is the one engine definition of the
  * reversed char mapping, the alphabet and the '#'-remapped cell distance,
  * and `GraftExtensions` the one SQL surface. A pruning rule once carried
  * its own copy of the cell distance, and it is only sound while it agrees
  * with the bound mindist scoring sums. This spec scans `src/main/scala`
  * outside `graft/sax/` and `graft/sql/` (the oracle keeps its own
  * derivation on purpose) and fails on a `distTable` reference, `- 'A'`
  * char arithmetic, or a `udf(` outside `SaxFunctions.scala`. Comment
  * lines are skipped, so a doc may still name them. Needs no SparkSession. */
class SaxAlgebraSpec extends AnyFunSuite {

  private val Root = "src/main/scala"
  private val Owners = Seq("graft/sax/", "graft/sql/")
  private val UdfHome = "SaxFunctions.scala"

  private val Patterns = Seq(
    "distTable" -> """\bdistTable\b""".r,
    "- 'A'" -> """-\s*'A'""".r,
    "udf(" -> """\budf\(""".r)

  /** (pattern name, path under [[Root]], line, text) of every pattern hit
    * on a non-comment line. */
  private def hits: Seq[(String, String, Int, String)] =
    for {
      (f, n, l) <- SourceLines(Root)
      (name, re) <- Patterns
      if re.findFirstIn(l).nonEmpty
    } yield (name, f, n, l)

  /** The boxed UDF may live only in [[UdfHome]], the algebra only in its
    * owners. */
  private def allowed(name: String, f: String): Boolean =
    if (name == "udf(") f.endsWith("/" + UdfHome) else Owners.exists(f.startsWith)

  test("the scan sees the symbol algebra and the reference UDF inside graft/sax") {
    val inSax = hits.filter(_._2.startsWith("graft/sax/")).map(_._1).toSet
    assert(inSax == Patterns.map(_._1).toSet,
      s"the scan found only $inSax inside graft/sax — run from the " +
        "repository root, or update the patterns with Sax")
  }

  test("no engine code outside graft.sax re-derives the SAX symbol algebra") {
    val stray = hits.filterNot(h => allowed(h._1, h._2))
    assert(stray.isEmpty,
      s"${stray.size} SAX algebra copies outside graft/sax — call Sax.cellDistSq, " +
        "Sax.charSymbol / symbolChar, Sax.alphabet, the Tables bounds, or the native " +
        "expressions through SaxFunctions / GraftExtensions instead:\n" +
        stray.map { case (p, f, n, l) => s"$f:$n: [$p] ${l.trim}" }.mkString("\n"))
  }
}
