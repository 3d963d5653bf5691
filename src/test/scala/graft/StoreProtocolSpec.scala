package graft

import org.scalatest.funsuite.AnyFunSuite

/** One id-keyed store protocol, kept structural (the [[ServePathSpec]]
  * source-scan idiom): every `batch=<id>/` store in `graft.streaming`
  * goes through `GenerationalStore` in `IdKeyedStore.scala` for its
  * replay skip, prior snapshot, compaction and stream wiring. Seven
  * stores once carried near-copies of those steps, with two read paths
  * over one layout. This spec scans `src/main/scala/graft/streaming` and
  * fails on a call to the protocol's internals, or a hand-rolled
  * `compactEvery` hook, outside the helper file. Comment lines are
  * skipped, so a doc may still name them. Needs no SparkSession. */
class StoreProtocolSpec extends AnyFunSuite {

  private val Root = "src/main/scala/graft/streaming"
  private val Helper = "IdKeyedStore.scala"

  private val Internal =
    """\b(activeGeneration|looseIds|compactableIds|writeGeneration|batchApplied)\(""".r
  private val Hook = """\bcompactEvery\s*\.""".r

  /** (file name, 1-based line, text) of every non-comment line under
    * [[Root]] that calls an internal or the hook. */
  private def hits: Seq[(String, Int, String)] = SourceLines(Root).filter { case (_, _, l) =>
    Internal.findFirstIn(l).nonEmpty || Hook.findFirstIn(l).nonEmpty
  }

  test("the scan sees the protocol's internals and hook inside the helper") {
    val inHelper = hits.filter(_._1 == Helper).map(_._3)
    val called = inHelper.filterNot(_.contains("def "))
      .flatMap(l => Internal.findAllMatchIn(l).map(_.group(1))).toSet
    assert(Set("activeGeneration", "looseIds", "compactableIds").subsetOf(called),
      s"the scan found only $called called inside $Helper — run from the " +
        "repository root, or update the pattern with the helper")
    assert(inHelper.exists(l => Hook.findFirstIn(l).nonEmpty),
      s"the scan found no compactEvery hook inside $Helper")
  }

  test("no streaming module hand-rolls the id-keyed store protocol") {
    val stray = hits.filterNot(_._1 == Helper)
    assert(stray.isEmpty,
      s"${stray.size} store-protocol copies outside $Helper — go through " +
        "GenerationalStore's landBatch/snapshot/read/compact/start instead:\n" +
        stray.map { case (f, n, l) => s"$f:$n: ${l.trim}" }.mkString("\n"))
  }
}
