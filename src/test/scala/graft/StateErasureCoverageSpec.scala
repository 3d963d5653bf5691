package graft

import graft.streaming.StreamingStateErasure
import graft.streaming.StreamingStateErasure.{ExemptState, ForgettingLeg}
import org.scalatest.funsuite.AnyFunSuite

/** Structural guard for live-state forgetting (the [[EstateCoverageSpec]]
  * idiom applied to GroupState instead of at-rest files): the r17 verdict's
  * #4 demanded that EVERY stateful streaming module forget an erased
  * user, and a hand-enumerated legs list would silently rot the moment a
  * round adds a new stateful module. This spec scans the streaming
  * sources (comment lines skipped) for stateful operators — a
  * [[graft.streaming.KeyedState]] declaration, a direct group-state call
  * or a `dropDuplicates*` — and asserts
  * [[StreamingStateErasure.stateCoverage]] classifies each module as a
  * forgetting leg (whose entry point must exist AND must call the
  * module's own `keyed` declaration — not a re-derived copy) or as an
  * explicit exemption with a stated reason that is also documented in the
  * wrapper's scaladoc. Adding an unclassified stateful
  * module reddens `sbt test`. It also keeps [[graft.streaming.KeyedState]]
  * the one per-key state operator: a `flatMapGroupsWithState` or
  * `mapGroupsWithState` call anywhere else under `src/main/scala` fails.
  * Needs no SparkSession.
  */
class StateErasureCoverageSpec extends AnyFunSuite {

  private val Streaming = "src/main/scala/graft/streaming"
  private val Operator = "KeyedState"
  private val Wrapper = "StreamingStateErasure"

  private val GroupStateCall = """\b(flatMapGroupsWithState|mapGroupsWithState)\b""".r
  /** A `KeyedState(...)` or `KeyedState[...](...)` construction. */
  private val Declares = """\bKeyedState\s*(\[[^\]]*\])?\s*\(""".r
  private val Stateful = Seq(Declares, GroupStateCall, """\bdropDuplicates""".r)

  /** Modules retaining cross-batch per-key state. The operator and the
    * wrapper are excluded — they are the mechanism, not business
    * modules. */
  private lazy val statefulModules: Set[String] =
    SourceLines(Streaming).collect {
      case (f, _, l) if Stateful.exists(_.findFirstIn(l).isDefined) => f.stripSuffix(".scala")
    }.toSet -- Set(Operator, Wrapper)

  private lazy val wrapperSrc = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get(s"$Streaming/$Wrapper.scala")),
    java.nio.charset.StandardCharsets.UTF_8)

  test("every stateful streaming module is classified (forgetting leg or exempt)") {
    val missing = statefulModules -- StreamingStateErasure.stateCoverage.keySet
    assert(missing.isEmpty,
      s"stateful streaming modules with no forgetting classification: " +
        s"${missing.toSeq.sorted.mkString(", ")} — add a ForgettingLeg to " +
        "StreamingStateErasure (a leg that forgets through the module's " +
        "KeyedState declaration + a StreamingStateErasureSpec proof) " +
        "or an ExemptState with the reason")
  }

  test("no stale coverage entries (every classified module is a real stateful module)") {
    val stale = StreamingStateErasure.stateCoverage.keySet -- statefulModules
    assert(stale.isEmpty,
      s"coverage entries for modules that are no longer stateful: " +
        s"${stale.toSeq.sorted.mkString(", ")}")
  }

  /** The wrapper's source of `def leg`, up to the next member's doc. */
  private def legSource(leg: String): String = {
    val from = wrapperSrc.indexOf(s"def $leg(")
    val to = wrapperSrc.indexOf("\n  /**", from)
    if (from < 0) "" else wrapperSrc.substring(from, if (to < 0) wrapperSrc.length else to)
  }

  test("each forgetting leg exists and composes the module's extracted update body") {
    val methods = StreamingStateErasure.getClass.getMethods.map(_.getName).toSet
    StreamingStateErasure.stateCoverage.foreach {
      case (module, ForgettingLeg(leg, _)) =>
        assert(methods.contains(leg),
          s"$module: declared leg $leg is not a method on StreamingStateErasure")
        // the leg must forget through the module's own declaration (the
        // entry's typed `Module.keyed`) — a copy of the state algebra
        // would drift silently
        assert(legSource(leg).contains(s"$module.keyed"),
          s"$module: $leg never calls $module.keyed — the leg must forget " +
            "through the module's own KeyedState declaration, not re-derive it")
      case _ => ()
    }
  }

  test("the wrapper declares no KeyedState of its own") {
    val own = SourceLines(Streaming).filter { case (f, _, l) =>
      f == s"$Wrapper.scala" && Declares.findFirstIn(l).nonEmpty
    }
    assert(own.isEmpty,
      s"$Wrapper declares a KeyedState — a leg must forget through its " +
        "module's declaration:\n" + own.map { case (f, n, l) => s"$f:$n: ${l.trim}" }.mkString("\n"))
  }

  test("each exemption has a substantive reason, documented in the wrapper's scaladoc") {
    StreamingStateErasure.stateCoverage.foreach {
      case (module, ExemptState(reason)) =>
        assert(reason.length > 40,
          s"$module: exemption reason too thin to audit: '$reason'")
        assert(wrapperSrc.contains(s"[[$module]]"),
          s"$module: exempt but never mentioned in StreamingStateErasure's " +
            "scaladoc — the exemption must be visible where a reader looks")
      case _ => ()
    }
  }

  test("every leg has a proof in StreamingStateErasureSpec") {
    val specSrc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/scala/graft/StreamingStateErasureSpec.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    StreamingStateErasure.stateCoverage.foreach {
      case (module, ForgettingLeg(leg, _)) =>
        assert(specSrc.contains(leg),
          s"$module: leg $leg has no reference in StreamingStateErasureSpec — " +
            "every leg needs a replay proof")
      case _ => ()
    }
  }

  /** (path under `src/main/scala`, line, text) of every non-comment
    * group-state call. */
  private def groupStateCalls: Seq[(String, Int, String)] =
    SourceLines("src/main/scala").filter(l => GroupStateCall.findFirstIn(l._3).nonEmpty)

  test("the scan sees the one flatMapGroupsWithState call inside KeyedState") {
    val inOperator = groupStateCalls.filter(_._1 == s"graft/streaming/$Operator.scala")
    assert(inOperator.exists(_._3.contains("flatMapGroupsWithState")),
      s"the scan found no flatMapGroupsWithState call in $Operator.scala — run " +
        "from the repository root, or update the pattern with the operator")
  }

  test("no module calls flatMapGroupsWithState or mapGroupsWithState outside KeyedState") {
    val stray = groupStateCalls.filterNot(_._1 == s"graft/streaming/$Operator.scala")
    assert(stray.isEmpty,
      s"${stray.size} group-state calls outside $Operator.scala — declare a " +
        "KeyedState (key, output mode, within-batch order, update body) and " +
        "call its run/forgetting instead:\n" +
        stray.map { case (f, n, l) => s"$f:$n: ${l.trim}" }.mkString("\n"))
  }
}
