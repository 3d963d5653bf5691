package graft.spark

import graft.sax.{Sax, SaxMindistExpr, Tables}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** iSAX-style pruning for pattern-threshold searches — the one
  * reference-motivated optimization Catalyst cannot infer (SURVEY.md §4):
  *
  * `sax_mindist(word, n, 'PATTERN', 0, c).dist <= τ` implies, for EVERY
  * word position i, that the single-position lower bound already fits:
  * (n/w) * cell(word[i], pattern[i])² <= τ². Positions where some symbols
  * violate that get an injected `substring(word, i+1, 1) IN (allowed)`
  * conjunct — a plain string predicate that existing rules push toward the
  * scan (and, on a word-bucketed layout, into partition pruning), so
  * non-candidate words never reach the mindist evaluation.
  *
  * The WORD-vs-WORD form (`sax_mindist(a.word, n, b.word, n, c).dist <= τ`
  * as a join predicate — dictionary distance matrices, HUGE pattern
  * collections, /root/reference/README.md:32) gets the pair analogue: per
  * position, `concat(substring(a,i,1), substring(b,i,1)) IN (allowedPairs)`
  * prepended to the join condition. The symbol pair set is w-independent
  * (comp² = n/w >= 1 since w <= n, so cell² <= τ² is a sound necessary
  * condition at ANY word length), and the cheap string conjuncts
  * short-circuit the expensive mindist for non-candidate pairs. Threshold
  * searches against large filtered dictionaries skip the distance kernel
  * for every pruned symbol combination.
  *
  * Soundness: dist = comp·sqrt(Σ cell²) >= comp·|cell_i| for any i, so
  * dropping rows with comp²·cell_i² > τ² can never drop a true match. The
  * portable-rounding wrapper floor(dist*10^d+0.5)/10^d <= τ admits dist up
  * to τ + 0.5/10^d; the allowed-set threshold adds that margin. Pair
  * predicates guard on `length(a) <= i` so they never judge positions that
  * don't exist (rows with mismatched lengths produce NULL mindist and are
  * dropped by the original predicate on both paths).
  */
object MindistPruneRule extends Rule[LogicalPlan] {

  /** Positions covered by injected word-vs-word pair predicates (word
    * length is unknown at plan time, so the prefix depth is fixed). */
  private val PairPruneDepth = 4

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val extra = freshPrunes(cond)
      if (extra.isEmpty) f
      else Filter((extra :+ cond).reduce(And), child)
    // threshold predicates that already migrated into an inner/cross join
    // condition (the dictionary-join shape): prepend the pair prunes so
    // they evaluate before the mindist kernel
    case j @ Join(_, _, Inner | Cross, Some(cond), _) =>
      val extra = freshPrunes(cond)
      if (extra.isEmpty) j
      else j.copy(condition = Some((extra :+ cond).reduce(And)))
  }

  /** Prune predicates not yet present. Presence is judged by the probe KEY
    * (the substring/concat expression), not the whole predicate: later
    * optimizer rules rewrite the injected `In` lists (e.g. OptimizeIn →
    * InSet), and a structural whole-predicate check would re-inject on the
    * next fixed-point iteration, forever. */
  private def freshPrunes(cond: Expression): Seq[Expression] = {
    val conjuncts = splitConjuncts(cond)
    conjuncts.flatMap(prefilterFor)
      .filter { case (key, _) =>
        !conjuncts.exists(c => c.find(_.semanticEquals(key)).isDefined)
      }
      .map(_._2).distinct
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other     => Seq(other)
  }

  /** Recognize `dist-ish <= τ` where dist-ish is the mindist struct's dist
    * field, optionally wrapped in the portable rounding arithmetic.
    * Returns (probe key, predicate) pairs. */
  private def prefilterFor(conjunct: Expression): Seq[(Expression, Expression)] = conjunct match {
    case LessThanOrEqual(left, Literal(t: Double, DoubleType)) =>
      unwrapDist(left).toSeq.flatMap { case (md, margin) => allowedPredicates(md, t + margin) }
    case GreaterThanOrEqual(Literal(t: Double, DoubleType), right) =>
      unwrapDist(right).toSeq.flatMap { case (md, margin) => allowedPredicates(md, t + margin) }
    case _ => Nil
  }

  private def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case other   => other
  }

  /** Returns the SaxMindistExpr and the rounding slack of the wrapper. */
  private def unwrapDist(e: Expression): Option[(SaxMindistExpr, Double)] =
    stripCast(e) match {
      case GetStructField(md: SaxMindistExpr, 0, _) => Some((md, 0.0))
      case Divide(num, Literal(p2: Double, DoubleType), _) =>
        stripCast(num) match {
          // bare floor(dist * p + 0.5) / p (OracleGen.sround's shape;
          // QueryBase.pround pre-r15). Floor yields LONG so Catalyst
          // inserts Casts around it
          case Floor(Add(Multiply(inner, Literal(p1: Double, DoubleType), _), _, _))
            if p1 == p2 && p1 > 0 =>
            unwrapDist(inner).map { case (md, m) => (md, m + 0.5 / p1) }
          // r15 pround: CASE WHEN abs(x) >= 2^52 THEN x ELSE floor(x) END
          // — the overflow-guarded double floor. Both branches stay within
          // 1 of x, so the slack bound is the same 0.5/p (and mindist
          // magnitudes never reach the passthrough branch anyway). The
          // threshold literal is PINNED to pround's 2^52 so the pattern
          // can't claim an unrelated abs-guarded CASE WHEN that merely
          // shares the shape (r15 ADVICE #5).
          case CaseWhen(Seq((GreaterThanOrEqual(Abs(xa, _), Literal(t: Double, DoubleType)), thenV)),
                        Some(elseV))
            if t == 4503599627370496.0 && thenV.semanticEquals(xa) =>
            (stripCast(elseV), xa) match {
              case (Floor(fx), Add(Multiply(inner, Literal(p1: Double, DoubleType), _), _, _))
                if fx.semanticEquals(xa) && p1 == p2 && p1 > 0 =>
                unwrapDist(inner).map { case (md, m) => (md, m + 0.5 / p1) }
              case _ => None
            }
          case _ => None
        }
      case _ => None
    }

  /** Squared cell distance of a word char against an internal symbol —
    * [[Sax.cellDistSq]], the bound mindist scoring itself sums, so a
    * pruned row can never be one the score would keep. */
  private def dist2(ch: Char, symbol: Int, c: Int): Double =
    math.abs(Sax.cellDistSq(Sax.charSymbol(ch, c), symbol, c))

  private def allowedPredicates(md: SaxMindistExpr, tau: Double): Seq[(Expression, Expression)] = {
    md.children match {
      case Seq(wordExpr, Literal(nA: Long, _), Literal(pat: UTF8String, StringType),
               Literal(0L, _), Literal(c: Int, _)) =>
        val pSym = Sax.parseSymbols(pat.toString, c)
        if (pSym == null || tau < 0) return Nil
        val w = pSym.length
        val n = if (nA > 0) nA else w.toLong
        val comp2 = n.toDouble / w.toDouble
        val chars = Sax.alphabet(c)
        (0 until w).flatMap { i =>
          val allowed = chars.filter(ch => comp2 * dist2(ch, pSym(i), c) <= tau * tau)
          // only inject when the position actually prunes something
          if (allowed.length == chars.length || allowed.isEmpty) None
          else {
            val key = Substring(wordExpr, Literal(i + 1), Literal(1))
            Some(key -> In(key,
              allowed.map(ch => Literal(UTF8String.fromString(ch.toString), StringType))))
          }
        }

      // word vs word (neither side a literal pattern): per-position pair
      // membership, identical at every position, fixed prefix depth
      case Seq(wordA, Literal(_: Long, _), wordB, Literal(_: Long, _), Literal(c: Int, _))
          if c >= Tables.MinCardinality && c <= Tables.MaxCardinality && tau >= 0 &&
            !wordA.isInstanceOf[Literal] && !wordB.isInstanceOf[Literal] =>
        val chars = Sax.alphabet(c)
        // comp² = n/w >= 1 for every valid (n, w): the w-independent bound
        val allowed = for {
          a <- chars; b <- chars if dist2(a, Sax.charSymbol(b, c), c) <= tau * tau
        } yield s"$a$b"
        if (allowed.length == chars.length * chars.length) return Nil
        val inList = allowed.map(s => Literal(UTF8String.fromString(s), StringType))
        (0 until PairPruneDepth).map { i =>
          val key = Concat(Seq(Substring(wordA, Literal(i + 1), Literal(1)),
                               Substring(wordB, Literal(i + 1), Literal(1))))
          key -> Or(LessThanOrEqual(Length(wordA), Literal(i)), In(key, inList))
        }

      case _ => Nil
    }
  }
}
