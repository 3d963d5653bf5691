package graft.sql

import graft.sax.{Sax, Tables}

/** Generates DuckDB SQL fragments that reproduce the SAX operators
  * bit-for-bit, for the driver's oracle comparison.
  *
  * Two parity rules make hash-equality achievable:
  *
  *  1. Every float table constant is emitted as the EXACT double value the
  *     JVM computes when widening the Float (shortest round-trip decimal) —
  *     so DuckDB's double arithmetic sees the same operands as Scala.
  *  2. Rounding uses a portable formulation `floor(x * 10^d + 0.5) / 10^d`
  *     on both sides (IEEE-identical), never engine-native round(), whose
  *     half-way tie-breaking differs between engines.
  *
  * The symbolization CASE mirrors get_symbol exactly: `value < break_i`
  * comparisons against float-widened breakpoints, NaN -> '#', +Inf falls
  * through to the top sector, -Inf to the bottom
  * (/root/reference/src/symtseries.c:245-254).
  */
object OracleGen {

  /** Exact rendering of a Float widened to Double. The string-cast form is
    * essential: DuckDB parses bare numeric literals as DECIMAL first, and
    * DECIMAL->DOUBLE loses ulps for 17-significant-digit values; the
    * string->DOUBLE parse is correctly rounded. */
  def dlit(f: Float): String = dlit(f.toDouble)

  def dlit(d: Double): String = s"'${d.toString}'::DOUBLE"

  /** Portable round-half-up to `digits` decimals (same FP ops in Spark). */
  def sround(e: String, digits: Int): String = {
    val p = math.pow(10, digits).toLong
    s"floor(($e) * $p.0 + 0.5) / $p.0"
  }

  /** Order-independent portable sum (see QueryBase.xsum). */
  def xsumSql(e: String, digits: Int): String = {
    val p = math.pow(10, digits).toLong
    s"sum(floor(($e) * $p.0 + 0.5)) / $p.0"
  }

  /** SAX symbol char for a frame z-value expression `v` at cardinality c:
    * NaN -> '#', v < breaks(0) -> 'A', ..., else top char. */
  def symbolCase(v: String, c: Int): String = {
    val bs = Tables.breaks(c - 2)
    val whens = (0 until c - 1).map { i =>
      s"WHEN ($v) < ${dlit(bs(i))} THEN '${('A' + i).toChar}'"
    }.mkString(" ")
    s"(CASE WHEN isnan($v) THEN '#' $whens ELSE '${('A' + c - 1).toChar}' END)"
  }

  /** Normalized frame average for 1-based-inclusive slice [lo, hi] of list
    * column `vals`, given precomputed finite mean `mu` and population std
    * `std` columns. Mirrors apply_sax_transform: NaN-skipping frame sum;
    * empty/NaN sum -> NaN; non-finite sum bypasses normalization; std below
    * STS_STAT_EPS -> 0 (src/symtseries.c:358-396). */
  private def frameNorm(vals: String, lo: Int, hi: Int,
                        mu: String, std: String): String =
    frameNormExpr(vals, lo.toString, hi.toString, mu, std)

  /** [[frameNorm]] with the slice bounds as SQL expressions — the q102
    * variable-length-session case, where the frame size is a per-row
    * value (len // w), not a generation-time constant. */
  private def frameNormExpr(vals: String, lo: String, hi: String,
                            mu: String, std: String): String = {
    val fin = s"list_filter(($vals)[($lo):($hi)], x -> NOT isnan(x))"
    val sum = s"list_sum($fin)"
    val cnt = s"len($fin)"
    s"""(CASE WHEN $sum IS NULL OR isnan($sum) THEN 'NaN'::DOUBLE
        WHEN isinf($sum) THEN $sum
        WHEN ($std) < ${Tables.StatEps} THEN 0.0
        ELSE ($sum - $cnt * ($mu)) / ($cnt * ($std)) END)"""
      .replaceAll("\\s+", " ")
  }

  /** Full SAX word from a list column `vals` (length exactly n) with
    * precomputed `mu`/`std` columns. */
  def saxWordExpr(vals: String, mu: String, std: String,
                  n: Int, w: Int, c: Int): String = {
    require(n % w == 0)
    val fs = n / w
    val chars = (0 until w).map { i =>
      symbolCase(frameNorm(vals, i * fs + 1, (i + 1) * fs, mu, std), c)
    }
    chars.mkString("(", " || ", ")")
  }

  /** [[saxWordExpr]] for a list whose length is only known per row (the
    * q102 session encode): the frame size is the per-row `len // w`, so
    * `vals` may carry a non-multiple length — frames read exactly the
    * truncated prefix (`w * (len // w)` elements), matching
    * `Sax.encode(vs.take(n))` with n = len - len % w. `mu`/`std` MUST be
    * computed over that same prefix by the caller. */
  def saxWordExprDyn(vals: String, mu: String, std: String,
                     w: Int, c: Int): String = {
    val fs = s"(len($vals) // $w)"
    val chars = (0 until w).map { i =>
      symbolCase(frameNormExpr(vals, s"$i * $fs + 1", s"${i + 1} * $fs", mu, std), c)
    }
    chars.mkString("(", " || ", ")")
  }

  /** Finite-filtered values for the moment estimate. */
  def finExpr(vals: String): String = s"list_filter($vals, x -> isfinite(x))"

  /** Single-pass Welford moments over a finite-filtered list, as a struct
    * {s2, m, n} — the EXACT operation sequence of Sax.estimateMuStd /
    * estimate_mu_and_std (src/symtseries.c:257-280), so mu/std match the
    * Spark side bit-for-bit (engine-native avg/stddev_pop use a different
    * op order, which flips symbols on frames that normalize to exactly 0).
    *
    * Field-order caveat: DuckDB's list_reduce updates the accumulator
    * struct IN PLACE field by field, so 's2' (which reads the old mean)
    * must be declared BEFORE 'm'. */
  def welfordExpr(fin: String): String =
    s"""(CASE WHEN len($fin) = 0 THEN {'s2': 0.0::DOUBLE, 'm': 0.0::DOUBLE, 'n': 0::BIGINT}
        ELSE list_reduce(
          list_transform($fin, x -> {'s2': 0.0::DOUBLE, 'm': x, 'n': 1::BIGINT}),
          (acc, x) -> {'s2': acc.s2 + ((x.m - acc.m) * (x.m - acc.m) * acc.n) / (acc.n + 1),
                       'm': acc.m + (x.m - acc.m) / (acc.n + 1),
                       'n': acc.n + 1}) END)""".replaceAll("\\s+", " ")

  def wsMu(ws: String): String = s"($ws.m)"
  def wsStd(ws: String): String =
    s"(CASE WHEN $ws.n = 0 THEN 0.0 ELSE sqrt($ws.s2 / $ws.n) END)"

  /** Left-pad a list column with NaNs to length n (ring-prefill semantics
    * for partial windows, src/symtseries.c:313-315). */
  def padExpr(vals: String, n: Int): String =
    s"list_concat(list_transform(range($n - len($vals)), x -> 'NaN'::DOUBLE), $vals)"

  /** mindist of a word column against a LITERAL pattern (same w, c): emits
    * (above², below², dist) expressions whose additions happen in the same
    * order as Sax.mindistSymbols, with squared cell values precomputed in
    * Scala so both engines see identical literals. `n` is the reconciled
    * original-series length (pattern words parsed from strings have
    * n_values = 0 and adopt the column word's n). */
  final case class MindistSql(above2: String, below2: String,
                              dist: String, above: String, below: String)

  /** Shared symbol algebra: squared cell distance for raw internal symbols
    * (sentinel = c) with the '#'-maps-to-farthest rule, plus whether the
    * pair contributes to the `above` component. One definition feeds both
    * oracle forms so they cannot diverge from each other. It deliberately
    * does NOT call Sax.cellDistSq / Sax.charSymbol: the gate compares the
    * engine against this independent derivation, so sharing the engine's
    * definitions would make that check circular. */
  private def cellSq(saRaw: Int, sbRaw: Int, c: Int): (Double, Boolean) = {
    var sa = saRaw
    var sb = sbRaw
    if (sa == sb) return (0.0, true)
    if (sa == c) sa = if (sb > c - 1 - sb) 0 else c - 1
    else if (sb == c) sb = if (sa > c - 1 - sa) 0 else c - 1
    val d = Tables.distTable(c - 2)(sa * c + sb).toDouble
    (d * d, sa < sb)
  }

  private def symOf(ch: Char, c: Int): Int =
    if (ch == '#') c else c - (ch - 'A') - 1

  private def assemble(above2: String, below2: String, n: Long, w: Int,
                       digits: Int): MindistSql = {
    val comp = dlit(math.sqrt(n.toDouble / w.toDouble))
    MindistSql(
      above2, below2,
      sround(s"$comp * sqrt($above2 + $below2)", digits),
      sround(s"$comp * sqrt($above2)", digits),
      sround(s"$comp * sqrt($below2)", digits))
  }

  private def wordChars(c: Int): Seq[Char] =
    (0 until c).map(i => ('A' + i).toChar) :+ '#'

  /** mindist between two word COLUMNS (same w, c, n) — the general form
    * with no literal side: per position, a CASE over all (charA, charB)
    * combinations including the '#' sentinel, squared cells precomputed in
    * Scala. Addition order matches Sax.mindistSymbols (above and below
    * accumulate separately; zero terms are exact no-ops). */
  def mindistColCol(aCol: String, bCol: String, w: Int, n: Long, c: Int,
                    digits: Int = 6): MindistSql = {
    def caseFor(pos: Int, wantAbove: Boolean): String = {
      val arms = for {
        wa <- wordChars(c); wb <- wordChars(c)
        (sq, above) = cellSq(symOf(wa, c), symOf(wb, c), c)
        if sq != 0.0 && above == wantAbove
      } yield s"WHEN substr($aCol, ${pos + 1}, 1) = '$wa' AND substr($bCol, ${pos + 1}, 1) = '$wb' THEN ${dlit(sq)}"
      if (arms.isEmpty) "0.0"
      else s"(CASE ${arms.mkString(" ")} ELSE 0.0 END)"
    }
    assemble(
      (0 until w).map(caseFor(_, wantAbove = true)).mkString("(", " + ", ")"),
      (0 until w).map(caseFor(_, wantAbove = false)).mkString("(", " + ", ")"),
      n, w, digits)
  }

  def mindistVsLiteral(wordCol: String, pattern: String, n: Long, c: Int,
                       digits: Int = 6): MindistSql = {
    val pSym = Sax.parseSymbols(pattern, c)
    require(pSym != null, s"bad pattern $pattern at c=$c")
    val w = pattern.length
    def caseFor(pi: Int, wantAbove: Boolean): String = {
      val whens = wordChars(c).flatMap { wc =>
        val (sq, above) = cellSq(symOf(wc, c), pSym(pi), c)
        if (sq != 0.0 && above == wantAbove)
          Some(s"WHEN '$wc' THEN ${dlit(sq)}")
        else None
      }
      if (whens.isEmpty) "0.0"
      else s"(CASE substr($wordCol, ${pi + 1}, 1) ${whens.mkString(" ")} ELSE 0.0 END)"
    }
    assemble(
      (0 until w).map(caseFor(_, wantAbove = true)).mkString("(", " + ", ")"),
      (0 until w).map(caseFor(_, wantAbove = false)).mkString("(", " + ", ")"),
      n, w, digits)
  }
}
