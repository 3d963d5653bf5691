package graft.sax

/** Pure-Scala SAX (Symbolic Aggregate approXimation) core.
  *
  * Re-implements the operator semantics of the reference library
  * (Quadrocube/symtseries, see /root/repo/SURVEY.md §2) as pure functions on
  * `Array[Double]` / `String`, independent of Spark — the Spark layer wraps
  * these as native Catalyst expressions / stateful operators.
  *
  * Canonical word form is the SAX *string* (`'A'` = lowest sector ascending,
  * `'#'` = all-NaN frame) plus the pair (nValues, c) carried alongside where
  * needed. Internally symbols use the reversed iSAX ordering of the
  * reference: symbol 0 is the HIGHEST sector, `c-1` the lowest, `c` the NaN
  * sentinel (/root/reference/src/symtseries.c:245-254, 556-576).
  *
  * Semantics preserved exactly (SURVEY.md §2.4):
  *  - float breakpoint tables compared against double values;
  *  - Welford single-pass moments over finite values, population std;
  *  - stationary guard: std < 1e-2 => normalized value 0;
  *  - NaN excluded from frame sums; ±Inf included (dominates); Inf + (-Inf)
  *    in one frame => NaN symbol; all-NaN frame => NaN symbol;
  *  - mindist: NaN symbol maps to the farthest symbol of the other word,
  *    compression factor sqrt(n/w), above/below split by reversed order.
  */
object Sax {

  /** Reference API version this library is semantics-compatible with
    * (lua `sax.version()`, /root/reference/lua/lua_sax.c:381-385). */
  final val CompatVersion = "0.5.0"

  import Tables._

  /** Result of a mindist computation (reference `sts_mindist_ab`,
    * /root/reference/src/symtseries.c:585-636). */
  final case class MinDist(dist: Double, above: Double, below: Double)

  /** Construction caps of the reference API (lua check_nwc,
    * /root/reference/lua/lua_sax.c:26-35). They bound numeric
    * constructors only — string parse (sts_from_sax_string) checks just
    * the cardinality, so parse paths don't route through [[validNwc]]. */
  final val MaxNValues = 4096
  final val MaxWordLen = 2048

  @inline def validNwc(n: Int, w: Int, c: Int): Boolean =
    n > 1 && n <= MaxNValues && w > 1 && w <= MaxWordLen && n % w == 0 &&
      c >= MinCardinality && c <= MaxCardinality

  /** z-value -> symbol in reversed iSAX ordering; NaN -> sentinel `c`,
    * +Inf -> 0 (top sector), -Inf -> c-1 (bottom) via comparison
    * fallthrough. Reference: src/symtseries.c:245-254. */
  def getSymbol(value: Double, c: Int): Int = {
    if (java.lang.Double.isNaN(value)) return c
    val bs = breaks(c - MinCardinality)
    var i = 0
    while (i < c - 1) {
      if (value < bs(i)) return c - i - 1
      i += 1
    }
    0
  }

  @inline private def isFinite(v: Double): Boolean =
    !java.lang.Double.isNaN(v) && !java.lang.Double.isInfinite(v)

  /** Single-pass Welford mean + POPULATION std over finite values only;
    * all-non-finite -> (0, 0). Reference: src/symtseries.c:257-280. */
  def estimateMuStd(series: Array[Double]): (Double, Double) = {
    var mean = 0.0
    var s2 = 0.0
    var n = 0L
    var i = 0
    while (i < series.length) {
      val value = series(i)
      if (isFinite(value)) {
        n += 1
        s2 += ((value - mean) * (value - mean) * (n - 1)) / n
        mean += (value - mean) / n
      }
      i += 1
    }
    if (n == 0) (0.0, 0.0) else (mean, math.sqrt(s2 / n))
  }

  /** Normalized value of ONE PAA frame: the `frameSize` values starting at
    * `begin` in `series`, treated as a ring that wraps at the array end.
    * NaN values leave the frame sum and count; an all-NaN frame or
    * Inf + (-Inf) gives NaN, ±Inf passes through, std < StatEps gives 0.
    * The one frame z-score rule behind [[saxTransform]] and
    * [[paaNormalized]]. */
  def frameZ(series: Array[Double], begin: Int, frameSize: Int,
             mu: Double, std: Double): Double = {
    val len = series.length
    var vi = begin
    var sum = 0.0
    var cnt = frameSize
    var j = 0
    while (j < frameSize) {
      val v = series(vi)
      if (java.lang.Double.isNaN(v)) cnt -= 1 else sum += v
      vi += 1
      if (vi == len) vi = 0
      j += 1
    }
    if (cnt == 0 || java.lang.Double.isNaN(sum)) Double.NaN
    else if (!isFinite(sum)) sum
    else if (std < StatEps) 0.0
    else (sum - cnt * mu) / (cnt * std)
  }

  /** PAA + z-normalize + symbolize. Writes `w` symbols for the `n` values
    * starting at `begin` in `series`, treating `series` as a ring that wraps
    * at the array end (begin=0 on a plain array is the batch case).
    * Reference: src/symtseries.c:358-396. */
  def saxTransform(series: Array[Double], begin: Int, n: Int, w: Int, c: Int,
                   mu: Double, std: Double, out: Array[Int]): Unit = {
    val frameSize = n / w
    val len = series.length
    var vi = begin
    var i = 0
    while (i < w) {
      out(i) = getSymbol(frameZ(series, vi, frameSize, mu, std), c)
      vi += frameSize
      if (vi >= len) vi -= len
      i += 1
    }
  }

  /** Batch encode to internal symbols; null on invalid args.
    * Reference: sts_from_double_array, src/symtseries.c:515-532. */
  def encodeSymbols(series: Array[Double], w: Int, c: Int): Array[Int] = {
    if (series == null || series.length == 0 || !validNwc(series.length, w, c))
      return null
    val (mu, std) = estimateMuStd(series)
    val out = new Array[Int](w)
    saxTransform(series, 0, series.length, w, c, mu, std, out)
    out
  }

  /** Batch encode to a SAX string; null on invalid args. */
  def encode(series: Array[Double], w: Int, c: Int): String = {
    val sym = encodeSymbols(series, w, c)
    if (sym == null) null else render(sym, c)
  }

  /** Encode the trailing window of size `n`: if fewer than n values are
    * given, left-pad with NaN (ring prefill semantics,
    * src/symtseries.c:313-315); if more, keep only the last n
    * (src/symtseries.c:506-508). */
  def encodePadded(values: Array[Double], n: Int, w: Int, c: Int): String = {
    if (values == null || !validNwc(n, w, c)) return null
    val buf = Array.fill(n)(Double.NaN)
    val m = math.min(values.length, n)
    var i = 0
    while (i < m) {
      buf(n - m + i) = values(values.length - m + i)
      i += 1
    }
    encode(buf, w, c)
  }

  /** Normalized PAA frame values (the z-scores that symbolization would
    * bucket): [[frameZ]] per frame, minus the final symbol lookup. */
  def paaNormalized(series: Array[Double], w: Int): Array[Double] = {
    if (series == null || series.length == 0 || series.length % w != 0)
      return null
    val (mu, std) = estimateMuStd(series)
    val frameSize = series.length / w
    val out = new Array[Double](w)
    var i = 0
    while (i < w) {
      out(i) = frameZ(series, i * frameSize, frameSize, mu, std)
      i += 1
    }
    out
  }

  /** Internal symbol -> SAX char: the reversed mapping `c - symbol - 1 + 'A'`
    * ('A' = lowest sector), '#' for the NaN sentinel `c`. Reference:
    * src/symtseries.c:556-576. */
  @inline def symbolChar(symbol: Int, c: Int): Char =
    if (symbol == c) '#' else (c - symbol - 1 + 'A').toChar

  /** SAX char -> internal symbol, the inverse of [[symbolChar]]; -1 for a
    * char outside [A, A+c) that is not '#'. */
  @inline def charSymbol(ch: Char, c: Int): Int =
    if (ch == '#') c
    else if (ch < 'A' || ch >= 'A' + c) -1
    else c - (ch - 'A') - 1

  /** Every char a word at cardinality c may hold: 'A', 'B', …, then '#'. */
  def alphabet(c: Int): IndexedSeq[Char] =
    ((c - 1 to 0 by -1) :+ c).map(symbolChar(_, c))

  /** Squared distance of one cell (sa, sb) of internal symbols, with its
    * side as the sign: positive counts toward `above` (sa < sb), negative
    * toward `below`, 0 for equal symbols. The NaN sentinel `c` maps to the
    * symbol FARTHEST from the other side's symbol (ties to the lowest
    * sector, c-1 in reversed order). Reference: src/symtseries.c:585-636. */
  def cellDistSq(sa: Int, sb: Int, c: Int): Double = {
    if (sa == sb) return 0.0
    var x = sa
    var y = sb
    if (x == c) x = if (y > c - 1 - y) 0 else c - 1
    else if (y == c) y = if (x > c - 1 - x) 0 else c - 1
    val d = distTable(c - MinCardinality)(x * c + y).toDouble
    if (x < y) d * d else -(d * d)
  }

  /** Render internal symbols as a SAX string ('A' lowest, '#' NaN frame).
    * Reference: sts_word_to_sax_string, src/symtseries.c:556-576. */
  def render(symbols: Array[Int], c: Int): String = {
    val sb = new java.lang.StringBuilder(symbols.length)
    var i = 0
    while (i < symbols.length) {
      if (symbols(i) > c) return null
      sb.append(symbolChar(symbols(i), c))
      i += 1
    }
    sb.toString
  }

  /** Parse a SAX string to internal symbols; null when invalid (empty, char
    * out of [A, A+c) and not '#', bad c). A parsed word has nValues = 0
    * ("wildcard length"). Reference: sts_from_sax_string,
    * src/symtseries.c:534-554. */
  def parseSymbols(s: String, c: Int): Array[Int] = {
    if (s == null || s.isEmpty || c < MinCardinality || c > MaxCardinality)
      return null
    val out = new Array[Int](s.length)
    var i = 0
    while (i < s.length) {
      out(i) = charSymbol(s.charAt(i), c)
      if (out(i) < 0) return null
      i += 1
    }
    out
  }

  /** True iff `s` is a well-formed SAX string at cardinality c. */
  def isValidWord(s: String, c: Int): Boolean = parseSymbols(s, c) != null

  /** Lower-bounding distance between two words given as internal symbol
    * arrays with their original-series lengths (0 = wildcard). Returns null
    * for incompatible words (different w or c, or incompatible n) — the
    * reference returns NaN / Lua nil. Reference: src/symtseries.c:585-636. */
  def mindistSymbols(a: Array[Int], aN: Long, b: Array[Int], bN: Long,
                     c: Int): MinDist = {
    if (a == null || b == null || a.length != b.length) return null
    if (aN < 0 || bN < 0) return null // size_t in the reference; reject here
    if (aN != bN && aN != 0 && bN != 0) return null
    if (c < MinCardinality || c > MaxCardinality) return null
    val w = a.length
    var n = if (aN > 0) aN else bN
    if (n == 0) n = w // compression rate of 1
    var above = 0.0
    var below = 0.0
    var i = 0
    while (i < w) {
      val d2 = cellDistSq(a(i), b(i), c)
      if (d2 > 0) above += d2 else below -= d2
      i += 1
    }
    val compression = math.sqrt(n.toDouble / w.toDouble)
    MinDist(compression * math.sqrt(above + below),
            compression * math.sqrt(above),
            compression * math.sqrt(below))
  }

  /** mindist on SAX strings. */
  def mindist(a: String, aN: Long, b: String, bN: Long, c: Int): MinDist =
    mindistSymbols(parseSymbols(a, c), aN, parseSymbols(b, c), bN, c)

  /** Word equality: same w, c and symbols; nValues deliberately ignored
    * (reference sts_words_equal, src/symtseries.c:638-645). With canonical
    * SAX strings at the same cardinality this is plain string equality. */
  def wordsEqual(a: String, b: String): Boolean = a != null && a == b
}
