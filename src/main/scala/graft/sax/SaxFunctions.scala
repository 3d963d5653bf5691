package graft.sax

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}

/** DataFrame column helpers over the native SAX expressions in
  * [[SaxExpressions]], plus [[saxMindist]], the boxed reference path for
  * differential tests. SQL names (`sax_encode`, `sax_encode_window`,
  * `sax_paa`, `sax_mindist`) come from [[graft.spark.GraftExtensions]]
  * alone. The canonical word form is the SAX string, so words group, join
  * and equality-compare with plain Spark operators (the reference's
  * `sts_words_equal` ignores n_values — string equality at fixed c matches
  * that exactly, SURVEY.md §2 op 14).
  */
object SaxFunctions {

  /** sax_mindist(a, nA, b, nB, c) -> struct(dist, above, below) as a boxed
    * UDF over [[Sax.mindist]]: an opaque ScalaUDF that MindistPruneRule
    * cannot match, so specs compare the pruned native plan against it.
    * Null when the words are incompatible (the reference returns NaN / Lua
    * nil). Reference sts_mindist_ab (src/symtseries.c:585-636). */
  val saxMindist: UserDefinedFunction =
    udf((a: String, aN: Long, b: String, bN: Long, c: Int) =>
      Sax.mindist(a, aN, b, bN, c))

  /** Column helpers for the DataFrame API: each builds the NATIVE codegen
    * expression (no UDF invocation or boxing in the hot path). */
  private def colOf(e: Expression): Column = GraftColumnBridge.column(e)

  // explicit Casts: the expressions read children positionally (ArrayData /
  // Long / Int) and would CCE in the interpreted path on e.g. an int
  // literal where a long is expected; Cast makes coercion analysis-time
  private def castE(c: Column, t: DataType): Expression =
    Cast(GraftColumnBridge.expression(c), t)
  private def doubles(values: Column): Expression = castE(values, ArrayType(DoubleType))

  def sax_encode(values: Column, w: Int, c: Int): Column =
    colOf(SaxEncodeExpr(doubles(values), Literal(w), Literal(c)))

  def sax_encode_window(values: Column, n: Int, w: Int, c: Int): Column =
    colOf(SaxEncodeWindowExpr(doubles(values), Literal(n), Literal(w), Literal(c)))

  def sax_paa(values: Column, w: Int): Column =
    colOf(SaxPaaExpr(doubles(values), Literal(w)))

  def sax_mindist(a: Column, aN: Column, b: Column, bN: Column, c: Int): Column =
    colOf(SaxMindistExpr(Seq(castE(a, StringType), castE(aN, LongType),
      castE(b, StringType), castE(bN, LongType), Literal(c))))
}
