package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sax.{Sax, SaxFunctions, SaxWindow}

/** Single-thread driver loops over the SAX kernel, and projections over a
  * cached array column for the native Catalyst expressions. Every loop
  * runs over values the workload generated, repeats until a time budget
  * is spent, and reports the median of its repetitions. */
object Kernels {
  private val N = 8
  private val W = 4
  private val C = 4
  private val Reps = 3

  @volatile private var sink: Long = 0L // keeps the JIT from eliding loop bodies

  /** Median ns per call of `body(i)` over `count` calls, repeated. */
  private def nsPerCall(count: Int, minNanos: Long)(body: Int => Long): Double = {
    def once(): Double = {
      var calls = 0L
      var acc = 0L
      val t0 = System.nanoTime()
      var t = t0
      while (t - t0 < minNanos) {
        var i = 0
        while (i < count) { acc += body(i); i += 1 }
        calls += count
        t = System.nanoTime()
      }
      sink += acc
      (t - t0).toDouble / calls
    }
    once() // warm
    Stats.median(Seq.fill(Reps)(once()))
  }

  /** The i-th 8-value window of `values`, wrapping around its end. */
  private def window(values: Array[Double], i: Int): Array[Double] =
    Array.tabulate(N)(k => values((i * N + k) % values.length))

  /** The kernel layer: ns per call and the single-thread append rate. */
  def kernel(values: Array[Double], tracer: Tracer): Map[String, Double] = tracer.span("kernel") {
    val m = 1 << 15
    val windows = Array.tabulate(m)(window(values, _))
    val words = windows.map(Sax.encode(_, W, C))
    val budget = 40L * 1000 * 1000
    val win = new SaxWindow(N, W, C)
    val append = nsPerCall(values.length, budget)(i => win.append(values(i)).length.toLong)
    Map(
      "sax.encode_ns" -> nsPerCall(m, budget)(i => Sax.encode(windows(i), W, C).length.toLong),
      "sax.window_append_ns" -> append,
      "sax.append_values_per_s" -> 1e9 / append,
      "sax.mindist_ns" -> nsPerCall(m, budget)(i =>
        java.lang.Double.doubleToRawLongBits(
          Sax.mindist(words(i), N, words(m - 1 - i), N, C).dist)),
      "sax.paa_ns" -> nsPerCall(m, budget)(i =>
        java.lang.Double.doubleToRawLongBits(Sax.paaNormalized(windows(i), W)(0))))
  }

  /** The expression layer: ns per row of one projection over a cached
    * column, on the codegen path and (for the window encode) under
    * NO_CODEGEN with whole-stage codegen off. */
  def expressions(spark: SparkSession, values: Array[Double], tracer: Tracer): Map[String, Double] =
    tracer.span("kernel") {
      import spark.implicits._
      val rows = 1 << 15
      val dim = 64
      // arrays derived from the workload's values: 8-value windows, word
      // pairs, 64-d vectors and 16-token sets
      val base = (0 until rows).map { i =>
        val w = window(values, i)
        val j = (i * 7919) % rows
        val v1 = Array.tabulate(dim)(k => values((i * N + k) % values.length).toFloat)
        val v2 = Array.tabulate(dim)(k => values((j * N + k) % values.length).toFloat)
        val t1 = Array.tabulate(16)(k => s"t${(values((i * N + k) % values.length) * 10).toLong % 40}")
        val t2 = Array.tabulate(16)(k => s"t${(values((j * N + k) % values.length) * 10).toLong % 40}")
        (w, Sax.encode(w, W, C), Sax.encode(window(values, j), W, C),
          v1, v2, t1, t2)
      }.toDF("vals", "wa", "wb", "v1", "v2", "t1", "t2").cache()
      base.queryExecution.toRdd.count()
      // ns per row of one projection of `c` over the cached rows
      def perRow(df: DataFrame, c: org.apache.spark.sql.Column): Double = {
        def once(): Double = {
          val t0 = System.nanoTime()
          df.select(c.as("x")).queryExecution.toRdd.count()
          (System.nanoTime() - t0).toDouble / rows
        }
        once()
        Stats.median(Seq.fill(Reps)(once()))
      }
      val interp = spark.newSession()
      interp.conf.set("spark.sql.codegen.wholeStage", "false")
      interp.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val baseInterp = interp.createDataFrame(base.rdd, base.schema).cache()
      baseInterp.queryExecution.toRdd.count()
      val out = Map(
        "expr.encode_window_codegen_ns" ->
          perRow(base, SaxFunctions.sax_encode_window(col("vals"), N, W, C)),
        "expr.encode_window_interp_ns" ->
          perRow(baseInterp, SaxFunctions.sax_encode_window(col("vals"), N, W, C)),
        "expr.mindist_codegen_ns" ->
          perRow(base, SaxFunctions.sax_mindist(col("wa"), lit(N.toLong), col("wb"), lit(N.toLong), C)),
        "expr.vec_cosine_ns" ->
          perRow(base, graft.functions.VectorFunctions.vec_cosine(col("v1"), col("v2"))),
        "expr.arr_jaccard_ns" ->
          perRow(base, graft.functions.VectorFunctions.arr_jaccard(col("t1"), col("t2"))))
      base.unpersist(); baseInterp.unpersist()
      out
    }
}
