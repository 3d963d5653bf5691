package graft.perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** One timed query execution, split the way the driver sees it: the QFn
  * call that builds the frame (some QFns run eager jobs here), physical
  * planning, and execution forced the way graft.Bench forces a query. */
final case class Exec(name: String, family: String, frame: Double, plan: Double, exec: Double,
                      ok: Boolean) {
  def total: Double = frame + plan + exec
}

/** Runs `SparkEntry.queries` entries against one data directory: the
  * closed loop of query_mix. */
final class QueryLoop(run: Run, dir: String, names: Seq[String]) {
  private type QFn = (SparkSession, String) => DataFrame
  private val fns: Map[String, QFn] = graft.SparkEntry.queries
  names.foreach(n => require(fns.contains(n), s"no query named $n"))

  def familyOf(name: String): String =
    if (SaxQueries.defs.contains(name)) "sax"
    else if (RelQueries.defs.contains(name)) "rel"
    else if (DedupQueries.defs.contains(name)) "dedup"
    else if (TextQueries.defs.contains(name)) "text"
    else if (VectorQueries.defs.contains(name)) "vector"
    else "multimodal"

  /** Execute one query standalone: session caches and the component memo
    * are cleared first, as graft.Bench does. Returns the execution and the
    * frame, whose executed plan is final after the run. */
  def execute(spark: SparkSession, name: String): (Exec, Option[DataFrame]) = {
    DedupQueries.invalidateComponentMemo()
    spark.catalog.clearCache()
    val tr = run.tracer
    tr.span("query") {
      val t0 = System.nanoTime()
      var t1, t2 = t0
      try {
        val df = tr.span("frame")(fns(name)(spark, dir))
        t1 = System.nanoTime()
        tr.span("plan")(df.queryExecution.executedPlan)
        t2 = System.nanoTime()
        tr.span("exec")(df.queryExecution.toRdd.count())
        val t3 = System.nanoTime()
        (Exec(name, familyOf(name), Stats.secs(t0, t1), Stats.secs(t1, t2), Stats.secs(t2, t3), ok = true),
          Some(df))
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $name threw: $e")
          (Exec(name, familyOf(name), 0, 0, 0, ok = false), None)
      }
    }
  }

  /** One pass over `order`; returns the executions. */
  def pass(spark: SparkSession, order: Seq[String]): Seq[Exec] = order.map(execute(spark, _)._1)

  /** Set-up: the cold first pass, which pays every at-rest build and
    * writes each query's result under `results` for the output check, then
    * two warm passes, after which pass times fall by only a few percent a
    * pass (the JIT keeps compiling through the run). Returns each pass's
    * seconds. */
  def setup(spark: SparkSession, order: Seq[String], results: String): Seq[Double] = {
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      run.tracer.span("setup")(body)
      Stats.secs(t0, System.nanoTime())
    }
    val write = timed(order.foreach { name =>
      DedupQueries.invalidateComponentMemo()
      spark.catalog.clearCache()
      try fns(name)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$results/$name")
      catch { case NonFatal(e) => System.err.println(s"[perfbench] $name result write failed: $e") }
    })
    write +: Seq.fill(2)(timed(pass(spark, order)))
  }

  /** The timed phase: `passes` whole passes, each in a seed-shuffled
    * order. In a traced run passes alternate between traced and
    * untraced (to state the tracing overhead), and the first traced pass
    * also records per-query scheduler counts and the final-plan census. */
  def timed(spark: SparkSession, passes: Int): Timed = {
    val execs = Seq.newBuilder[(Exec, Boolean)]
    var sched = Sched.Zero
    var census = Census.Zero
    var counted = false
    val perFamily = scala.collection.mutable.Map[String, Sched]().withDefaultValue(Sched.Zero)
    val t0 = System.nanoTime()
    var passNo = 0
    val passSecs = Seq.newBuilder[Double]
    while (passNo < passes) {
      val p0 = System.nanoTime()
      val traced = run.tracer.enabled && passNo % 2 == 0
      run.tracer.pause(!traced)
      val order = run.shuffled(names, passNo)
      val count = traced && !counted
      order.foreach { name =>
        val before = if (count) { run.sched.drain(spark.sparkContext); run.sched.snapshot } else Sched.Zero
        val (e, df) = execute(spark, name)
        execs += ((e, traced))
        if (count) {
          run.sched.drain(spark.sparkContext)
          val d = run.sched.snapshot - before
          sched = sched + d
          perFamily(e.family) = perFamily(e.family) + d
          df.foreach(f => census = census + Census.of(f.queryExecution.executedPlan))
        }
      }
      counted = counted || count
      passNo += 1
      passSecs += Stats.secs(p0, System.nanoTime())
    }
    run.tracer.pause(false)
    Timed(execs.result(), Stats.secs(t0, System.nanoTime()), passSecs.result(), sched, census,
      perFamily.toMap)
  }
}

final case class Timed(execs: Seq[(Exec, Boolean)], wall: Double, passes: Seq[Double], sched: Sched,
                       census: Census, familySched: Map[String, Sched]) {
  def ok: Seq[Exec] = execs.map(_._1).filter(_.ok)
  def failed: Int = execs.count(!_._1.ok)

  /** Traced over untraced median execution time, minus one, as a percentage
    * (0 when the run had only one kind of pass). */
  def overheadPct: Double = {
    val (tr, un) = execs.filter(_._1.ok).partition(_._2)
    if (tr.isEmpty || un.isEmpty) 0.0
    else {
      // per-query medians, so the mix of queries in each group cancels out
      def med(xs: Seq[(Exec, Boolean)]) = xs.groupBy(_._1.name).map { case (k, v) => k -> Stats.median(v.map(_._1.total)) }
      val (a, b) = (med(tr), med(un))
      val common = a.keySet.intersect(b.keySet).toSeq
      100.0 * (common.map(a).sum / common.map(b).sum - 1.0)
    }
  }
}
