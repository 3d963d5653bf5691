package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.queries.AtRestTables

/** The benchmark's workloads. Each returns event values, which the traced
  * run's kernel loops run over. */
object Workloads {

  /** query_mix: eight registry queries, at least one from each of the six
    * families (sax, rel, dedup, text, vector, multimodal), among them the
    * serve paths that ride session memos and at-rest builds: q78's word
    * buckets, the q304 erasure store and q05's cached top-k under
    * MindistPruneRule. */
  val QueryMix: Seq[String] = Seq(
    "q05_sax_topk", "q78_bucketed_word_join", "q20_pricing_summary", "q142_aqe_skew_join",
    "q70_kmv_distinct", "q304_erasure_text_serve", "q40_ann_brute", "q296_multimodal_knn")

  /** Seconds of one warm pass over [[QueryMix]] at one task slot on four
    * cores. The timed phase runs a fixed number of passes, enough to last
    * about `--seconds`: pass times keep falling as the JIT compiles, so a
    * phase cut by the clock would sample a fast run further down that
    * slope than a slow one. */
  val PassSeconds = 4.0

  /** query_mix: set-up, timed passes and reporting. */
  def queryMix(run: Run, spark: SparkSession): Array[Double] = {
    val dir = run.args.data
    val loop = new QueryLoop(run, dir, QueryMix)
    // output check: the set-up's first pass writes every result beside its
    // DuckDB oracle SQL; perfbench/run.py compares them with the rules of
    // tools/compare.py
    val res = s"${run.args.out}/results"
    AtRestTables.resetBuildSeconds()
    val passes = loop.setup(spark, run.shuffled(QueryMix, -1), res)
    run.setup = passes.sum
    run.ledger("setup.passes_s") = passes
    val builds = AtRestTables.buildSeconds
    run.layer("build.total_s") = builds.values.sum
    builds.toSeq.sortBy(_._1).foreach { case (k, v) => run.ledger(s"build.${k}_s") = v }
    val oracle = graft.SparkEntry.oracleSql.filter(kv => QueryMix.contains(kv._1))
    Files.writeString(Paths.get(s"$res/oracle_sql.json"), Json.obj(oracle.toSeq))

    val jit0 = Jvm.jitMillis
    val t = loop.timed(spark, math.max(3, math.round(run.args.seconds / PassSeconds).toInt))
    run.ledger("timed.jit_ms") = Jvm.jitMillis - jit0
    run.attempted += t.execs.size
    run.failed += t.failed
    val ok = t.ok
    require(ok.nonEmpty, "no query succeeded")
    val totals = ok.map(_.total)
    val p90 = Stats.quantile(totals, 0.9)
    // each query's median over the passes, so one execution that the host
    // slowed does not move it. The p50 of all executions would fall in the
    // gap between two queries' times and jump between them from run to
    // run; the median query's time does not
    val perQuery = ok.groupBy(_.name).map { case (q, es) => q -> Stats.median(es.map(_.total)) }
    run.e2e("latency_p50_s") = Stats.median(perQuery.values.toSeq)
    run.e2e("latency_p90_s") = p90
    run.e2e("throughput_per_s") = perQuery.size / perQuery.values.sum
    run.ledger ++= Seq("timed.samples" -> ok.size, "timed.above_p90" -> totals.count(_ > p90),
      "timed.p50_all_s" -> Stats.median(totals), "timed.pass_s" -> t.passes, "timed.wall_s" -> t.wall,
      "timed.queries_per_s" -> ok.size / t.wall)

    run.layer("driver.frame_s") = Stats.median(ok.map(_.frame))
    run.layer("driver.plan_s") = Stats.median(ok.map(_.plan))
    run.layer("exec.run_s") = Stats.median(ok.map(_.exec))
    for ((fam, es) <- ok.groupBy(_.family)) {
      run.ledger(s"family.$fam.plan_s") = Stats.median(es.map(_.plan))
      run.ledger(s"family.$fam.exec_s") = Stats.median(es.map(_.exec))
    }
    for ((fam, c) <- t.familySched) run.ledger(s"family.$fam.jobs") = c.jobs
    for ((q, m) <- perQuery) run.ledger(s"query.$q.s") = m
    sched(run, t.sched, t.census)
    run.layer("trace.overhead_pct") = t.overheadPct
    spark.read.parquet(s"$dir/events.parquet").select("value").collect().map(_.getDouble(0))
  }

  /** Scheduler counts and plan census into the per-layer metrics. */
  def sched(run: Run, c: Sched, p: Census): Unit = run.layer ++= Seq(
    "sched.jobs" -> c.jobs.toDouble, "sched.stages" -> c.stages.toDouble,
    "sched.tasks" -> c.tasks.toDouble, "shuffle.write_bytes" -> c.shuffleBytes.toDouble,
    "spill.bytes" -> c.spillBytes.toDouble,
    "plan.exchanges" -> p.exchanges.toDouble, "plan.broadcasts" -> p.broadcasts.toDouble,
    "plan.windows" -> p.windows.toDouble, "plan.sorts" -> p.sorts.toDouble,
    "plan.pushed_filter_scans" -> p.pushedScans.toDouble)

  def streamIngest(run: Run, spark: SparkSession): Array[Double] = StreamIngest(run, spark)
}

/** Minimal JSON rendering for the files the benchmark writes. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case x => str(String.valueOf(x))
  }

  def obj(m: Iterable[(String, Any)]): String =
    m.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
