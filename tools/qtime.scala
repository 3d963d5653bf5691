// Timing + plan-capture harness for the optimization rounds.
// Drive with: /opt/spark/bin/spark-shell --master local[$CPUS] \
//   --conf ... --jars target/scala-2.13/symtseriesspark_2.13-0.1.0.jar \
//   -I tools/qtime.scala
// Env: QT_QUERIES=q144,q140 (comma list, "slowest" = BENCH_FULL.json's
//      top QT_TOP entries, or "all"), QT_TOP=30, SPARK_GRAFT_REPO= (the
//      checkout whose BENCH_FULL.json ranks "slowest"; default: the
//      working directory, which tools/qtime.sh sets to its checkout),
//      QT_PASSES=3, QT_SF=/root/testdata/sf0.1, QT_PLANDIR= (optional:
//      write explain("formatted") per query), QT_TAG=before|after
// Emits one line per query: QT <name> <min> plus a QT_JOBS line with
// per-query job/stage/task counts from the timed pass (the stage-wave
// floor signal), and a final QT_TOTAL line. Methodology matches
// graft.Bench: untimed warm pass, then min-of-N timed passes, caches +
// memo cleared before every pass.
import org.apache.spark.sql.DataFrame

val sfDir = sys.env.getOrElse("QT_SF", "/root/testdata/sf0.1")
val passes = sys.env.getOrElse("QT_PASSES", "3").toInt
val planDir = sys.env.get("QT_PLANDIR")
val tag = sys.env.getOrElse("QT_TAG", "before")
val qsel = sys.env.getOrElse("QT_QUERIES", "all")

spark.sparkContext.setLogLevel("WARN")

def force(df: DataFrame): Long = df.queryExecution.toRdd.count()

val all = graft.SparkEntry.queries
val names: Seq[String] = qsel match {
  case "all" => all.keys.toSeq.sorted
  case "slowest" =>
    // top-N of the committed full per-query map, slowest first
    val topN = sys.env.getOrElse("QT_TOP", "30").toInt
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_REPO", "."), "BENCH_FULL.json"))
    // rank only the "queries" object: the builds and train_serve_split
    // maps carry q-named keys too (q78, q94, q100)
    val queriesObj = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse(sys.error("BENCH_FULL.json has no queries object"))
    val m = """"(q\d+)":([0-9.]+)""".r
    m.findAllMatchIn(queriesObj).map(g => (g.group(1), g.group(2).toDouble)).toSeq
      .sortBy(-_._2).take(topN).map(_._1)
      .flatMap(q => all.keys.find(_.startsWith(q + "_")))
  case s => s.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { q =>
    all.keys.find(k => k == q || k.startsWith(q + "_")).getOrElse(
      sys.error(s"no query named $q"))
  }
}

planDir.foreach(d => new java.io.File(d).mkdirs())

// per-query scheduler-load counters, sampled on the LAST timed pass
object Counters extends org.apache.spark.scheduler.SparkListener {
  @volatile var jobs = 0L; @volatile var stages = 0L; @volatile var tasks = 0L
  def reset(): Unit = { jobs = 0; stages = 0; tasks = 0 }
  override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
    jobs += 1
  override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
    stages += 1; tasks += e.stageInfo.numTasks
  }
}
spark.sparkContext.addSparkListener(Counters)

val results = scala.collection.mutable.LinkedHashMap[String, Double]()
val loads = scala.collection.mutable.LinkedHashMap[String, (Long, Long, Long)]()
for (pass <- 0 to passes; name <- names) {
  graft.queries.DedupQueries.invalidateComponentMemo()
  spark.catalog.clearCache()
  spark.sparkContext.setJobDescription(s"$name pass $pass")
  if (pass == passes) { Thread.sleep(400); Counters.reset() } // listener events are async
  val t0 = System.nanoTime()
  val ok = try { force(all(name)(spark, sfDir)); true }
  catch { case scala.util.control.NonFatal(e) =>
    if (pass == 0) println(s"QT_ERR $name: ${e.getMessage.linesIterator.take(3).mkString(" | ")}")
    false }
  val dt = (System.nanoTime() - t0) / 1e9
  if (pass == passes && ok) {
    Thread.sleep(400) // let the async listener bus drain
    loads(name) = (Counters.jobs, Counters.stages, Counters.tasks)
  }
  if (pass >= 1 && ok) {
    val cur = results.getOrElse(name, Double.MaxValue)
    results(name) = math.min(cur, dt)
    println(f"QT_PASS $name pass=$pass $dt%.3f")
  }
}
for ((name, t) <- results) {
  val (j, s, k) = loads.getOrElse(name, (-1L, -1L, -1L))
  println(f"QT $name $t%.3f jobs=$j stages=$s tasks=$k")
}
println(f"QT_TOTAL ${results.values.sum}%.3f n=${results.size}")

// plan capture (outside timing)
planDir.foreach { d =>
  for (name <- names) {
    try {
      val df = all(name)(spark, sfDir)
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$d/${name.split("_").head}_$tag.txt"), p)
    } catch { case scala.util.control.NonFatal(e) =>
      println(s"QT_PLAN_ERR $name: ${e.getMessage}") }
  }
}
System.exit(0)
