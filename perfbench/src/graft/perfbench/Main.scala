package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkUtil

/** Command-line options; see perfbench/run.py, which builds them. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      data: String, work: String, out: String, slots: Int, nproc: Int, commit: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("work"), need("out"), need("slots").toInt, need("nproc").toInt,
      m.getOrElse("commit", "unknown"))
  }
}

/** State shared by one benchmark run: options, tracer, scheduler counters
  * and the metrics the workload reports. */
final class Run(val args: Args) {
  val tracer = new Tracer(args.trace)
  val sched = new SchedCounters
  /** End-to-end metrics (the untraced run's result). */
  val e2e = mutable.LinkedHashMap[String, Double]()
  /** Per-layer metrics (the traced run's result). */
  val layer = mutable.LinkedHashMap[String, Double]()
  /** Everything else a reader of one run wants: per-family and per-build
    * splits, sample counts, the run record. Strings or numbers. */
  val ledger = mutable.LinkedHashMap[String, Any]()
  var attempted = 0L
  var failed = 0L
  /** Set-up seconds after the session is up, as the workload defines them. */
  var setup = 0.0

  /** Deterministic per-pass order of `names` for this seed. */
  def shuffled(names: Seq[String], pass: Int): Seq[String] =
    new scala.util.Random(args.seed * 1000003L + pass).shuffle(names)

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] check failed: $what") }
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    Jvm.watchHeap()
    val run = new Run(args)
    val loadStart = loadAvg()
    val cpuStart = cpuTicks()
    val spark = SparkUtil.configure(
        SparkSession.builder().master(s"local[${args.slots}]"), args.slots.toString)
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${args.work}/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(run.sched)
    // JVM start to a usable session: the one-shot part of set-up
    val contextSeconds = (System.currentTimeMillis() - Jvm.startMillis) / 1e3
    val probeStart = probe(spark)

    val values = args.workload match {
      case "query_mix" => Workloads.queryMix(run, spark)
      case "stream_ingest" => Workloads.streamIngest(run, spark)
      case w => sys.error(s"unknown workload $w")
    }
    run.e2e("setup_s") = contextSeconds + run.setup
    run.ledger("setup.context_s") = contextSeconds
    run.e2e("heap_retained_mb") = Jvm.retainedHeapMb()
    run.layer("jvm.peak_heap_mb") = Jvm.peakHeapMb

    if (args.trace) {
      run.layer ++= Kernels.kernel(values, run.tracer)
      run.layer ++= Kernels.expressions(spark, values, run.tracer)
      val self = run.tracer.selfSeconds
      for (l <- Seq("query", "frame", "plan", "exec", "kernel"))
        run.layer(s"trace.self_${l}_s") = self.getOrElse(l, 0.0) + (l match {
          // micro-batches and store calls are the stream's operations
          case "query" => self.getOrElse("batch", 0.0) + self.getOrElse("store", 0.0)
          case _ => 0.0
        })
      Files.writeString(Paths.get(s"${args.out}/spans.json"), run.tracer.json)
    }
    run.layer("jvm.gc_s") = Jvm.gcSeconds
    run.layer("jvm.jit_ms") = Jvm.jitMillis

    val probeEnd = probe(spark)
    run.ledger ++= Seq(
      "record.seed" -> args.seed, "record.commit" -> args.commit, "record.nproc" -> args.nproc,
      "record.task_slots" -> args.slots, "record.load_start" -> loadStart, "record.load_end" -> loadAvg(),
      "record.steal_pct" -> stealPct(cpuStart, cpuTicks()),
      "record.probe_start_s" -> probeStart, "record.probe_end_s" -> probeEnd,
      "record.spark" -> spark.version)
    Files.writeString(Paths.get(s"${args.out}/result.json"), resultJson(run))
    spark.stop()
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat; (0, 0) when absent. */
  private def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Throwable => (0L, 0L) }

  /** Share of CPU time the hypervisor gave to other guests over the run: a
    * run with a high share was slowed by its host, not by the program. */
  private def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) 100.0 * (b._1 - a._1) / (b._2 - a._2) else 0.0

  private def loadAvg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+").take(3).mkString(" ")
    catch { case _: Throwable => "" }

  /** graft.Bench's ambient-load probe (a fixed, data-independent CPU-bound
    * job, min of 3), at a quarter of its size. */
  private def probe(spark: SparkSession): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    spark.range(1L << 26).selectExpr("sum(pmod(id * 2654435761, 1048576))").collect()
    Stats.secs(t0, System.nanoTime())
  }.min

  private def resultJson(run: Run): String = Json.obj(Seq(
    "workload" -> run.args.workload, "attempted" -> run.attempted, "failed" -> run.failed,
    "e2e" -> run.e2e, "layer" -> run.layer, "ledger" -> run.ledger)) + "\n"
}
