package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.measure]]'s scheduler counts: one registered
  * [[Bench.SchedCounter]], read after a listener-bus drain, must give a
  * warm query the same nonzero job, stage and task counts on every run.
  * The drain makes the counts exact, so no test here sleeps. */
class BenchSchedSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val Sf = "/root/testdata/sf0.001"
  private var spark: SparkSession = _
  private val counter = new Bench.SchedCounter

  override def beforeAll(): Unit = {
    spark = SparkUtil.configure(
      SparkSession.builder().master("local[2]"), "2").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(counter)
  }

  override def afterAll(): Unit = if (spark != null) {
    spark.sparkContext.removeSparkListener(counter)
    spark.stop()
  }

  test("a warm query reports equal nonzero jobs, stages and tasks run to run") {
    val fn = SparkEntry.queries("q05_sax_topk")
    val warm = Bench.measure(spark, counter, fn, Sf)
    assert(warm.failure.isEmpty, s"q05 threw: ${warm.failure}")
    val runs = Seq.fill(2)(Bench.measure(spark, counter, fn, Sf))
    runs.foreach(r => assert(r.failure.isEmpty, s"q05 threw: ${r.failure}"))
    val Seq(a, b) = runs.map(_.sched)
    assert(a.jobs > 0 && a.stages > 0 && a.tasks > 0, s"empty counts: $a")
    assert(a == b, s"counts moved between two warm runs: $a vs $b")
  }

  test("a throwing query is reported as a failure, not thrown") {
    val run = Bench.measure(spark, counter,
      (_, _) => throw new IllegalStateException("planted"), Sf)
    assert(run.failure.map(_.getMessage).contains("planted"))
  }
}
