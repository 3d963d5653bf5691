package graft

import graft.sax.SaxFunctions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The injected iSAX pruning predicates must (a) appear in optimized plans
  * for pattern-threshold filters and (b) never change results — pruning is
  * a sound necessary condition, verified against the UDF path the rule
  * cannot match. */
class MindistPruneRuleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.SparkUtil.configure(
      SparkSession.builder().master("local[4]"), "4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Trailing-window words (n = 8, w = 4) at cardinality `c`. */
  private def wordsAt(c: Int) = {
    import org.apache.spark.sql.expressions.Window
    val trail = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-7, 0)
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_id"),
        sax_encode_window(collect_list(col("value")).over(trail), 8, 4, c).as("word"))
  }
  private def words = wordsAt(4)

  test("rule injects substring IN predicates for pattern-threshold filters") {
    val md = sax_mindist(col("word"), lit(8L), lit("ADBB"), lit(0L), 4)
    val q = words
      .select(col("event_id"), col("word"),
        graft.queries.QueryBase.pround(md.getField("dist"), 6).as("dist"))
      .where(col("dist") <= 0.8)
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("substring"), s"no pruning predicate in:\n$plan")
    assert(plan.contains("IN (A,B)") || plan.contains("IN (B,A)"), plan)
  }

  test("pruned results equal the unprunable UDF-path results across thresholds") {
    // one valid pattern per cardinality: the allowed symbol sets differ at
    // every c, so soundness is checked at each, not only at c = 4
    for ((c, pattern) <- Seq(4 -> "BDBB", 2 -> "ABBA", 3 -> "CABC", 8 -> "BHDA", 16 -> "CPGA")) {
      var pruned = false
      for (tau <- Seq(0.0, 0.5, 1.0, 2.0, 100.0)) {
        val mdN = sax_mindist(col("word"), lit(8L), lit(pattern), lit(0L), c)
        val q = wordsAt(c)
          .select(col("event_id"), graft.queries.QueryBase.pround(mdN.getField("dist"), 6).as("dist"))
          .where(col("dist") <= tau)
        pruned ||= q.queryExecution.optimizedPlan.toString.contains("substring")
        val native = q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
        val mdU = saxMindist(col("word"), lit(8L), lit(pattern), lit(0L), lit(c))
        val viaUdf = wordsAt(c)
          .select(col("event_id"), graft.queries.QueryBase.pround(mdU.getField("dist"), 6).as("dist"))
          .where(col("dist") <= tau)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
        assert(native == viaUdf, s"c=$c tau=$tau: ${native.size} vs ${viaUdf.size}")
      }
      // c = 2 has one breakpoint, so every cell distance is 0 and no
      // position can prune; at every other c some threshold must
      assert(pruned == (c != 2), s"c=$c: prune injected = $pruned")
    }
  }

  test("rule injects pair predicates into word-vs-word dictionary joins (q17 shape)") {
    def joined(c: Int, mdExpr: org.apache.spark.sql.Column) = {
      val dict = wordsAt(c).select("word").distinct()
      dict.as("a").join(dict.as("b"), col("a.word") < col("b.word"))
        .select(col("a.word").as("wa"), col("b.word").as("wb"),
          graft.queries.QueryBase.pround(mdExpr.getField("dist"), 6).as("dist"))
        .where(col("dist") <= 1.0)
    }

    val plan = joined(4, sax_mindist(col("a.word"), lit(8L), col("b.word"), lit(8L), 4))
      .queryExecution.optimizedPlan.toString
    // pair predicates referencing BOTH sides, inside the join condition
    assert(plan.contains("concat(substring"), s"no pair prune in:\n$plan")
    // c=4, tau=1: symbol pairs at distance 1.349 (A-D and the '#' remaps)
    // must be excluded from the allowed set
    assert(!plan.matches("(?s).*IN \\([^)]*\\bAD\\b.*"), plan)

    // pruning is a sound necessary condition: results equal the UDF path
    // (which the rule cannot match) at c = 4 and the extreme cardinalities.
    // At c = 2 every cell distance is 0, so no pair prunes there.
    for (c <- Seq(4, 2, 16)) {
      val q = joined(c, sax_mindist(col("a.word"), lit(8L), col("b.word"), lit(8L), c))
      val planC = q.queryExecution.optimizedPlan.toString
      assert("concat\\(substring".r.findAllIn(planC).length == (if (c == 2) 0 else 4), // PairPruneDepth
        s"c=$c:\n$planC")
      val native = q.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      val viaUdf = joined(c, saxMindist(col("a.word"), lit(8L), col("b.word"), lit(8L), lit(c)))
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      assert(native.nonEmpty && native == viaUdf, s"c=$c: ${native.size} vs ${viaUdf.size}")
    }
  }

  test("q05 two-phase top-k: phase 2 plans a pruned scan and equals the direct sort") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("q05_sax_topk")(spark, dir) // builds phase 1 eagerly
    // the runtime-derived τ became a literal threshold, so MindistPruneRule
    // injected per-position substring IN prunes into phase 2...
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("substring"), s"no injected prune in phase 2:\n$plan")
    // ...and the re-rank is a TakeOrdered top-k, never a global sort
    assert(q.queryExecution.executedPlan.toString.contains("TakeOrdered"),
      q.queryExecution.executedPlan.toString)
    // bit-identical to the direct orderBy+limit on the unprunable UDF path
    // (q05's own window formulation: µs-truncated ts + event_id order)
    val got = q.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    import org.apache.spark.sql.expressions.Window
    val evDf = spark.read.parquet(s"$dir/events.parquet")
    val trail = Window.partitionBy("user_id")
      .orderBy(graft.queries.QueryBase.tsUs(evDf), col("event_id")).rowsBetween(-7, 0)
    val q05Words = evDf
      .select(col("event_id"),
        sax_encode_window(collect_list(col("value")).over(trail), 8, 4, 4).as("word"))
    val mdU = saxMindist(col("word"), lit(8L), lit("BDBB"), lit(0L), lit(4))
    val direct = q05Words
      .select(col("event_id"), col("word"),
        graft.queries.QueryBase.pround(mdU.getField("dist"), 6).as("dist"))
      .orderBy(col("dist"), col("event_id")).limit(20)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == direct, s"${got.size} vs ${direct.size}")
  }

  test("rule leaves unrelated filters and wildcard-n patterns intact") {
    // unrelated filter: no mindist involved
    val q1 = words.where(col("word") =!= "AAAA")
    assert(!q1.queryExecution.optimizedPlan.toString.contains("substring"))
    // above-threshold direction (dist >= tau) is NOT a necessary-condition
    // prune; rule must not fire
    val md = sax_mindist(col("word"), lit(8L), lit("ADBB"), lit(0L), 4)
    val q2 = words
      .select(col("word"), graft.queries.QueryBase.pround(md.getField("dist"), 6).as("dist"))
      .where(col("dist") >= 0.8)
    assert(!q2.queryExecution.optimizedPlan.toString.contains("substring"))
  }
}
