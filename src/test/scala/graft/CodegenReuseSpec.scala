package graft

import graft.queries.QueryBase
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A warm session compiles nothing. Spark's generated-class cache is
  * sized by [[SparkUtil.configure]] and keyed by (context classloader,
  * source); each session has its own artifact classloader, so a query that
  * minted a child session per execution missed the cache on every class,
  * every run. Conf-isolated queries take their child from
  * [[QueryBase.childSession]], one per (parent, conf set). The last two
  * cases are a source canary (the [[SaxAlgebraSpec]] idiom, comment lines
  * skipped): no file under `graft/queries/` but `QueryBase.scala` calls
  * `newSession()` or `conf.set(`. */
class CodegenReuseSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkUtil.configure(
      SparkSession.builder().master("local[2]"), "2").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a configured session sizes Spark's generated-class cache") {
    assert(spark.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key).toInt ==
      SparkUtil.CodegenCacheEntries)
  }

  test("childSession: one child per (parent, conf set), in any conf order") {
    val skew = "spark.sql.adaptive.skewJoin.enabled" -> "true"
    val noBcast = "spark.sql.autoBroadcastJoinThreshold" -> "-1"
    val child = QueryBase.childSession(spark, skew, noBcast)
    assert(!(child eq spark))
    assert(QueryBase.childSession(spark, noBcast, skew) eq child)
    assert(child.conf.get(noBcast._1) == "-1")
    assert(spark.conf.get(noBcast._1) != "-1", "the child's confs leaked into its parent")
    assert(!(QueryBase.childSession(spark, skew) eq child), "a different conf set shared a child")
    assert(!(QueryBase.childSession(spark, skew, noBcast._1 -> "1") eq child),
      "a different conf value shared a child")
    assert(!(QueryBase.childSession(spark.newSession(), skew, noBcast) eq child),
      "a different parent shared a child")
  }

  test("q142 compiles no class on its second run") {
    val q = SparkEntry.queries("q142_aqe_skew_join")
    def run(): Long = {
      val c0 = compiles
      q(spark, dir).queryExecution.toRdd.count()
      compiles - c0
    }
    val first = run()
    val second = run()
    assert(first > 0, "the first run compiled nothing: the counter reads no cache miss")
    assert(second == 0, s"the second run compiled $second classes (the first $first)")
  }

  private val Root = "src/main/scala/graft/queries"
  private val Home = "QueryBase.scala"

  private val Patterns = Seq(
    "newSession()" -> """\bnewSession\(\)""".r,
    "conf.set(" -> """\bconf\.set\(""".r)

  /** (file, 1-based line, pattern name, text) of every pattern hit on a
    * non-comment line under [[Root]]. */
  private def hits: Seq[(String, Int, String, String)] =
    for {
      (f, n, l) <- SourceLines(Root)
      (name, re) <- Patterns
      if re.findFirstIn(l).nonEmpty
    } yield (f, n, name, l.trim)

  test("the scan sees newSession() and conf.set( inside QueryBase") {
    val inHome = hits.filter(_._1 == Home).map(_._3).toSet
    assert(inHome == Patterns.map(_._1).toSet,
      s"the scan found only $inHome in $Home — run from the repository root, " +
        "or update the patterns with childSession")
  }

  test("no query outside QueryBase mints a session or sets a conf") {
    val stray = hits.filterNot(_._1 == Home)
    assert(stray.isEmpty,
      s"${stray.size} session mints or conf sets under graft/queries — take a " +
        "conf-isolated session from QueryBase.childSession instead:\n" +
        stray.map { case (f, n, p, l) => s"$f:$n: [$p] $l" }.mkString("\n"))
  }
}
