package graft

import java.nio.file.{Files, Paths}

import graft.queries.{AtRestTables, DedupQueries, QueryBase, SessionMemo}
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The one session-scoped memo lifecycle ([[SessionMemo]]) and its four
  * users: [[QueryBase.tcache]], q75's component memo, [[AtRestTables]]
  * and [[SparkUtil.table]]. A stopped context must leave no entry in any
  * of them and no at-rest temp dir on disk, another context's entries
  * must survive it, and the FIFO bound must hand each evicted value to
  * `onEvict` exactly once. Each test starts and stops its own contexts. */
class SessionMemoSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private def start(): SparkSession = {
    val s = SparkUtil.configure(
      SparkSession.builder().master("local[2]"), "2").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private type Memo = SessionMemo[_ <: AnyRef]
  private val users: Seq[(String, Memo)] = Seq(
    "tcache" -> QueryBase.tcacheMemo,
    "componentMemo" -> DedupQueries.componentMemo,
    "AtRestTables" -> AtRestTables.memo,
    "tableMemo" -> SparkUtil.tableMemo)

  private def sizes(ctx: SparkContext): Map[String, Int] =
    users.map { case (n, m) => n -> m.sizeOf(ctx) }.toMap

  /** Fill all four memos through their public entry points; returns the
    * at-rest base dirs, including FIFO-evicted ones whose delete is
    * deferred to the context's end. */
  private def fill(spark: SparkSession): Seq[String] = {
    QueryBase.tcache(spark.range(10).toDF("k"), "spec:sessionmemo")
    DedupQueries.defs("q75_neardup_components")(spark, dir)
    SparkUtil.table(spark, dir, "events")
    // one more path entry than the FIFO bound (48): the first is evicted
    // and its dir must outlive the eviction until the context ends
    val paths = (0 to 48).map { i =>
      AtRestTables.getPath(spark, s"specmemopath|$i") { base =>
        Files.writeString(Paths.get(base, "blob"), s"$i")
      }
    }
    assert(AtRestTables.memo.get(spark, "specmemopath|0").isEmpty,
      "the oldest path entry should have been FIFO-evicted")
    assert(Files.exists(Paths.get(paths.head)),
      "an evicted at-rest dir must stay on disk until its context ends")
    AtRestTables.get(spark, "specmemotbl|x") { base =>
      spark.range(3).write.option("path", s"$base/t")
        .saveAsTable("graft_spec_memo_t")
      Seq("graft_spec_memo_t")
    }
    AtRestTables.memo.get(spark, "specmemotbl|x").get._2 +: paths
  }

  test("a stopped context leaves no entry in any of the four memos and no at-rest dir") {
    val spark = start()
    val ctx = spark.sparkContext
    val dirs = fill(spark)
    sizes(ctx).foreach { case (n, c) => assert(c > 0, s"$n holds nothing after fill") }
    spark.stop()
    sizes(ctx).foreach { case (n, c) =>
      assert(c == 0, s"$n still holds $c entries of the stopped context")
    }
    val left = dirs.filter(d => Files.exists(Paths.get(d)))
    assert(left.isEmpty, s"at-rest dirs outlived their context: ${left.take(3)}")
  }

  test("one context's end drops only its own entries; another context's survive") {
    val a = start()
    val ctxA = a.sparkContext
    QueryBase.tcache(a.range(5).toDF("k"), "spec:sessionmemo")
    SparkUtil.table(a, dir, "events")
    a.stop()
    val b = start()
    val ctxB = b.sparkContext
    assert(!(ctxA eq ctxB))
    val dirs = fill(b)
    val events = SparkUtil.table(b, dir, "events")
    val before = sizes(ctxB)
    // replay A's end against the memos while B's entries are live
    users.foreach { case (_, m) => m.endContext(ctxA) }
    assert(sizes(ctxB) == before, "another context's end dropped live entries")
    assert(SparkUtil.table(b, dir, "events") eq events,
      "the live context's resolved relation was dropped")
    val gone = dirs.tail.filterNot(d => Files.exists(Paths.get(d)))
    assert(gone.isEmpty, s"live at-rest dirs deleted: ${gone.take(3)}")
    b.stop()
    assert(sizes(ctxB).values.forall(_ == 0))
  }

  test("SparkUtil.table: overflow evicts the oldest entries only (FIFO, not clear-all)") {
    val spark = start()
    try {
      // 258 sessions: the bound of 256 keeps the newest 256, so sessions
      // 0 and 1 are evicted and every later one keeps its relation
      val sessions = Seq.fill(258)(spark.newSession())
      val first = sessions.map(s => SparkUtil.table(s, dir, "events"))
      assert(SparkUtil.table(sessions(5), dir, "events") eq first(5),
        "overflow dropped an entry that FIFO keeps")
      assert(SparkUtil.table(sessions(257), dir, "events") eq first(257))
      assert(!(SparkUtil.table(sessions(0), dir, "events") eq first(0)),
        "the oldest entry should have been evicted and re-resolved")
    } finally spark.stop()
  }

  test("FIFO eviction hands each evicted value to onEvict exactly once") {
    val spark = start()
    try {
      val evicted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val memo = new SessionMemo[String](16, onEvict = (_, v) => evicted.add(v))
      memo.put(spark, "replaced", "r0")
      assert(memo.put(spark, "replaced", "r1").contains("r0"))
      assert(memo.remove(spark, "replaced").contains("r1"))
      assert(evicted.isEmpty, "replace and remove must not call onEvict")
      // 8 threads x 50 distinct keys, half through put, half through
      // getOrBuild: every value ends up held or evicted, never both and
      // never evicted twice
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val jobs = (0 until 8).map { t =>
          pool.submit(new Runnable {
            def run(): Unit = (0 until 50).foreach { i =>
              val k = s"t$t-$i"
              if (i % 2 == 0) memo.put(spark, k, k) else memo.getOrBuild(spark, k)(k)
            }
          })
        }
        jobs.foreach(_.get())
      } finally pool.shutdown()
      import scala.jdk.CollectionConverters._
      val ev = evicted.asScala.toSeq
      val held = memo.values.toSet
      assert(ev.distinct.size == ev.size, "a value was evicted twice")
      assert(held.size <= 16, s"${held.size} entries held past the bound")
      assert(held.intersect(ev.toSet).isEmpty, "a held value was also evicted")
      assert(ev.size + held.size == 400, s"${ev.size} evicted + ${held.size} held")
    } finally spark.stop()
  }

  test("getOrBuild: nested builds of other keys do not throw; a failed build memoizes nothing") {
    val spark = start()
    try {
      val memo = new SessionMemo[String](64)
      // a 40-deep prerequisite chain: every build re-enters the memo for
      // a different key (computeIfAbsent would throw "Recursive update"
      // whenever two of these keys share a bin)
      def chain(i: Int): String =
        memo.getOrBuild(spark, s"k$i")(if (i == 0) "0" else chain(i - 1) + s",$i")
      assert(chain(40).split(",").length == 41)
      (0 to 40).foreach(i => assert(memo.get(spark, s"k$i").isDefined))
      var calls = 0
      def failing(): String = { calls += 1; throw new IllegalStateException("killed") }
      intercept[IllegalStateException](memo.getOrBuild(spark, "f")(failing()))
      assert(memo.get(spark, "f").isEmpty, "a failed build was memoized")
      assert(memo.getOrBuild(spark, "f") { calls += 1; "ok" } == "ok")
      assert(calls == 2, "the next call must re-enter the build")
      assert(memo.getOrBuild(spark, "f")(sys.error("memo hit expected")) == "ok")
    } finally spark.stop()
  }
}
