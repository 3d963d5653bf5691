package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The last arrow of the erasure lifecycle (the r16 verdict's #2):
  * after the blue/green swap, the erased cohort's tombstones RETIRE —
  * serving the green (retained-trained) generation without any
  * tombstone anti join must equal serving it with the tombstones still
  * applied (the cohort is absent from the green codes by construction),
  * and the pointer-resolved serve must actually take the retired path:
  * no anti join, no tombstone table anywhere in its plan, while q312's
  * pinned blue branch keeps exactly one. */
class ErasureRetirementSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.SparkUtil.configure(
      SparkSession.builder().master("local[4]"), "4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("tombstones are redundant on the green generation: green+tombstones == green alone") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("query_id", "adc", "vec_id").collect()
        .map(_.toString).toIndexedSeq
    import graft.queries.VectorQueries.{annServe, annTombstoneTable, retainedIvfTables}
    val retired = rows(annServe(spark, dir, retainedIvfTables(spark, dir), None))
    val tombstoned = rows(annServe(spark, dir, retainedIvfTables(spark, dir),
      Some(spark.table(annTombstoneTable(spark, dir)))))
    assert(retired.nonEmpty && retired == tombstoned,
      "retiring the tombstones changed the green generation's serve — " +
        "the swap must NOT retire them yet")
  }

  test("the pointer-resolved serve takes the retired path: no anti join, no tombstone table") {
    val plan = graft.queries.VectorQueries.swappedAnnServe(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("LeftAnti"),
      s"the post-swap serve still carries a tombstone anti join:\n$plan")
    assert(!plan.contains("graft_erase_vecs"),
      s"the post-swap serve still scans the tombstone table:\n$plan")
    assert(plan.contains("graft_ivfr_codes"),
      s"the post-swap serve must read the green generation's codes:\n$plan")
  }

  test("a pointer rolled back to blue serves exactly the tombstoned q305 answer") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("query_id", "adc", "vec_id").collect()
        .map(_.toString).toIndexedSeq
    assert(rows(graft.queries.VectorQueries.servedGeneration(spark, dir, "blue")) ==
      rows(SparkEntry.queries("q305_erasure_ann_serve")(spark, dir)),
      "the resolver's blue branch must serve the merge-on-read answer")
  }

  test("q312 carries exactly one anti join — the pinned blue reader's") {
    val plan = SparkEntry.queries("q312_erasure_generation_swap")(spark, dir)
      .queryExecution.executedPlan.toString
    val antis = "LeftAnti".r.findAllIn(plan).size
    assert(antis == 1,
      s"expected exactly the pinned branch's anti join, found $antis:\n$plan")
  }
}
