package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The centroid-assignment argmax (shared by q46/q65/q66) must stay
  * map-side: all K broadcast centroids scored inside one projection
  * (`transform` + `array_max`), with NO shuffle between the embeddings
  * scan and the assignment. The former window-rank formulation shuffled
  * n·K rows each carrying the full embedding — the round-2 verdict's one
  * scale-killer. This spec pins both the plan shape and the value-level
  * equivalence with the window formulation it replaced. */
class KmeansAssignPlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.SparkUtil.configure(
      SparkSession.builder().master("local[4]"), "4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("assignment plan has no Window and no hash Exchange") {
    val assigned = VectorQueries.kmeansAssign(spark, dir)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"assignment must be a projection argmax, not a window rank:\n$plan")
    // the only exchanges allowed: the round-robin spread of the single
    // parquet file and the SinglePartition collect of the K centroids —
    // never a hash repartition of the corpus
    assert(!plan.contains("Exchange hashpartitioning"),
      s"assignment must not shuffle the corpus:\n$plan")
  }

  test("argmax assignment equals a driver-side nearest-centroid loop") {
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val cents = vecs.filter(_._1 < 8).toSeq.sortBy(_._1)
    val expected = vecs.map { case (id, e) =>
      // max (rounded cos, -cent_id): ties toward the lowest centroid id
      val (ccos, nid) = cents.map { case (cid, ce) => (QueryBase.pround(cos(e, ce), 6), -cid) }.max
      id -> ((-nid, ccos))
    }
    val got = VectorQueries.kmeansAssign(spark, dir)
      .select("vec_id", "cell", "ccos").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == expected.keySet)
    val bad = expected.collect { case (id, exp) if got(id) != exp => (id, exp, got(id)) }
    assert(bad.isEmpty, s"mismatches: ${bad.take(5)}")
  }

  test("q112/q116: the SQ8 scan and the rerank cascade never shuffle-join the corpus") {
    // q112: quantization lives inside the scan projection, the query
    // side broadcasts (BroadcastNestedLoopJoin) — the only hash exchange
    // is the slim-row top-5 window. q116: stage 1 is the same shape over
    // the prefix slice; stage 2's candidate list and query vectors both
    // broadcast into the corpus fetch (two BroadcastHashJoins). A
    // SortMergeJoin/ShuffledHashJoin anywhere means the corpus started
    // shuffling for a join — the exact regression this pin exists for.
    for (name <- Seq("q112_sq8_ann", "q116_trunc_rerank")) {
      val q = VectorQueries.defs(name)(spark, dir)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"), s"$name corpus-side shuffle join:\n$plan")
      assert(!plan.contains("ShuffledHashJoin"), s"$name corpus-side shuffle join:\n$plan")
      val rows = q.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.nonEmpty && rows.forall { case (q_, v) => q_ != v })
      assert(rows.groupBy(_._1).values.forall(g => g.length <= 5 && g.distinct.length == g.length))
      spark.catalog.clearCache()
    }
  }

  test("q94/q100 IVFADC: every join is broadcast — the corpus never shuffles for a join") {
    // cell (IVF argmax), residual (broadcast centroid subtract) and code
    // (PQ argmin) all attach in the map-side scan pass; the LUT and cell
    // routing broadcast. The only hash exchanges left are the bounded
    // codebook-training aggregates and the final per-(query, candidate)
    // sum + top-k window. nprobe=3 (q100) only widens the BROADCAST
    // side, so the same pin must hold.
    for (name <- Seq("q94_ivf_adc", "q100_ivfadc_nprobe")) {
      val q = VectorQueries.defs(name)(spark, dir)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"), s"$name corpus-side shuffle join:\n$plan")
      assert(!plan.contains("ShuffledHashJoin"), s"$name corpus-side shuffle join:\n$plan")
      val rows = q.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.nonEmpty && rows.forall { case (q_, v) => q_ != v })
      // at most 5 per query, unique candidates
      assert(rows.groupBy(_._1).values.forall(g => g.length <= 5 && g.distinct.length == g.length))
      spark.catalog.clearCache()
    }
  }
}
