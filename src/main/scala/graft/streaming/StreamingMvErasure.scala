package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming erasure for the q138 materialized aggregate — the
  * forgetting twin of [[MvMaintenance]] (which keeps the MV current as
  * events ARRIVE), closing the r16 verdict's #5: GDPR user-erasure
  * requests arrive as a stream, and each micro-batch re-aggregates the
  * requested users' OWN events through the shared partials unit
  * ([[graft.queries.RelQueries.dayTypePartials]]), negates them
  * ([[graft.queries.RelQueries.negatePartials]]) and lands the
  * decrement beside the user ids under an id-keyed `batch=<id>/` pair.
  * Serving merges the stored MV with the accumulated decrements through
  * THE q306 definition ([[graft.queries.RelQueries.erasedMvServe]]), so
  * the stream-maintained forget state cannot drift from the batch
  * decrement — StreamingMvErasureSpec replays the purge cohort through
  * shuffled, overlapping micro-batches and proves the served MV
  * bit-equal to q306's (whose oracle separately proves it equal to a
  * rebuild from the retained raw events).
  *
  * Why a SIDE-store of decrements instead of merging into
  * [[MvMaintenance]]'s versioned MV in place: the two maintenance
  * streams (arrivals, erasures) carry INDEPENDENT monotone batch-id
  * spaces, and the pointer's skip-if-applied rule is only exactly-once
  * within one space — interleaving both through one pointer would let
  * an erasure batch id mask an arrival replay (or vice versa). The
  * side-store keeps each stream exactly-once on its own ids; the serve
  * merge is the same plain integer addition either way, and a periodic
  * at-rest merge (q306 itself) can fold the decrements into the stored
  * partials whenever the store should be compacted.
  *
  * Idempotence needs BOTH directions here, and a missed duplicate is
  * worse than for tombstones — decrements are additive, so erasing a
  * user twice would subtract their events twice and corrupt every group
  * they touched:
  *  - a replayed micro-batch id no-ops once committed, and a torn one is
  *    rewritten against the prior-applied users (`batch < id`);
  *  - a DUPLICATE user in a later batch anti-joins away against the
  *    users already applied by FULLY-landed pairs.
  * A batch's two directories land in sequence, so a crash can leave the
  * user list committed with its decrement absent; [[readStore]] serves
  * only batch ids present in BOTH subdirectories (the
  * [[StreamingErasure]] intersection rule), which also keeps the
  * half-landed users invisible to the duplicate anti-join — counting
  * them would drop the re-request that completes the erasure. */
object StreamingMvErasure {

  private val Subs = Seq("users", "dec")

  /** The store's generational-compaction state (ONE discipline with the
    * text/ANN/mm erasure stores — see [[GenerationalStore]]). */
  private def store(outDir: String) = new GenerationalStore(outDir, Subs)

  /** Served schemas (the empty-store defaults): the applied-user set and
    * the decrement partials — day/event_type keyed, negated count + the
    * scaled-integer sum the q138 algebra stores. */
  val usersSchema: StructType =
    StructType(Seq(StructField("user_id", LongType)))
  val decSchema: StructType = StructType(Seq(
    StructField("day", LongType),
    StructField("event_type", StringType),
    StructField("n", LongType),
    StructField("s", LongType)))

  /** Land one micro-batch of user-erasure requests against the static
    * events relation the MV aggregates (callers pass the SAME frame the
    * MV was built from — the ingested subset, so the decrement can never
    * subtract an event the MV never added). Exposed separately so the
    * replay and crash paths are testable. */
  def writeBatch(reqs: DataFrame, events: DataFrame,
                 outDir: String, batchId: Long): Unit = {
    val st = store(outDir)
    st.landBatch(reqs.sparkSession, batchId) { prior =>
      val users0 = reqs.select("user_id").distinct()
      val users = st.readPart(reqs.sparkSession, "users", prior)
        .map(p => users0.join(p.select("user_id"), Seq("user_id"), "left_anti"))
        .getOrElse(users0)
        .cache()
      try {
        users.write.mode("overwrite").parquet(s"$outDir/users/batch=$batchId")
        graft.queries.RelQueries.negatePartials(
          graft.queries.RelQueries.dayTypePartials(
            events.join(broadcast(users), Seq("user_id"), "left_semi")))
          .write.mode("overwrite").parquet(s"$outDir/dec/batch=$batchId")
      } finally users.unpersist()
    }
  }

  /** Start maintaining the decrement store for a stream of (user_id)
    * requests against the static events relation. `compactEvery` runs
    * [[compact]] inside the stream every k-th batch. */
  def start(reqs: DataFrame, events: DataFrame, outDir: String,
            checkpoint: String,
            compactEvery: Option[Long] = None): StreamingQuery =
    store(outDir).start(reqs, checkpoint, compactEvery)(
      writeBatch(_, events, outDir, _), compact(_, outDir))

  /** Roll every fully-landed pair into one compacted generation
    * ([[GenerationalStore]]): applied users union as-is (disjoint by the
    * anti-join discipline); decrements re-collapse to per-(day, type)
    * partials by plain integer addition — the q138 merge, so the rolled
    * store serves bit-identically. Returns the active coverage. */
  def compact(spark: SparkSession, outDir: String): Option[Long] = {
    val st = store(outDir)
    st.compact(spark) { (covered, land) =>
      land(Map("users" -> st.readPart(spark, "users", covered).get,
        "dec" -> st.readPart(spark, "dec", covered).get
          .groupBy("day", "event_type")
          .agg(sum("n").as("n"), sum("s").as("s"))))
    }
  }

  /** The accumulated store — the active generation plus fully-landed
    * loose pairs above its coverage: (applied users, decrement
    * partials). Both empty (typed) before the first commit. */
  def readStore(spark: SparkSession, outDir: String): (DataFrame, DataFrame) = {
    val st = store(outDir)
    val snap = st.snapshot(spark)
    (st.read(spark, "users", snap, usersSchema),
      st.read(spark, "dec", snap, decSchema))
  }

  /** The MV actually served under streamed erasure: the stored partials
    * merged with the accumulated decrements through THE q306 definition
    * — groups whose count reached zero leave, exactly as a rebuild from
    * the retained events would have no such row. */
  def servedMv(spark: SparkSession, baseMv: DataFrame,
               outDir: String): DataFrame =
    graft.queries.RelQueries.erasedMvServe(baseMv,
      readStore(spark, outDir)._2)
}
