package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of the q304 erasure store — the FORGETTING leg
  * of the ingestion lifecycle, beside [[StreamingPostingsAppend]] (which
  * adds documents to the index) and [[StreamingIvfEncode]] (vectors):
  * GDPR erasure REQUESTS (doc ids) arrive as a stream, and each
  * micro-batch lands the three decremental artifacts the q304 serve
  * consumes — tombstone ids, per-term df decrements (tokenized from the
  * erased docs ONLY, so a batch costs O(|batch's docs|)), and the
  * (n_erased, sum_dl_erased) length-stat decrement. The serve-side
  * arithmetic is THE q304 definition
  * ([[graft.queries.TextQueries.erasedBm25Serve]]), so the
  * stream-maintained forget state cannot drift from the batch purge —
  * StreamingErasureSpec replays the full cohort through shuffled,
  * OVERLAPPING micro-batches and proves the accumulated store and the
  * served BM25 bit-equal to q304's.
  *
  * Idempotence, in both directions a request stream needs:
  *  - a REPLAYED micro-batch id (at-least-once foreachBatch) no-ops once
  *    committed, and a torn one is rewritten against the prior-batch
  *    tombstones (`batch < id`), so the replay recomputes exactly what
  *    the original run computed ([[GenerationalStore]]);
  *  - a DUPLICATE request in a later batch anti-joins away against the
  *    already-landed tombstones: erasing twice must not decrement twice
  *    (a double df decrement corrupts the lexicon for every query that
  *    touches the term).
  *
  * Read-side publish atomicity: a batch's three directories land in
  * sequence, so a crash can leave a half-landed batch (tombstones
  * committed, decrements absent — the exact half-forgotten hazard
  * AtRestFaultSpec pins for the at-rest build). [[readStore]] therefore
  * serves ONLY batch ids present in all three subdirectories; the
  * replayed batch completes the set and becomes visible atomically.
  *
  * Store COMPACTION ([[compact]]): a long-lived request stream otherwise
  * accumulates one tiny directory triple per micro-batch forever — the
  * batch-id enumeration and the read-side path list grow without
  * bound (the r16 verdict's weak-in-waiting). Compaction rolls every
  * fully-landed batch into ONE generation triple under `gen/`, keyed and
  * committed by the SAME [[IdKeyedStore]] discipline (`batch=<coveredId>`
  * + `_SUCCESS` per subdirectory, so a compaction killed between its
  * three writes is invisible until re-run — the intersection rule again).
  * Decrements are additive integer partials and tombstone sets are
  * disjoint across batches (the anti-join discipline), so the roll-up is
  * a union/re-group — bit-equal served state by construction, which
  * StreamingErasureCompactionSpec proves over ≥50 micro-batches.
  * Replay stays idempotent across the roll-up: a replayed id at or below
  * the active generation's coverage no-ops on the generation check even
  * after its own directories are garbage-collected. GC keeps ONE
  * superseded generation (and its uncovered batch dirs) so a reader that
  * resolved the old generation just before the flip still finds every
  * directory it needs — the [[MvMaintenance]] keep-one discipline. */
object StreamingErasure {

  /** The q148 tokenize (filter-nonempty formulation — the engine-wide
    * invariant), for the per-doc length the stat decrement needs. */
  private def toksC = graft.queries.QueryBase.toksCol

  private val Subs = Seq("tomb", "dfdec", "dlstat")

  /** The store's generational-compaction state (ONE discipline for every
    * id-keyed maintenance store — see [[GenerationalStore]]). */
  private def store(outDir: String) = new GenerationalStore(outDir, Subs)

  /** Land one micro-batch of erasure requests against the static
    * documents relation (exposed separately so the replay and crash
    * paths are testable). Requests below [[graft.queries.QueryBase
    * .EraseProtect]] are dropped at the door: the floor is part of the
    * cohort DEFINITION (the serving workload's own query docs are never
    * erasable), and without the filter a stray request for a query doc
    * would drive the stream into a state the batch purge cannot
    * represent — the stream/batch equivalence the spec proves would then
    * hold only for well-formed request streams (the r16 ADVICE). */
  def writeBatch(reqs: DataFrame, docs: DataFrame,
                 outDir: String, batchId: Long): Unit = {
    val st = store(outDir)
    st.landBatch(reqs.sparkSession, batchId) { prior =>
      val ids0 = reqs.select("doc_id")
        .where(col("doc_id") >= lit(graft.queries.QueryBase.EraseProtect))
        .distinct()
      // tombstones landed by committed work BEFORE this id: a duplicate
      // request anti-joins away (erasing twice must not decrement twice)
      val ids = st.readPart(reqs.sparkSession, "tomb", prior)
        .map(p => ids0.join(p.select("doc_id"), Seq("doc_id"), "left_anti"))
        .getOrElse(ids0)
        .cache()
      try {
        ids.write.mode("overwrite").parquet(s"$outDir/tomb/batch=$batchId")
        val erased = docs.join(broadcast(ids), Seq("doc_id"), "left_semi")
        graft.queries.TextQueries.postingsOf(erased)
          .groupBy("term").agg(count(lit(1)).as("ddf"))
          .write.mode("overwrite").parquet(s"$outDir/dfdec/batch=$batchId")
        erased.select(size(toksC).cast("long").as("dl"))
          .agg(count(lit(1)).as("n_erased"),
            coalesce(sum("dl"), lit(0L)).cast("long").as("sum_dl_erased"))
          .write.mode("overwrite").parquet(s"$outDir/dlstat/batch=$batchId")
      } finally ids.unpersist()
    }
  }

  /** Start maintaining the erasure store for a stream of (doc_id)
    * requests against the static documents relation. `compactEvery`
    * runs [[compact]] inside the stream every k-th batch. */
  def start(reqs: DataFrame, docs: DataFrame, outDir: String,
            checkpoint: String,
            compactEvery: Option[Long] = None): StreamingQuery =
    store(outDir).start(reqs, checkpoint, compactEvery)(
      writeBatch(_, docs, outDir, _), compact(_, outDir))

  /** Roll every fully-landed batch into one compacted generation, so the
    * store's directory count and read-side work stay bounded under an
    * unbounded request stream. Returns the active coverage after the
    * call. */
  def compact(spark: SparkSession, outDir: String): Option[Long] =
    store(outDir).compact(spark) { (covered, land) =>
      val (tomb, dec, stat) = storeAt(spark, outDir, covered)
      land(Map("tomb" -> tomb, "dfdec" -> dec, "dlstat" -> stat))
    }

  /** The accumulated store: the active compacted generation (if any)
    * plus loose batches above its coverage, each restricted to
    * FULLY-landed ids (present in all three subdirectories — see the
    * publish-atomicity note above): merged tombstone ids, per-term df
    * decrements summed across batches (decrements are additive, the q138
    * integer-partial discipline), and the one-row total stat decrement
    * (zeros when nothing landed). The generation is resolved FIRST, then
    * the loose batches — with the keep-one GC lag that order can never
    * observe a store state with a hole. */
  def readStore(spark: SparkSession, outDir: String)
      : (DataFrame, DataFrame, DataFrame) =
    storeAt(spark, outDir, store(outDir).snapshot(spark))

  /** The store state over one snapshot — shared by [[readStore]] (the
    * current one) and [[compact]] (exactly the ids its new generation
    * claims to cover). */
  private def storeAt(spark: SparkSession, outDir: String,
                      snap: StoreSnapshot): (DataFrame, DataFrame, DataFrame) = {
    val st = store(outDir)
    import spark.implicits._
    val tomb = st.readPart(spark, "tomb", snap)
      .getOrElse(Seq.empty[Long].toDF("doc_id"))
    val dec = st.readPart(spark, "dfdec", snap)
      .map(_.groupBy("term").agg(sum("ddf").as("ddf")))
      .getOrElse(Seq.empty[(String, Long)].toDF("term", "ddf"))
    val stat = st.readPart(spark, "dlstat", snap)
      .map(_.agg(coalesce(sum("n_erased"), lit(0L)).cast("long").as("n_erased"),
        coalesce(sum("sum_dl_erased"), lit(0L)).cast("long").as("sum_dl_erased")))
      .getOrElse(Seq((0L, 0L)).toDF("n_erased", "sum_dl_erased"))
    (tomb, dec, stat)
  }
}
