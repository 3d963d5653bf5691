package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming deduplication over a document ingest stream — the online
  * counterpart of the batch dedup family (q30/q56/q62): documents arrive
  * continuously and only first-seen content may pass downstream.
  *
  * Two operators, matching the two state-budget regimes at 100 TB:
  *
  *  1. [[exactDedupStream]]: watermarked `dropDuplicatesWithinWatermark`
  *     on the normalized-content hash — Spark's built-in dedup state store
  *     keeps one entry per hash inside the watermark horizon, so state is
  *     bounded by the ingest window, not corpus history.
  *  2. [[firstSeenStream]]: a [[KeyedState]] keyed by the
  *     content hash that emits each document annotated with its canonical
  *     (first-seen) doc id — the streaming analogue of q56's survivor
  *     pointers, with the same checkpoint/restore durability as
  *     [[SaxStreaming]]'s window state.
  *
  * The normalization is the exact q30/q56 formulation (lowercase,
  * non-alnum -> space, squeeze, trim, md5), so a batch backfill and the
  * stream agree on what "identical content" means.
  */
object StreamingDedup {

  final case class DocEvent(docId: Long, ts: java.sql.Timestamp, text: String)
  final case class DedupOut(docId: Long, canonicalId: Long, isDup: Boolean)

  /** Normalized-content hash column (shared with q30/q56). */
  def contentHash(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " ")))

  /** Watermarked exact dedup: keeps the first arrival of each normalized
    * content hash, dropping re-arrivals within the lateness horizon.
    *
    * `dropDuplicatesWithinWatermark`, NOT `dropDuplicates("h")`: the plain
    * variant only evicts state when the event-time column is part of the
    * dedup key, so keying on the hash alone would keep one state row per
    * distinct content FOREVER (state ∝ corpus history — the exact thing a
    * streaming dedup at 100 TB cannot afford). The within-watermark variant
    * expires each hash's state once the watermark passes its horizon
    * (`StreamingDedupSpec` pins the eviction), at the documented price that
    * a re-arrival AFTER the horizon re-emits — the batch q56 survivor pass
    * downstream consolidates those, which is the standard lambda split of
    * responsibilities. */
  def exactDedupStream(docs: DataFrame, lateness: String): DataFrame =
    docs
      .withColumn("h", contentHash(col("text")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("h")

  /** Stateful first-seen annotation: every document flows through, tagged
    * with the doc id that first carried its content (itself if novel).
    * State per hash is a single long — O(distinct contents) total, the
    * same asymptotics as the batch canonical-id aggregation. */
  def firstSeenStream(docs: Dataset[DocEvent]): Dataset[DedupOut] = keyed.run(docs)

  /** The exact q30/q56 normalized-content md5, as the plain-Scala twin of
    * [[contentHash]] (same normalization, same digest — the streaming
    * group key and an erasure request's content key both derive here). */
  private[streaming] def normHash(text: String): String =
    graft.text.TextHash.md5Hex(
      text.toLowerCase.replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim)

  /** The per-key declaration, shared with
    * [[StreamingStateErasure.firstSeenForgetting]], which composes the
    * one-rule erasure semantics AROUND the unchanged survivor rule:
    * forgetting a hash's state drops the (possibly erased) canonical
    * pointer, so later identical content elects a FRESH survivor instead
    * of resurrecting the erased doc's id. Within a batch the lowest doc id
    * wins, like q56. */
  private[streaming] val keyed =
    KeyedState[String, DocEvent, Long, DedupOut](d => normHash(d.text), OutputMode.Append(),
        Some(Ordering.by[DocEvent, Long](_.docId))) {
      (_, rows, state) =>
        val docs = rows.buffered
        if (!state.exists) state.update(docs.head.docId)
        val canonical = state.get
        docs.map(d => DedupOut(d.docId, canonical, d.docId != canonical))
    }
}
