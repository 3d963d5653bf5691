package graft.streaming

import graft.sax.SaxFunctions.sax_encode
import graft.sax.SaxWindow
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming port of the reference's stateful sliding-window
  * operator (`sts_window`, SURVEY.md §2 ops 7-10): per-key state holds the
  * NaN-prefilled ring plus the O(1) online moments, exactly the 3-case
  * update algebra of append_value (/root/reference/src/symtseries.c:434-479).
  *
  * The GroupState snapshot/restore round-trip is the Spark analogue of the
  * reference's lua_sandbox serialize_sax checkpoint
  * (/root/reference/lua/lua_sax.c:293-342): Spark persists [[SaxState]] to
  * the checkpoint state store between micro-batches.
  *
  * Semantics: strictly arrival-ordered like the reference (no watermark /
  * late-data reordering). Within a micro-batch, events are ordered by
  * (ts, eventId); across batches, ordering is arrival order — matching the
  * reference's append semantics rather than event-time semantics. At 100 TB
  * scale the state is O(n) doubles per key and the only shuffle is the
  * groupByKey on the series key.
  */
object SaxStreaming {

  final case class SeriesEvent(userId: Long, eventId: Long, ts: Long, value: Double)
  final case class WordOut(userId: Long, eventId: Long, word: String)

  /** Normalize an events frame (user_id, event_id, ts, value) into the typed
    * [[SeriesEvent]] surface. `ts` becomes epoch NANOSECONDS whatever the
    * carrier type — TIMESTAMP/TIMESTAMP_NTZ (µs·1000, lossless for µs
    * parquet) or legacy integer ns (µs-truncated, the same precision every
    * batch ordering uses). One conversion point so a schema change in the
    * source can never split the typed streaming surface from the batch one. */
  def seriesEvents(events: org.apache.spark.sql.DataFrame): Dataset[SeriesEvent] = {
    import events.sparkSession.implicits._
    events.select(col("user_id").as("userId"), col("event_id").as("eventId"),
        (graft.queries.QueryBase.tsUs(events) * lit(1000L)).as("ts"), col("value"))
      .as[SeriesEvent]
  }

  /** Serializable window state (ring contents in insertion order + moments). */
  final case class SaxState(values: Array[Double], mu: Double, s2: Double,
                            finiteCnt: Long)

  /** Per-event sliding-window SAX encode over a (possibly streaming)
    * Dataset, emitting the updated word after every append — the streaming
    * equivalent of the batch q02 window query. */
  def encodeStream(events: Dataset[SeriesEvent], n: Int, w: Int, c: Int)
  : Dataset[WordOut] = keyed(n, w, c).run(events)

  /** The per-key declaration: rows of a batch in (ts, eventId) order, one
    * append per row. [[StreamingStateErasure.saxEncodeForgetting]] forgets
    * through the SAME declaration (one body — the twin cannot drift). */
  private[streaming] def keyed(n: Int, w: Int, c: Int) =
    KeyedState[Long, SeriesEvent, SaxState, WordOut](_.userId, OutputMode.Append(),
        Some(Ordering.by[SeriesEvent, Long](_.ts).orElseBy(_.eventId))) {
      (userId, rows, state) =>
        val win = state.getOption.fold(new SaxWindow(n, w, c))(restore(_, n, w, c))
        val out = rows.map(e => WordOut(userId, e.eventId, win.append(e.value))).toList
        state.update(snapshot(win))
        out.iterator
    }

  /** Streaming numerosity reduction: running count per SAX word
    * (Update-mode aggregation downstream of the stateful encode). */
  def wordCounts(events: Dataset[SeriesEvent], n: Int, w: Int, c: Int) = {
    encodeStream(events, n, w, c).groupBy("word").count()
  }

  /** Event-time extension the reference lacks (it is strictly
    * arrival-ordered): watermarked tumbling-window word production. Each
    * (key, event-time window) group batch-encodes the values that arrived
    * for that window, tolerating `lateness` of out-of-order data — the
    * idiomatic Structured Streaming treatment when event time, not arrival
    * order, defines the series. */
  def eventTimeWords(events: Dataset[SeriesEvent], windowLength: String,
                     lateness: String, w: Int, c: Int): DataFrame =
    windowWords(events, window(col("ets"), windowLength), lateness, w, c)
      .select(col("window"), col("userId"), col("word"))

  /** Event-time SESSION windows (gap-closed) — the streaming analogue of
    * the batch q27 sessionization: a session collects a key's events until
    * `gap` of event-time silence, then (once the watermark passes its
    * close) batch-encodes the session's values into one word. Built on
    * Spark's `session_window` state merging, so state per key is one open
    * session row, bounded by the watermark horizon like [[eventTimeWords]].
    * At 100 TB the only shuffle is the session-window aggregation on the
    * series key — the same partitioning every other per-key op uses. */
  def sessionWords(events: Dataset[SeriesEvent], gap: String,
                   lateness: String, w: Int, c: Int): DataFrame =
    windowWords(events, session_window(col("ets"), gap), lateness, w, c)
      .select(col("session_window"), col("userId"), size(col("rows")).as("n_events"),
        col("word"))

  /** The one body of both event-time variants: group by (`windowCol`, key)
    * under the watermark, then encode each group's (ts, eventId)-ordered
    * values with the native `sax_encode`. Groups have data-dependent
    * sizes, so the encode sees the largest encodable prefix (n % w == 0);
    * below w values that prefix is empty and the word is null, and the row
    * is dropped. */
  private def windowWords(events: Dataset[SeriesEvent], windowCol: Column,
                          lateness: String, w: Int, c: Int): DataFrame = {
    val values = expr("transform(rows, r -> r.value)")
    events
      // tsUs dispatches on the carrier type; for SeriesEvent's ns Long it is
      // integer division (FP division of ns epochs loses precision above 2^53)
      .withColumn("ets", timestamp_micros(graft.queries.QueryBase.tsUs(events.toDF())))
      .withWatermark("ets", lateness)
      .groupBy(windowCol, col("userId"))
      .agg(sort_array(collect_list(struct(col("ts"), col("eventId"), col("value")))).as("rows"))
      .withColumn("word",
        sax_encode(slice(values, lit(1), size(values) - size(values) % w), w, c))
      .where(col("word").isNotNull)
  }

  def snapshot(win: SaxWindow): SaxState =
    SaxState(win.values, win.currentMu, win.currentS2, win.currentFiniteCnt)

  def restore(s: SaxState, n: Int, w: Int, c: Int): SaxWindow =
    SaxWindow.restore(n, w, c, s.values, s.mu, s.s2, s.finiteCnt)
}
