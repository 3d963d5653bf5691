package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming debounce — q164's live twin: the telemetry-cleaning gate
  * that drops events arriving within [[graft.queries.RelQueries.DebounceUs]]
  * of the same user's PREVIOUS raw event (kept or not — the same
  * non-chained rule as the batch lag() pass), maintained over an
  * unbounded stream via [[KeyedState]] and emitting every
  * event with its keep/drop decision (a production pipe would filter on
  * `keep`; emitting both keeps every decision replay-checkable).
  *
  * State per user is ONE µs timestamp — the smallest state any stateful
  * operator here carries, checkpointed by the GroupState store. Ordering
  * matches the batch (ts_us, event_id) window order the way
  * [[StreamingEwma]] does: rows are ordered within each micro-batch; across
  * batches it is arrival order, so a time-ordered feed reproduces the
  * batch decisions exactly (StreamingDebounceSpec replays the real
  * events table and asserts per-event equality).
  *
  * At 100 TB the only shuffle is the groupByKey on user_id; state is
  * users-sized and fixed-width, and a state TTL (GroupStateTimeout)
  * would bound even that if the key space were unbounded.
  */
object StreamingDebounce {

  final case class DebEvent(userId: Long, eventId: Long, ts: Long,
                            eventType: String, value: Double)
  final case class DebState(lastTs: Long)
  final case class DebOut(userId: Long, eventId: Long, eventType: String,
                          value: Double, keep: Boolean)

  private val Tau = graft.queries.RelQueries.DebounceUs

  def debounceStream(events: Dataset[DebEvent]): Dataset[DebOut] = keyed.run(events)

  /** The per-key declaration, shared with
    * [[StreamingStateErasure.debounceStreamForgetting]], which composes the
    * one-rule erasure semantics AROUND the unchanged debounce rule. */
  private[streaming] val keyed =
    KeyedState[Long, DebEvent, DebState, DebOut](_.userId, OutputMode.Append(),
        Some(Ordering.by[DebEvent, Long](_.ts).orElseBy(_.eventId))) {
      (userId, rows, state) =>
        var last = state.getOption.map(_.lastTs).getOrElse(Long.MinValue)
        val out = rows.map { e =>
          val keep = last == Long.MinValue || e.ts - last >= Tau
          last = e.ts
          DebOut(userId, e.eventId, e.eventType, e.value, keep)
        }.toList
        state.update(DebState(last))
        out.iterator
    }
}
