package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming gap sessionizer — the live producer for q264/q265's
  * interval-analytics family: per-user sessions (split on inactivity
  * gaps > `gapUs`) maintained over an unbounded event stream via
  * [[KeyedState]]. Each micro-batch emits (Update mode) the
  * final extent of every session CLOSED inside the batch plus the
  * current extent of the open one; downstream, the per-day peak
  * concurrency / coverage rollup is the SAME day-clip + boundary +
  * running-sum arithmetic the batch queries run
  * ([[graft.queries.RelQueries.clipSpansToBoundaries]] /
  * `peakOfBoundaries`), applied to the sessions-sized emitted frame —
  * the live capacity dashboard without ever re-scanning event history.
  *
  * State per user is ONE open session (two µs timestamps) plus an
  * emission revision — O(1) per key regardless of stream length,
  * checkpointed by the GroupState store like [[SaxStreaming]]'s ring.
  * Gap splitting is arrival-ORDER-dependent (like [[StreamingEwma]],
  * unlike the funnel's commutative mins), so the declaration orders rows by
  * (ts, eventId) inside each batch and the feed contract is event-time
  * ordered batches — in production, a watermark + event-time-ordered
  * replay of late data; the replay spec proves ordered replay converges
  * to the batch window's exact session frame.
  *
  * At 100 TB the only shuffle is the groupByKey on user_id, state is
  * users-sized, and emissions are sessions-sized — never events-sized.
  */
object StreamingSessions {

  final case class SpanEvent(userId: Long, ts: Long, eventId: Long)
  /** The open session's extent. `rev` counts emissions per user so a
    * replay selects each session's LATEST row (max rev per (userId,
    * sUs)) without relying on sink ordering. */
  final case class SessionState(sUs: Long, eUs: Long, rev: Long)
  final case class SessionOut(userId: Long, sUs: Long, eUs: Long,
                              rev: Long, closed: Boolean)

  def sessionStream(events: Dataset[SpanEvent],
                    gapUs: Long): Dataset[SessionOut] = keyed(gapUs).run(events)

  /** The per-key declaration, shared with
    * [[StreamingStateErasure.sessionStreamForgetting]] (one body — the
    * forgetting twin cannot drift). */
  private[streaming] def keyed(gapUs: Long) =
    KeyedState[Long, SpanEvent, SessionState, SessionOut](_.userId, OutputMode.Update(),
        Some(Ordering.by[SpanEvent, Long](_.ts).orElseBy(_.eventId))) {
      (userId, rows, state) =>
        var st = state.getOption.orNull
        var rev = if (st == null) 0L else st.rev
        val out = Seq.newBuilder[SessionOut]
        rows.foreach { e =>
          if (st == null) st = SessionState(e.ts, e.ts, rev)
          else if (e.ts - st.eUs > gapUs) {
            // the old session can never extend again — emit its FINAL row
            rev += 1
            out += SessionOut(userId, st.sUs, st.eUs, rev, closed = true)
            st = SessionState(e.ts, e.ts, rev)
          } else if (e.ts > st.eUs) st = SessionState(st.sUs, e.ts, st.rev)
        }
        if (st != null) {
          // current open session: re-emit its extent once per batch
          rev += 1
          st = SessionState(st.sUs, st.eUs, rev)
          state.update(st)
          out += SessionOut(userId, st.sUs, st.eUs, rev, closed = false)
        }
        out.result().iterator
    }
}
