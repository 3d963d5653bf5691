package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming Kaplan–Meier feed — the survival family's live member (the
  * q290 batch report's twin, completing the ACF/drift/sessions pattern):
  * per-user inter-event gaps maintained over an unbounded event stream
  * via [[KeyedState]].
  *
  * The estimator needs two ingredient multisets ([[graft.queries
  * .RelQueries.kaplanMeierOf]]'s level frame is the shared surface):
  *
  *  - EVENT observations: every closed inter-event gap in seconds —
  *    emitted exactly once, the moment the gap closes (an event arrives
  *    for a user with prior state);
  *  - CENSORED observations: each user's final OPEN interval to the
  *    corpus end — unknowable mid-stream, so each batch re-emits the
  *    user's current last-event timestamp (`closed=false`, max-rev row
  *    wins on readout, the [[StreamingSessions]] revision discipline);
  *    the readout derives `gmax − umax` per user, with gmax = the max
  *    over all users' last timestamps, exactly the batch derivation.
  *
  * State per user is ONE timestamp plus the emission revision — O(1)
  * per key regardless of stream length, checkpointed by the GroupState
  * store. Gap formation is arrival-order-dependent (the
  * [[StreamingSessions]] contract): rows arrive in (ts, eventId) order
  * inside each batch and the feed contract is event-time-ordered batches; the
  * replay spec proves ordered replay is bit-equal to the batch q290
  * report. At 100 TB the only shuffle is the groupByKey on user_id,
  * state is users-sized, and emissions are events-sized exactly once
  * (closed gaps) plus users-sized per batch (open intervals).
  */
object StreamingSurvival {

  final case class SurvEvent(userId: Long, ts: Long, eventId: Long)
  /** lastTs = the user's latest event time (µs); rev counts emissions so
    * a replay selects the user's final open row without sink ordering. */
  final case class SurvState(lastTs: Long, rev: Long)
  /** closed=true: `v` is the gap in SECONDS ((ts−prev) div 1e6 — the
    * exact q290 level arithmetic). closed=false: `v` is the user's
    * current last-event µs timestamp (the censoring ingredient). */
  final case class SurvOut(userId: Long, v: Long, rev: Long, closed: Boolean)

  def survivalStream(events: Dataset[SurvEvent]): Dataset[SurvOut] = keyed.run(events)

  /** The per-key declaration, shared with
    * [[StreamingStateErasure.survivalStreamForgetting]], which composes the
    * one-rule erasure semantics AROUND the unchanged gap algebra. */
  private[streaming] val keyed =
    KeyedState[Long, SurvEvent, SurvState, SurvOut](_.userId, OutputMode.Append(),
        Some(Ordering.by[SurvEvent, Long](_.ts).orElseBy(_.eventId))) {
      (userId, rows, state) =>
        var st = state.getOption.orNull
        var rev = if (st == null) 0L else st.rev
        val out = Seq.newBuilder[SurvOut]
        rows.foreach { e =>
          if (st != null) {
            rev += 1
            // equal-timestamp events close a 0-second gap, exactly like
            // the batch lead() over the (ts, event_id) total order
            out += SurvOut(userId, (e.ts - st.lastTs) / 1000000L, rev,
              closed = true)
          }
          st = SurvState(e.ts, rev)
        }
        if (st != null) {
          rev += 1
          st = SurvState(st.lastTs, rev)
          state.update(st)
          out += SurvOut(userId, st.lastTs, rev, closed = false)
        }
        out.result().iterator
    }
}
