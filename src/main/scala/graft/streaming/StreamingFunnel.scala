package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming event funnel — q156's live twin: the per-user first-touch
  * view → click → purchase stage timestamps maintained over an unbounded
  * event stream via [[KeyedState]], re-emitting a user's stage
  * row whenever an event improves one of their three firsts (the live
  * conversion dashboard feed; the global n_view / n_view_click / n_funnel
  * rollup is one bounded aggregation over these per-user rows).
  *
  * State per user is THREE µs timestamps (first view, first click, first
  * purchase; MaxValue = unseen) plus an update revision — O(1) per key
  * regardless of stream length, checkpointed by the GroupState store like
  * [[SaxStreaming]]'s ring. The min-timestamp semantics are
  * order-INDEPENDENT (min is commutative), so unlike the EWMA twin it
  * declares no intra-batch order and any arrival order converges to the
  * batch answer; the conversion flags evaluate the same strict
  * t1 < t2 < t3 comparisons as the batch q156.
  *
  * At 100 TB the only shuffle is the groupByKey on user_id, and state is
  * users-sized, never events-sized. A production deploy bounding user
  * cardinality would add a state TTL; the canonical funnel keeps full
  * history by definition.
  */
object StreamingFunnel {

  final case class FunnelEvent(userId: Long, ts: Long, eventType: String)
  /** MaxValue sentinels rather than Options: flat longs keep the state
    * row fixed-width in the state store. `rev` counts emissions so a
    * replay can select each user's LATEST row without relying on sink
    * ordering. */
  final case class FunnelState(t1: Long, t2: Long, t3: Long, rev: Long)
  final case class FunnelOut(userId: Long, rev: Long,
                             t1: Option[Long], t2: Option[Long], t3: Option[Long],
                             viewClick: Boolean, fullFunnel: Boolean)

  private val Unseen = Long.MaxValue

  def funnelStream(events: Dataset[FunnelEvent]): Dataset[FunnelOut] = keyed.run(events)

  /** The per-key declaration, order-free (min commutes), shared with
    * [[StreamingStateErasure.funnelStreamForgetting]] (one body — the
    * forgetting twin cannot drift). */
  private[streaming] val keyed =
    KeyedState[Long, FunnelEvent, FunnelState, FunnelOut](_.userId, OutputMode.Update(), None) {
      (userId, rows, state) =>
        val s0 = state.getOption.getOrElse(FunnelState(Unseen, Unseen, Unseen, 0L))
        var t1 = s0.t1; var t2 = s0.t2; var t3 = s0.t3
        rows.foreach { e =>
          e.eventType match {
            case "view"     => if (e.ts < t1) t1 = e.ts
            case "click"    => if (e.ts < t2) t2 = e.ts
            case "purchase" => if (e.ts < t3) t3 = e.ts
            case _          => ()
          }
        }
        if (t1 == s0.t1 && t2 == s0.t2 && t3 == s0.t3 && s0.rev > 0L)
          Iterator.empty // nothing improved — no re-emission
        else {
          val s1 = FunnelState(t1, t2, t3, s0.rev + 1L)
          state.update(s1)
          def opt(v: Long): Option[Long] = if (v == Unseen) None else Some(v)
          Iterator.single(FunnelOut(userId, s1.rev, opt(t1), opt(t2), opt(t3),
            t1 < t2, t1 < t2 && t2 < t3))
        }
    }
}
