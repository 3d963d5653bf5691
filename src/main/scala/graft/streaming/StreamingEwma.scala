package graft.streaming

import graft.queries.QueryBase.pround
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming truncated-EWMA — q192's live twin: the per-key
  * exponentially-weighted moving average maintained over an unbounded
  * event stream via [[KeyedState]], emitting the smoothed value
  * after every event (the monitoring-dashboard feed).
  *
  * State per key is the last ≤8 quantized values (one Array[Long] of at
  * most [[graft.queries.RelQueries.EwmaWq]].length entries) — O(1) per
  * key regardless of stream length, checkpointed by the GroupState store
  * like [[SaxStreaming]]'s ring. The weights, the value quantization and
  * the final pround all come from the SAME constants/ops as the batch
  * q192 window pass, so a drained stream's per-event output is
  * bit-identical to the batch frame (StreamingEwmaSpec replays the real
  * events table and asserts exact equality).
  *
  * Ordering matches the batch (ts, eventId) window order the way
  * [[SaxStreaming.encodeStream]] does: rows are ordered within each micro-batch;
  * across batches it is arrival order, so a time-ordered feed reproduces
  * the batch semantics exactly. At 100 TB the only shuffle is the
  * groupByKey on the series key.
  */
object StreamingEwma {

  final case class EwmaEvent(userId: Long, eventId: Long, ts: Long,
                             eventType: String, value: Double)
  final case class EwmaState(recent: Array[Long]) // most-recent-first, ≤ 8
  final case class EwmaOut(userId: Long, eventId: Long, eventType: String,
                           ewma: Double)

  private val W = graft.queries.RelQueries.EwmaWq.toArray
  private val Scale = 10000.0

  def ewmaStream(events: Dataset[EwmaEvent]): Dataset[EwmaOut] = keyed.run(events)

  /** The per-key declaration, shared with
    * [[StreamingStateErasure.ewmaStreamForgetting]], which composes the
    * one-rule erasure semantics AROUND the unchanged weight algebra. */
  private[streaming] val keyed =
    KeyedState[Long, EwmaEvent, EwmaState, EwmaOut](_.userId, OutputMode.Append(),
        Some(Ordering.by[EwmaEvent, Long](_.ts).orElseBy(_.eventId))) {
      (userId, rows, state) =>
        var recent = state.getOption.map(_.recent.toVector).getOrElse(Vector.empty)
        val out = rows.map { e =>
          val vq = math.floor(e.value * Scale + 0.5).toLong
          recent = (vq +: recent).take(W.length)
          var num = 0L
          var den = 0L
          var k = 0
          while (k < recent.length) {
            num += W(k) * recent(k); den += W(k); k += 1
          }
          EwmaOut(userId, e.eventId, e.eventType,
            pround(num.toDouble / (den.toDouble * Scale), 6))
        }.toList
        state.update(EwmaState(recent.toArray))
        out.iterator
    }
}
