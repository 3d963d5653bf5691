package graft.streaming

import graft.queries.QueryBase.pround
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming Page–Hinkley — q280's live twin: the sequential drift
  * detector maintained over a stream of per-(type, day) daily-mean rows
  * (the bounded aggregate the MV layer already lands per day) via
  * [[KeyedState]], emitting the monitor row after every day —
  * the alarm feed a 100 TB pipeline watches instead of re-running the
  * batch scan.
  *
  * State per key is SIX longs (day count, running mq sum, PH sum, its
  * running min, the peak deviation, the first alarm day) — O(1) per type
  * regardless of stream length, checkpointed by the GroupState store.
  * Every update is the SAME arithmetic as the batch window pass
  * ([[graft.queries.RelQueries.pageHinkleyOf]]): one cs/i IEEE division,
  * floor(·+0.5) quantization at birth, then pure BIGINT prefix algebra —
  * so a drained in-order stream's final row per type is bit-identical to
  * the batch q280 report (StreamingDriftSpec replays the real table and
  * asserts exact equality).
  *
  * Ordering: days are ordered within each micro-batch; across batches it is
  * arrival order, so a day-ordered feed (days arrive as they close)
  * reproduces the batch semantics exactly — the
  * [[StreamingEwma]]/[[SaxStreaming]] contract. */
object StreamingDrift {

  final case class DayMean(eventType: String, day: Long, mq: Long)
  final case class PhState(n: Long, cs: Long, m: Long, runmin: Long,
                           maxDev: Long, alarmDay: Long)
  /** One monitor row per drained day: current deviation, running peak
    * (both in value units via the q280 pround), and the sticky first
    * alarm day (−1 until the λ threshold is first cleared). */
  final case class PhOut(eventType: String, day: Long, nDays: Long,
                         dev: Double, maxDev: Double, alarmDay: Long)

  private val DeltaQ = graft.queries.RelQueries.PhDeltaQ
  private val LambdaQ = graft.queries.RelQueries.PhLambdaQ

  def phStream(days: Dataset[DayMean]): Dataset[PhOut] = keyed.run(days)

  private val keyed =
    KeyedState[String, DayMean, PhState, PhOut](_.eventType, OutputMode.Append(),
        Some(Ordering.by[DayMean, Long](_.day))) {
      (et, rows, state) =>
        var st = state.getOption.getOrElse(
          PhState(0L, 0L, 0L, Long.MaxValue, 0L, -1L))
        val out = rows.map { r =>
          val n = st.n + 1
          val cs = st.cs + r.mq
          val qd = math.floor(r.mq.toDouble - cs.toDouble / n.toDouble
            + 0.5).toLong - DeltaQ
          val m = st.m + qd
          val runmin = math.min(st.runmin, m)
          val dev = m - runmin
          val maxDev = math.max(st.maxDev, dev)
          val alarmDay =
            if (st.alarmDay >= 0L || dev <= LambdaQ) st.alarmDay else r.day
          st = PhState(n, cs, m, runmin, maxDev, alarmDay)
          PhOut(et, r.day, n, pround(dev.toDouble / 1.0e4, 4),
            pround(maxDev.toDouble / 1.0e4, 4), alarmDay)
        }.toList
        state.update(st)
        out.iterator
    }
}
