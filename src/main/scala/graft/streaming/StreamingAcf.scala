package graft.streaming

import graft.queries.QueryBase.pround
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Streaming autocorrelation — q289's live twin: the lag-1..7 daily-mean
  * correlogram maintained over a stream of per-(type, day) rows (the same
  * bounded aggregate [[StreamingDrift]] consumes) via
  * [[KeyedState]], emitting the refreshed per-lag r after every
  * drained day — the periodicity readout a 100 TB pipeline watches live
  * instead of re-running the batch scan.
  *
  * State per key is a ≤[[maxLag]]-entry (day, mq) ring (the only days a
  * future pair can still reference) plus six BIGINT moments per lag —
  * O(|lags|) per type regardless of stream length, checkpointed by the
  * GroupState store. A day d closes the (d−l, d) pair for every lag l
  * whose left day exists, accumulating the IDENTICAL five cross-moment
  * integers the batch join builds ([[graft.queries.RelQueries.acfOf]]);
  * integer addition is order-free within a lag, and the terminal
  * r = pround(num/√(d1·d2), 6) is the same one IEEE expression — so a
  * drained in-order stream's final row per (type, lag) is bit-identical
  * to the batch q289 report (StreamingAcfSpec replays the real table and
  * asserts exact equality).
  *
  * Ordering: days are ordered within each micro-batch; across batches it is
  * arrival order, so a day-ordered feed (days arrive as they close)
  * reproduces the batch semantics exactly — the [[StreamingDrift]] /
  * [[StreamingEwma]] contract. Lags with no completed pair yet emit
  * nothing, matching the batch inner join's absent rows. */
object StreamingAcf {

  final case class DayMean(eventType: String, day: Long, mq: Long)
  final case class DayVal(day: Long, mq: Long)
  final case class LagM(n: Long, sx: Long, sy: Long,
                        sxx: Long, syy: Long, sxy: Long)
  final case class AcfState(recent: List[DayVal], lags: List[LagM])
  /** One refreshed correlogram row per (lag, day that closed a pair). */
  final case class AcfOut(eventType: String, lagD: Long, day: Long,
                          nDays: Long, r: Double)

  private val Lags: Seq[Int] = graft.queries.RelQueries.AcfLags
  private val maxLag: Long = Lags.max.toLong

  /** The batch tail's terminal expression on one lag's moments. */
  private def rOf(m: LagM): Double = {
    val num = m.n * m.sxy - m.sx * m.sy
    val d1 = m.n * m.sxx - m.sx * m.sx
    val d2 = m.n * m.syy - m.sy * m.sy
    if (d1 > 0L && d2 > 0L)
      pround(num.toDouble / math.sqrt(d1.toDouble * d2.toDouble), 6)
    else 0.0
  }

  def acfStream(days: Dataset[DayMean]): Dataset[AcfOut] = keyed.run(days)

  private val keyed =
    KeyedState[String, DayMean, AcfState, AcfOut](_.eventType, OutputMode.Append(),
        Some(Ordering.by[DayMean, Long](_.day))) {
      (et, rows, state) =>
        var st = state.getOption.getOrElse(
          AcfState(Nil, List.fill(Lags.size)(LagM(0L, 0L, 0L, 0L, 0L, 0L))))
        val out = rows.flatMap { r =>
          // (updated this day?, refreshed moments) per lag — only lags
          // the day completed a pair for emit, so the output stream is
          // exactly one row per (type, lag, closing day), the same rows
          // the batch inner join materializes
          val stepped = st.lags.zip(Lags).map { case (m, l) =>
            st.recent.find(_.day == r.day - l) match {
              case Some(u) => (true, LagM(m.n + 1, m.sx + u.mq,
                m.sy + r.mq, m.sxx + u.mq * u.mq, m.syy + r.mq * r.mq,
                m.sxy + u.mq * r.mq))
              case None => (false, m)
            }
          }
          st = AcfState(
            (DayVal(r.day, r.mq) :: st.recent)
              .filter(_.day > r.day - maxLag),
            stepped.map(_._2))
          stepped.zip(Lags).collect { case ((true, m), l) =>
            AcfOut(et, l.toLong, r.day, m.n, rOf(m))
          }
        }.toList
        state.update(st)
        out.iterator
    }
}
