package graft

import scala.reflect.runtime.universe.TypeTag

import graft.streaming.{SaxStreaming, StreamingAcf, StreamingDebounce, StreamingDedup,
  StreamingDrift, StreamingEwma, StreamingSessions, StreamingSurvival}
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The within-batch order of every order-dependent stateful stream: one
  * micro-batch whose rows arrive in REVERSE must give the same output as
  * the same rows in order, because each module orders a key's rows of a
  * batch before its update body sees them ((ts, eventId) for the event
  * streams, the day for the daily monitors, the doc id for first-seen).
  * Every other streaming spec feeds time-ordered batches, so without this
  * table a lost sort would pass them all. The funnel is absent on
  * purpose: its body is order-free (StreamingFunnelSpec shuffles). */
class WithinBatchOrderSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _

  override def beforeAll(): Unit = {
    spark = SparkUtil.configure(
      SparkSession.builder().master("local[2]"), "2").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    base = java.nio.file.Files.createTempDirectory("graft-batch-order-").toString
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    if (base != null) graft.queries.AtRestTables.deleteRecursively(base)
  }

  /** The sorted output rows of ONE micro-batch holding `rows`. */
  private def oneBatch[E: Encoder](tag: String, rows: Seq[E], mode: String)(
      stream: Dataset[E] => Dataset[_]): Seq[String] = {
    val src = MemoryStream[E](spark)
    val q = stream(src.toDS()).writeStream.format("memory").queryName(tag)
      .option("checkpointLocation", s"$base/$tag").outputMode(mode).start()
    try { src.addData(rows); q.processAllAvailable() } finally q.stop()
    spark.table(tag).collect().map(_.toString).sorted.toSeq
  }

  /** One case: the reversed batch's output equals the ordered batch's, and
    * the fixture really reaches an order-dependent decision (the ordered
    * output is nonempty and the rows are not a palindrome). */
  private def reversedEqualsOrdered[E: Encoder](name: String, rows: Seq[E],
      mode: String = "append")(stream: Dataset[E] => Dataset[_]): Unit =
    test(s"$name: a reversed micro-batch gives the ordered batch's output") {
      assert(rows.reverse != rows, s"$name fixture: reversal changes nothing")
      val tag = name.toLowerCase.replaceAll("\\W", "_")
      val ordered = oneBatch(s"${tag}_ordered", rows, mode)(stream)
      val reversed = oneBatch(s"${tag}_reversed", rows.reverse, mode)(stream)
      assert(ordered.nonEmpty, s"$name fixture: no output")
      assert(reversed == ordered,
        s"$name: reversed rows changed the output\nordered:  $ordered\nreversed: $reversed")
    }

  // the cases register before the session exists; product encoders need none
  private implicit def productEncoder[T <: Product : TypeTag]: Encoder[T] = Encoders.product[T]

  /** Three users, ts rising with the event id, values that make each
    * user's words, gaps and smoothing depend on the order. */
  private val ids = 1 to 36
  private def valueOf(i: Int): Double = math.sin(i.toDouble) * 10 + (i % 7)

  reversedEqualsOrdered("SAX", ids.map(i =>
      SaxStreaming.SeriesEvent(i % 3, i.toLong, i * 1000L, valueOf(i)))) {
    SaxStreaming.encodeStream(_, 8, 4, 4)
  }

  reversedEqualsOrdered("sessions", ids.map(i =>
      StreamingSessions.SpanEvent(i % 3, i * i * 10L, i.toLong)), "update") {
    StreamingSessions.sessionStream(_, 500L)
  }

  reversedEqualsOrdered("survival", ids.map(i =>
      StreamingSurvival.SurvEvent(i % 3, i * i * 100000L, i.toLong))) {
    StreamingSurvival.survivalStream
  }

  private val tau = graft.queries.RelQueries.DebounceUs
  reversedEqualsOrdered("debounce", ids.map(i =>
      StreamingDebounce.DebEvent(i % 3, i.toLong, i * i * tau / 40, "view", valueOf(i)))) {
    StreamingDebounce.debounceStream
  }

  reversedEqualsOrdered("EWMA", ids.map(i =>
      StreamingEwma.EwmaEvent(i % 3, i.toLong, i * 1000L, "view", valueOf(i)))) {
    StreamingEwma.ewmaStream
  }

  /** Two event types, 20 days each, daily means with a level shift. */
  private val days = for (t <- Seq("view", "click"); d <- 1 to 20)
    yield (t, d.toLong, (if (d > 12) 90000L else 10000L) + (d * 7919L % 5000L))

  reversedEqualsOrdered("drift", days.map { case (t, d, mq) =>
      StreamingDrift.DayMean(t, d, mq) }) {
    StreamingDrift.phStream
  }

  reversedEqualsOrdered("ACF", days.map { case (t, d, mq) =>
      StreamingAcf.DayMean(t, d, mq) }) {
    StreamingAcf.acfStream
  }

  reversedEqualsOrdered("first-seen", (1 to 12).map(i =>
      StreamingDedup.DocEvent(i.toLong, new java.sql.Timestamp(i * 1000L),
        s"Document body ${i % 4}!"))) {
    StreamingDedup.firstSeenStream
  }
}
