package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.sax.SaxWindow
import graft.streaming.SaxStreaming
import graft.streaming.SaxStreaming.SeriesEvent
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Canary for fork-free local I/O: a session built by
  * [[SparkUtil.configure]] must commit micro-batches (offset log, commit
  * log, state store) and write parquet without starting a single OS
  * process, and without dropping any checksum. A JFR recording with only
  * `jdk.ProcessStart` enabled counts the forks, and a failure prints the
  * top stack frames of each. Stock Hadoop without its
  * native library forks a `chmod` per created file and `.crc`, and the
  * FileContext checkpoint manager forks `readlink` four times per rename:
  * about 40 processes per micro-batch.
  *
  * The second test proves that a checkpoint written by the FileContext
  * manager (Spark's default, used before `configure` switched it) resumes
  * under the FileSystem manager with no gap and no duplicate. */
class LocalIoSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val Managers = "org.apache.spark.sql.execution.streaming.checkpointing."

  override def beforeAll(): Unit = {
    spark = SparkUtil.configure(
      SparkSession.builder().master("local[2]"), "2").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dir = Files.createTempDirectory("graft-localio-").toString
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    if (dir != null) graft.queries.AtRestTables.deleteRecursively(dir)
  }

  private val (n, w, c) = (8, 4, 4)

  /** Events `from..to` over three users; ts rises with the id, so arrival
    * order equals (ts, eventId) order across batches. */
  private def events(from: Int, to: Int): Seq[SeriesEvent] =
    (from to to).map(i => SeriesEvent(i % 3, i, i * 1000L, math.sin(i.toDouble) * 10))

  private def start(stream: MemoryStream[SeriesEvent], name: String): StreamingQuery =
    SaxStreaming.encodeStream(stream.toDS(), n, w, c)
      .writeStream.format("parquet")
      .option("path", s"$dir/$name/out")
      .option("checkpointLocation", s"$dir/$name/cp")
      .outputMode("append").start()

  private def drain(q: StreamingQuery, stream: MemoryStream[SeriesEvent],
      chunks: Seq[(Int, Int)]): Unit =
    chunks.foreach { case (a, b) => stream.addData(events(a, b)); q.processAllAvailable() }

  private def words(name: String): Seq[(Long, String)] = {
    val ss = spark; import ss.implicits._
    spark.read.parquet(s"$dir/$name/out").select("eventId", "word")
      .as[(Long, String)].collect().toSeq
  }

  /** The driver-side arrival-order replay through the scalar window. */
  private def replay(all: Seq[SeriesEvent]): Map[Long, String] =
    all.groupBy(_.userId).flatMap { case (_, evs) =>
      val win = new SaxWindow(n, w, c)
      evs.sortBy(e => (e.ts, e.eventId)).map(e => e.eventId -> win.append(e.value))
    }

  /** A process the JVM started: its command line and the top frames of
    * the stack that started it. */
  private case class Fork(command: String, frames: Seq[String])

  /** Every process the JVM starts while `body` runs. The stack shows where
    * a fork came from (checkpoint or parquet I/O, or the cleanup of a
    * session an earlier suite left to the garbage collector) without a
    * re-run. */
  private def processStarts(body: => Unit): Seq[Fork] = {
    val jfr = Files.createTempFile("graft-localio-", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.setDestination(jfr)
      rec.start()
      try body finally rec.stop()
      RecordingFile.readAllEvents(jfr).asScala.toSeq.map { e =>
        val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala.take(16))
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}:${f.getLineNumber}")
        Fork(e.getString("command"), frames)
      }
    } finally { rec.close(); Files.deleteIfExists(jfr) }
  }

  private def filesUnder(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) filesUnder(f) else Seq(f))

  test("micro-batches and a parquet write start no process and keep every checksum") {
    val ss = spark; import ss.implicits._
    val stream = MemoryStream[SeriesEvent](spark)
    val forks = processStarts {
      val q = start(stream, "fresh")
      try drain(q, stream, Seq((1, 30), (31, 60), (61, 90))) finally q.stop()
      events(1, 90).toDF().write.parquet(s"$dir/fresh/table")
    }
    assert(forks.size == 0, "process starts by command: " +
      forks.groupBy(_.command.takeWhile(_ != ' ')).map { case (k, v) => s"$k x${v.size}" }
        .mkString(", ") + "\n" + forks.map(f =>
          s"${f.command}\n    at ${f.frames.mkString("\n    at ")}").mkString("\n"))
    assert(words("fresh").toMap == replay(events(1, 90)))

    val cp = new File(s"$dir/fresh/cp")
    for (log <- Seq("offsets", "commits"); b <- 0 to 2)
      assert(new File(cp, s"$log/.$b.crc").isFile, s"no .crc beside $log/$b")
    // each state delta keeps Spark's checksum file (`<v>.delta.crc`,
    // ChecksumCheckpointFileManager) and Hadoop's sidecar (`.<v>.delta.crc`)
    val deltas = filesUnder(new File(cp, "state")).filter(_.getName.endsWith(".delta"))
    assert(deltas.size == 2 * 3, deltas)
    for (d <- deltas; sum <- Seq(s"${d.getName}.crc", s".${d.getName}.crc"))
      assert(new File(d.getParentFile, sum).isFile, s"no $sum beside $d")
  }

  test("a checkpoint written by the FileContext manager resumes with no gap or duplicate") {
    val ss = spark; import ss.implicits._
    val configured = spark.conf.get(ManagerKey)
    assert(configured == Managers + "FileSystemBasedCheckpointFileManager")
    val stream = MemoryStream[SeriesEvent](spark)
    spark.conf.set(ManagerKey, Managers + "FileContextBasedCheckpointFileManager")
    try {
      val q = start(stream, "resumed")
      try drain(q, stream, Seq((1, 30), (31, 60))) finally q.stop()
    } finally spark.conf.set(ManagerKey, configured)

    val q = start(stream, "resumed")
    try drain(q, stream, Seq((61, 90))) finally q.stop()

    val got = words("resumed")
    assert(got.size == 90, s"expected 90 rows, got ${got.size}")
    assert(got.toMap == replay(events(1, 90)))
  }
}
