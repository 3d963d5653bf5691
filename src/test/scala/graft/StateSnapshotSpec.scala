package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.sax.SaxWindow
import graft.streaming.SaxStreaming
import graft.streaming.SaxStreaming.SeriesEvent
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.ChecksumCheckpointFileManager
import org.apache.spark.sql.execution.streaming.operators.stateful.StatefulOperator
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreId, StateStoreProviderId}
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** What a restart does with the state store's snapshots. Spark's
  * HDFS-backed state store writes each micro-batch's changes as a
  * `<v>.delta`, and its background maintenance task folds them into a
  * `<v>.snapshot`; a restart restores the newest snapshot plus the deltas
  * after it. A tier-1 run logs "No checksum file found for …/<v>.snapshot"
  * a few hundred times, which reads as if snapshots were restored
  * unverified. This spec makes the maintenance task write snapshots under
  * a [[graft.streaming.KeyedState]] stream (SAX), on its own session with
  * `minDeltasForSnapshot` 1 and a 100 ms maintenance interval, and pins:
  *
  *  - every snapshot carries Spark's checksum file (`<v>.snapshot.crc`)
  *    and Hadoop's sidecar (`.<v>.snapshot.crc`), and the warning names
  *    only snapshot versions that do not exist: the restore probes
  *    `<latest>.snapshot` first, and the checksum manager logs before the
  *    open finds no file;
  *  - a snapshot whose bytes are flipped fails the restart with
  *    `CANNOT_LOAD_STATE_STORE`, caused by a checksum error — with both
  *    checksum files, and with Spark's alone. It neither falls back to
  *    the deltas nor restores wrong state. */
class StateSnapshotSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _

  override def beforeAll(): Unit = {
    // the maintenance task is JVM-wide and keeps the interval of the
    // session that started it: stop it, so this session's interval applies
    StateStore.stop()
    spark = SparkUtil.configure(SparkSession.builder().master("local[2]")
      .config("spark.sql.streaming.stateStore.minDeltasForSnapshot", "1")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "100ms"), "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    base = Files.createTempDirectory("graft-snapshot-").toString
  }

  /** Every state-store provider a query of this spec loaded. */
  private val providers = new ConcurrentLinkedQueue[StateStoreProviderId]()

  /** Records `q`'s providers, then stops it. */
  private def stop(q: StreamingQuery): Unit = {
    for {
      ex <- Option(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution)
      plan <- scala.util.Try(ex.executedPlan).toOption
      op <- plan.collect { case s: StatefulOperator => s.getStateInfo }
      p <- 0 until op.numPartitions
    } providers.add(StateStoreProviderId(StateStoreId(op.checkpointLocation, op.operatorId, p,
        StateStoreId.DEFAULT_STORE_NAME), op.queryRunId))
    q.stop()
  }

  /** Ends the 100 ms maintenance task before the next suite starts a
    * session, which would otherwise inherit it. Stopping it races a
    * maintenance worker: the stop holds the loaded-providers lock while it
    * waits for the workers, and a worker that unloads a provider waits for
    * that lock (a teardown that stopped it right after `spark.stop()`
    * hung for minutes). So the stop waits until the workers have unloaded
    * every provider of the stopped queries, leaving none for a worker to
    * unload; past a minute it fails instead, and leaves the task running. */
  override def afterAll(): Unit = try {
    val deadline = System.nanoTime() + 60L * 1000000000L
    def loaded = providers.asScala.filter(StateStore.isLoaded).toSeq
    while (loaded.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    val left = loaded
    assert(left.isEmpty, s"the maintenance task left ${left.size} providers of " +
      s"stopped queries loaded for a minute: ${left.mkString(", ")}")
    StateStore.stopMaintenanceTask()
  } finally {
    if (spark != null) spark.stop()
    if (base != null) graft.queries.AtRestTables.deleteRecursively(base)
  }

  private val (n, w, c) = (8, 4, 4)

  private def events(from: Int, to: Int): Seq[SeriesEvent] =
    (from to to).map(i => SeriesEvent(i % 3, i, i * 1000L, math.sin(i.toDouble) * 10))

  private def start(stream: MemoryStream[SeriesEvent], dir: String): StreamingQuery =
    SaxStreaming.encodeStream(stream.toDS(), n, w, c)
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/cp")
      .outputMode("append").start()

  private def filesUnder(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) filesUnder(f) else Seq(f))

  private def snapshots(dir: String): Seq[File] =
    filesUnder(new File(s"$dir/cp/state")).filter(_.getName.endsWith(".snapshot"))

  /** Three batches through a fresh query under `tag`, kept running until
    * the maintenance task has written a snapshot in both state
    * partitions; returns the source, to resume it. */
  private def withSnapshots(tag: String): (String, MemoryStream[SeriesEvent]) = {
    val ss = spark; import ss.implicits._
    val dir = s"$base/$tag"
    val stream = MemoryStream[SeriesEvent](spark)
    val q = start(stream, dir)
    try {
      for ((a, b) <- Seq((1, 30), (31, 60), (61, 90))) {
        stream.addData(events(a, b)); q.processAllAvailable()
      }
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (snapshots(dir).size < 2 && System.nanoTime() < deadline) Thread.sleep(100)
    } finally stop(q)
    assert(snapshots(dir).size == 2,
      s"the maintenance task wrote ${snapshots(dir).size} of 2 snapshots in 30 s")
    (dir, stream)
  }

  /** The messages the checkpoint checksum manager logs while `body` runs. */
  private def checksumWarnings(body: => Unit): Seq[String] = {
    val logger = LogManager.getLogger(classOf[ChecksumCheckpointFileManager].getName)
      .asInstanceOf[CoreLogger]
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-snapshot-probe", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start(); logger.addAppender(appender)
    try body finally { logger.removeAppender(appender); appender.stop() }
    seen.asScala.toSeq
  }

  /** Resume `stream` for one more batch; the failure's cause chain, if any. */
  private def resume(dir: String, stream: MemoryStream[SeriesEvent]): Option[Seq[Throwable]] = {
    val q = start(stream, dir)
    try { stream.addData(events(91, 120)); q.processAllAvailable(); None }
    catch {
      case e: Exception =>
        Some(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq)
    } finally stop(q)
  }

  private def flipMiddle(f: File): Unit = {
    val bytes = Files.readAllBytes(f.toPath)
    for (i <- bytes.length / 3 until 2 * bytes.length / 3) bytes(i) = (~bytes(i)).toByte
    Files.write(f.toPath, bytes)
  }

  /** The restart failed to load the state store, on `check`. */
  private def assertFailsOn(check: String, causes: Option[Seq[Throwable]]): Unit = {
    assert(causes.nonEmpty, "the restart over a corrupt snapshot succeeded")
    val chain = causes.get.map(t => s"${t.getClass.getSimpleName}: ${t.getMessage}")
    assert(chain.exists(_.contains("CANNOT_LOAD_STATE_STORE")), chain.mkString("\n <- "))
    assert(chain.exists(_.contains(check)), chain.mkString("\n <- "))
  }

  test("every snapshot carries its checksums; the missing-checksum warning names absent snapshots") {
    val ss = spark; import ss.implicits._
    val (dir, stream) = withSnapshots("clean")
    for (s <- snapshots(dir); sum <- Seq(s"${s.getName}.crc", s".${s.getName}.crc"))
      assert(new File(s.getParentFile, sum).isFile, s"no $sum beside $s")

    var causes: Option[Seq[Throwable]] = None
    val warned = checksumWarnings { causes = resume(dir, stream) }
    assert(causes.isEmpty, causes.toString)
    val named = warned.collect {
      case m if m.startsWith("No checksum file found for ") =>
        m.stripPrefix("No checksum file found for ").takeWhile(_ != ',').stripPrefix("file:")
    }
    assert(named.nonEmpty, s"the restart logged no missing-checksum warning: $warned")
    assert(named.forall(_.endsWith(".snapshot")), named)
    assert(named.forall(p => !new File(p).exists), s"a warning names an existing file: $named")

    val got = spark.read.parquet(s"$dir/out").select("eventId", "word")
      .as[(Long, String)].collect().toMap
    val want = events(1, 120).groupBy(_.userId).flatMap { case (_, evs) =>
      val win = new SaxWindow(n, w, c)
      evs.map(e => e.eventId -> win.append(e.value))
    }
    assert(got == want, "the restart from the snapshots restored wrong state")
  }

  test("a corrupt snapshot fails the restart on its checksum") {
    val (dir, stream) = withSnapshots("corrupt")
    snapshots(dir).foreach(flipMiddle)
    assertFailsOn("ChecksumException", resume(dir, stream)) // Hadoop's sidecar
  }

  test("without Hadoop's sidecar, Spark's own snapshot checksum still fails the restart") {
    val (dir, stream) = withSnapshots("spark-only")
    for (s <- snapshots(dir)) {
      assert(new File(s.getParentFile, s".${s.getName}.crc").delete())
      flipMiddle(s)
    }
    assertFailsOn("CHECKPOINT_FILE_CHECKSUM_VERIFICATION_FAILED", resume(dir, stream))
  }
}
