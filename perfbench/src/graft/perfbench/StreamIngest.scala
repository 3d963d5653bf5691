package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.sax.SaxWindow
import graft.streaming.{SaxStreaming, StreamingErasure, StreamingPostingsAppend}
import graft.streaming.SaxStreaming.SeriesEvent

/** stream_ingest, the write path.
  *
  * Part (a): seeded event micro-batches through `SaxStreaming.encodeStream`
  * with a checkpointed state store — first fixed-size
  * batches drained closed-loop at saturation, then one generator thread
  * feeding ticks open-loop at a fixed rate, each stamped with its creation
  * time so its lag to the commit of the batch that holds it is measured.
  *
  * Part (b): seeded document batches through
  * `StreamingPostingsAppend.writeBatch` and `StreamingErasure.writeBatch`,
  * each store ending with its generational compaction. */
object StreamIngest {
  val Keys = 2000
  val BatchEvents = 40000
  /** Seconds of one saturated batch at one task slot on four cores. The
    * saturated phase runs a fixed number of batches, enough to last about
    * half of `--seconds`, so a fast run is not sampled later in its JIT
    * warm-up than a slow one. */
  val BatchSeconds = 0.5
  val WarmBatches = 2
  /** Closed-loop batches on the final stream after the set-up rounds:
    * batch times stop falling after about a dozen. */
  val SettleBatches = 12
  /** Open-loop rate: 1,000 events/s, well below the saturated rate. Near
    * saturation each slow batch lets the next one grow, which amplifies
    * the host's noise into the lag. Ten ticks a second: each tick is one
    * source partition, so one task, of the batch that takes it. */
  val TickEvents = 100
  val TicksPerSecond = 10
  val DocBatches = 2
  val DocsPerBatch = 300
  /** Set-up rounds: the reported set-up is their median. */
  val SetupRounds = 3
  /** Event values kept for the traced run's kernel loops. */
  val KernelValues = 1 << 15
  private val (n, w, c) = (8, 4, 4)

  private val Vocab = ("spark window merge table column vector stream value data small join " +
    "filter big group hash customer sort order slow line part fast row the agg key query a scan batch")
    .split(" ")

  /** Seeded event source: ids and timestamps ascend with arrival, so the
    * encode's within-batch (ts, eventId) order is arrival order. Values of
    * a sample of keys are kept for the replay check, and the first
    * [[KernelValues]] values for the kernel loops. */
  private final class Events(seed: Long, sampleKeys: Set[Long]) {
    private val rnd = new java.util.SplittableRandom(seed)
    private var id = 0L
    private val t0 = 1704067200L * 1000000000L // 2024-01-01, ns
    val history = mutable.Map[Long, mutable.ArrayBuffer[(Long, Double)]]()
    val values = mutable.ArrayBuffer[Double]()

    def next(count: Int): Seq[SeriesEvent] = Vector.fill(count) {
      val u = rnd.nextInt(Keys).toLong
      val v = math.max(0.01, math.rint(-50.0 * math.log(1.0 - rnd.nextDouble()) * 100) / 100)
      id += 1
      if (sampleKeys(u)) history.getOrElseUpdate(u, mutable.ArrayBuffer()) += ((id, v))
      if (values.size < KernelValues) values += v
      SeriesEvent(u, id, t0 + id * 1000L, v)
    }

    def reset(): Unit = history.clear()
  }

  private final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress)
    def of(q: StreamingQuery): Seq[StreamingQueryProgress] =
      events.asScala.toSeq.filter(p => p.id == q.id && p.numInputRows > 0)
    def endOffset(p: StreamingQueryProgress): Long = p.sources.head.endOffset.trim.toLong
  }

  /** When the micro-batch of `p` committed, in epoch ms: its trigger start
    * plus the trigger's whole duration, which ends with the commit log
    * write. Read from the report itself, so the listener bus's delivery
    * delay does not count. */
  private def commitMillis(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli + ms(p, "triggerExecution").toLong

  private def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** The micro-batch's driver work around planning and execution: offset
    * resolution, the write-ahead log and the commit. */
  private def frameMs(p: StreamingQueryProgress): Double =
    ms(p, "triggerExecution") - ms(p, "queryPlanning") - ms(p, "addBatch")

  def apply(run: Run, spark: SparkSession): Array[Double] = {
    import spark.implicits._
    val work = s"${run.args.work}/stream"
    val rnd = new scala.util.Random(run.args.seed)
    val sample = rnd.shuffle((0L until Keys).toVector).take(20).toSet
    val events = new Events(run.args.seed, sample)
    val progress = new Progress
    spark.streams.addListener(progress)

    // the words of the sampled keys, as the sink of the current stream saw them
    val words = new ConcurrentLinkedQueue[SaxStreaming.WordOut]()
    def start(round: Int): (MemoryStream[SeriesEvent], StreamingQuery) = {
      words.clear()
      val src = MemoryStream[SeriesEvent](spark)
      val q = SaxStreaming.encodeStream(src.toDS(), n, w, c).writeStream
        .option("checkpointLocation", s"$work/r$round/cp")
        .outputMode("append")
        .foreachBatch { (out: Dataset[SaxStreaming.WordOut], _: Long) =>
          out.where(col("userId").isin(sample.toSeq: _*)).collect().foreach(words.add)
        }
        .start()
      (src, q)
    }

    /** One closed-loop batch; returns its start and end. */
    def batch(src: MemoryStream[SeriesEvent], q: StreamingQuery, data: Seq[SeriesEvent]): (Long, Long) = {
      val t0 = System.nanoTime()
      src.addData(data)
      q.processAllAvailable()
      (t0, System.nanoTime())
    }

    // set-up: each round starts a fresh stream (new state store and sink)
    // and drains a few warm batches; the last round's stream stays up
    var src: MemoryStream[SeriesEvent] = null
    var query: StreamingQuery = null
    val rounds = (1 to SetupRounds).map { r =>
      if (query != null) query.stop()
      events.reset()
      val t0 = System.nanoTime()
      run.tracer.span("setup") {
        val (s, q) = start(r); src = s; query = q
        (1 to WarmBatches).foreach(_ => batch(src, query, events.next(BatchEvents)))
      }
      Stats.secs(t0, System.nanoTime())
    }
    // then let the JIT settle on the stream the timed phases use
    val t0 = System.nanoTime()
    run.tracer.span("setup")((1 to SettleBatches).foreach(_ => batch(src, query, events.next(BatchEvents))))
    val settle = Stats.secs(t0, System.nanoTime())
    run.setup = Stats.median(rounds) + settle
    run.ledger ++= Seq("setup.rounds_s" -> rounds, "setup.settle_s" -> settle)
    val seconds = run.args.seconds

    // (a) saturated, closed loop: fixed-size batches, one at a time, as
    // many as take about the first half of the measured seconds
    val sat = mutable.ArrayBuffer[(Long, Long, (Long, Long))]() // start, end, (trace, span)
    var counted = Sched.Zero
    val jit0 = Jvm.jitMillis
    val satBatches = math.max(3, math.round(seconds / 2 / BatchSeconds).toInt)
    while (sat.size < satBatches) {
      val data = events.next(BatchEvents)
      val traced = run.tracer.enabled && sat.size % 2 == 0
      val count = sat.size < 2 // scheduler counts come from the first two batches
      val before = if (count) { run.sched.drain(spark.sparkContext); run.sched.snapshot } else Sched.Zero
      run.tracer.pause(!traced)
      val (t0, t1, span) = run.tracer.span("batch") {
        val (t0, t1) = batch(src, query, data)
        (t0, t1, run.tracer.current)
      }
      if (count) { run.sched.drain(spark.sparkContext); counted = counted + (run.sched.snapshot - before) }
      sat += ((t0, t1, span))
    }
    run.tracer.pause(false)
    val census = query match {
      case wq: StreamingQueryWrapper => Option(wq.streamingQuery.lastExecution)
        .map(e => Census.of(e.executedPlan)).getOrElse(Census.Zero)
      case _ => Census.Zero
    }
    // per-batch progress of the saturated phase, matched to its batches
    val satEnd = WarmBatches + SettleBatches + sat.size // batches reported before the open loop
    val satProgress = waitFor(progress, query, satEnd).takeRight(sat.size)
    for (((t0, _, (trace, id)), p) <- sat.zip(satProgress)) {
      val frame = (frameMs(p) * 1e6).toLong
      val plan = (ms(p, "queryPlanning") * 1e6).toLong
      val exec = (ms(p, "addBatch") * 1e6).toLong
      run.tracer.addChildren(trace, id, Seq(("frame", t0, t0 + frame),
        ("plan", t0 + frame, t0 + frame + plan), ("exec", t0 + frame + plan, t0 + frame + plan + exec)))
    }
    val (tr, un) = sat.map(b => (Stats.secs(b._1, b._2), b._3._2 != 0L)).partition(_._2)
    run.layer("trace.overhead_pct") =
      if (run.tracer.enabled && tr.nonEmpty && un.nonEmpty)
        100.0 * (Stats.median(tr.map(_._1)) / Stats.median(un.map(_._1)) - 1.0)
      else 0.0

    // (a) open loop: one generator thread at a fixed tick rate, for the
    // second half of the measured seconds
    val ticks = math.max(20, (seconds / 2 * TicksPerSecond).toInt)
    val tickData = Vector.fill(ticks)(events.next(TickEvents)) // generated before the clock starts
    val stamps = new Array[(Long, Long, Long)](ticks) // (due, lateness, offset)
    val period = 1e9 / TicksPerSecond
    // one anchor maps the reports' epoch-ms commit times onto nanoTime
    val (wall0, tOpen) = (System.currentTimeMillis(), System.nanoTime())
    val gen = new Thread(() => {
      for (k <- 0 until ticks) {
        val due = tOpen + (k * period).toLong
        var now = System.nanoTime()
        while (now < due) { Thread.sleep(math.max(0L, (due - now) / 1000000L), 0); now = System.nanoTime() }
        val created = System.nanoTime()
        val off = src.addData(tickData(k))
        stamps(k) = (due, created - due, off.json().trim.toLong)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    query.processAllAvailable()
    run.ledger("timed.jit_ms") = Jvm.jitMillis - jit0
    val lastOffset = stamps.last._3
    val openProgress = waitUntil(progress, query, p => progress.endOffset(p) >= lastOffset).drop(satEnd)
    val commits = openProgress.map(p => (tOpen + (commitMillis(p) - wall0) * 1000000L, progress.endOffset(p)))
      .sortBy(_._1)
    // from when the tick was due, so generator lateness counts as lag
    val lags = stamps.toSeq.map { case (due, _, off) =>
      Stats.secs(due, commits.find(_._2 >= off).map(_._1)
        .getOrElse(sys.error(s"no commit seen for offset $off")))
    }
    val lateness = stamps.toSeq.map(_._2 / 1e6)
    val openEnd = commits.last._1
    run.ledger ++= Seq("open.ticks" -> ticks, "open.events_per_s" -> TickEvents * TicksPerSecond,
      "open.batches" -> openProgress.size, "open.wall_s" -> Stats.secs(tOpen, openEnd),
      "open.batch_ms_p50" -> Stats.median(openProgress.map(ms(_, "triggerExecution"))),
      "open.add_batch_ms_p50" -> Stats.median(openProgress.map(ms(_, "addBatch"))),
      "open.lag_samples" -> lags.size)
    val backlog = commits.map { case (at, end) =>
      val added = stamps.count(s => s._1 <= at).toLong * TickEvents
      val committed = stamps.count(_._3 <= end).toLong * TickEvents
      (added - committed).toDouble
    }

    // stream per-layer metrics: the saturated phase's progress reports
    def med(k: String) = Stats.median(satProgress.map(ms(_, k)))
    val last = satProgress.last
    run.layer ++= Seq(
      "driver.frame_s" -> Stats.median(satProgress.map(frameMs)) / 1e3,
      "driver.plan_s" -> med("queryPlanning") / 1e3,
      "exec.run_s" -> med("addBatch") / 1e3,
      "stream.plan_ms" -> med("queryPlanning"), "stream.add_batch_ms" -> med("addBatch"),
      "stream.wal_commit_ms" -> med("walCommit"), "stream.commit_offsets_ms" -> med("commitOffsets"),
      "stream.state_rows" -> last.stateOperators.map(_.numRowsTotal).sum.toDouble,
      "stream.state_mem_bytes" -> last.stateOperators.map(_.memoryUsedBytes).sum.toDouble,
      "stream.backlog_events" -> (if (backlog.isEmpty) 0.0 else Stats.median(backlog)),
      "stream.gen_lateness_ms" -> Stats.median(lateness),
      "build.total_s" -> graft.queries.AtRestTables.buildSeconds.values.sum)
    Workloads.sched(run, counted, census)
    query.stop()
    spark.streams.removeListener(progress)
    run.attempted += sat.size + openProgress.size

    // output check (a): sampled keys' words against a driver-side replay
    val out = words.asScala.toSeq.groupBy(_.userId)
    for (k <- sample) {
      val win = new SaxWindow(n, w, c)
      val want = events.history.getOrElse(k, Nil).map { case (id, v) => id -> win.append(v) }.toMap
      val got = out.getOrElse(k, Nil).map(r => r.eventId -> r.word).toMap
      run.check(got == want, s"stream words of key $k")
    }

    // (b) documents: postings append and erasure requests, then compaction
    val docRnd = new java.util.SplittableRandom(run.args.seed ^ 0x5DEECE66DL)
    val docs = (0 until DocBatches * DocsPerBatch).map { i =>
      (i.toLong, Seq.fill(10 + docRnd.nextInt(60))(Vocab(docRnd.nextInt(Vocab.length))).mkString(" "))
    }
    def frame(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "text")
    val corpus = frame(docs).cache()
    corpus.count()
    val requests = docs.map(_._1).filter(id => id % 5 == 0 && id >= graft.queries.QueryBase.EraseProtect)
    val (pDir, eDir) = (s"$work/postings", s"$work/erasure")
    def timedStore[A](body: => A): Double = {
      val t0 = System.nanoTime(); run.tracer.span("store")(body); Stats.secs(t0, System.nanoTime())
    }
    val tDocs = System.nanoTime()
    val postW = (0 until DocBatches).map { b =>
      val part = frame(docs.slice(b * DocsPerBatch, (b + 1) * DocsPerBatch))
      timedStore(StreamingPostingsAppend.writeBatch(part, pDir, b.toLong))
    }
    val postC = timedStore(StreamingPostingsAppend.compactStore(spark, pDir))
    val eraseW = (0 until DocBatches).map { b =>
      val reqs = requests.filter(_ % DocBatches == b).toDF("doc_id")
      timedStore(StreamingErasure.writeBatch(reqs, corpus, eDir, b.toLong))
    }
    val eraseC = timedStore(StreamingErasure.compact(spark, eDir))
    val docWall = Stats.secs(tDocs, System.nanoTime())
    val docCount = docs.size + requests.size
    run.attempted += 2 * DocBatches + 2
    run.layer ++= Seq(
      "postings.write_batch_s" -> Stats.median(postW), "postings.compact_s" -> postC,
      "postings.last_over_first" -> postW.last / postW.head,
      "erasure.write_batch_s" -> Stats.median(eraseW), "erasure.compact_s" -> eraseC,
      "store.docs_per_s" -> docCount / docWall)

    // output check (b): the appended store equals the batch derivation, and
    // the tombstones are exactly the requested ids
    val want = graft.queries.TextQueries.postingsOf(corpus)
    val got = StreamingPostingsAppend.readPostings(spark, pDir)
    run.check(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, "appended postings")
    val tombs = StreamingErasure.readStore(spark, eDir)._1.as[Long].collect().sorted.toSeq
    run.check(tombs == requests.sorted, "erasure tombstones")
    corpus.unpersist()

    val p90 = Stats.quantile(lags, 0.9)
    run.e2e("latency_p50_s") = Stats.median(lags)
    run.e2e("latency_p90_s") = p90
    // per median batch, so one batch that the host slowed does not move it
    run.e2e("throughput_per_s") = BatchEvents / Stats.median(sat.map(b => Stats.secs(b._1, b._2)))
    run.ledger ++= Seq("sat.batches" -> sat.size,
      "sat.batch_s_p50" -> Stats.median(sat.map(b => Stats.secs(b._1, b._2))),
      "docs.wall_s" -> docWall, "docs.count" -> docCount, "open.above_p90" -> lags.count(_ > p90))
    events.values.toArray
  }

  /** Progress reports of `q`, waiting (bounded) until at least `count`
    * batches have reported: the listener bus delivers them asynchronously. */
  private def waitFor(p: Progress, q: StreamingQuery, count: Int): Seq[StreamingQueryProgress] =
    waitUntil(p, q, _ => p.of(q).size >= count)

  private def waitUntil(p: Progress, q: StreamingQuery,
                        done: StreamingQueryProgress => Boolean): Seq[StreamingQueryProgress] = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!p.of(q).lastOption.exists(done) && System.nanoTime() < deadline) Thread.sleep(5)
    p.of(q)
  }
}
