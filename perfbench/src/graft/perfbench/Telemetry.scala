package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan

/** Scheduler counters fed by Spark's listener bus (the `Counters` pattern
  * of tools/qtime.scala), plus the shuffle-write and spill bytes of every
  * finished task. Read them with [[snapshot]] after [[drain]]. */
final class SchedCounters extends SparkListener {
  private val jobs, stages, tasks, shuffleBytes, spillBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); tasks.addAndGet(e.stageInfo.numTasks)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(sc)

  def snapshot: Sched = Sched(jobs.get, stages.get, tasks.get, shuffleBytes.get, spillBytes.get)
}

final case class Sched(jobs: Long, stages: Long, tasks: Long, shuffleBytes: Long, spillBytes: Long) {
  def -(o: Sched): Sched = Sched(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
  def +(o: Sched): Sched = Sched(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
}
object Sched { val Zero = Sched(0, 0, 0, 0, 0) }

/** Node counts of one physical plan. */
final case class Census(exchanges: Int, broadcasts: Int, windows: Int, sorts: Int, pushedScans: Int) {
  def +(o: Census): Census = Census(exchanges + o.exchanges, broadcasts + o.broadcasts,
    windows + o.windows, sorts + o.sorts, pushedScans + o.pushedScans)
}

object Census {
  val Zero = Census(0, 0, 0, 0, 0)

  /** Census of the plan that actually ran: adaptive plans are read through
    * their final (re-optimized) plan and query stages through the stage
    * plan; a reused exchange is not counted again. Subquery plans count. */
  def of(plan: SparkPlan): Census = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
    plan match {
      case a: AdaptiveSparkPlanExec => of(a.executedPlan)
      case s: QueryStageExec => of(s.plan)
      case _: ReusedExchangeExec => Zero
      case p =>
        val self = p match {
          case _: ShuffleExchangeLike => Census(1, 0, 0, 0, 0)
          case _: BroadcastExchangeLike => Census(0, 1, 0, 0, 0)
          case _: org.apache.spark.sql.execution.window.WindowExecBase => Census(0, 0, 1, 0, 0)
          case _: org.apache.spark.sql.execution.SortExec => Census(0, 0, 0, 1, 0)
          case f: org.apache.spark.sql.execution.FileSourceScanExec if f.dataFilters.nonEmpty =>
            Census(0, 0, 0, 0, 1)
          case _ => Zero
        }
        (p.children ++ p.subqueries).map(of).foldLeft(self)(_ + _)
    }
  }
}

/** JVM-side telemetry from the MXBeans: cumulative GC and JIT time, the
  * peak heap occupancy seen after any collection, and the heap retained
  * at the end. */
object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  def jitMillis: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  def startMillis: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  private val peakAfterGc = new AtomicLong(0L)

  /** Start recording heap-after-GC peaks (idempotent enough for one run). */
  def watchHeap(): Unit = {
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.openmbean.CompositeData
    val listener = new NotificationListener {
      override def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
            .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
          peakAfterGc.accumulateAndGet(used, (a, b) => math.max(a, b))
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
  }

  /** Heap still in use after a full collection, in MB: what the session
    * retains once the workload is done. */
  def retainedHeapMb(): Double = (1 to 3).map { _ =>
    // Spark unpersists and cleans up asynchronously: the least of a few
    // collections is what the session itself still holds
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }.min

  /** Peak heap-after-GC over the run so far, in MB. */
  def peakHeapMb: Double = peakAfterGc.get / (1024.0 * 1024.0)
}

/** In-memory span recorder for the traced run. Spans nest per thread; a
  * root span opens a new trace. Disabled tracers run the body and record
  * nothing. */
final class Tracer(val enabled: Boolean) {
  final case class Span(trace: Long, id: Long, parent: Long, name: String, start: Long, end: Long)

  private val ids = new AtomicLong(0L)
  private val spans = ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] { override def initialValue() = Nil }
  private val paused = new AtomicReference[java.lang.Boolean](false)

  def active: Boolean = enabled && !paused.get

  /** Switch recording off and on (the traced run alternates, to measure
    * the overhead of tracing against untraced passes of the same run). */
  def pause(p: Boolean): Unit = paused.set(p)

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val id = ids.incrementAndGet()
      val (trace, parent) = stack.get match {
        case (t, p) :: _ => (t, p)
        case Nil => (id, 0L)
      }
      stack.set((trace, id) :: stack.get)
      val t0 = System.nanoTime()
      try body finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized { spans += Span(trace, id, parent, name, t0, t1) }
      }
    }

  /** (trace, id) of this thread's innermost open span; (0, 0) outside any. */
  def current: (Long, Long) = stack.get.headOption.getOrElse((0L, 0L))

  /** Attach child spans measured elsewhere (a micro-batch's phases, from
    * its streaming progress report) to the span `parent` of `trace`. */
  def addChildren(trace: Long, parent: Long, children: Seq[(String, Long, Long)]): Unit =
    if (parent != 0L) spans.synchronized {
      children.foreach { case (n, s, e) => spans += Span(trace, ids.incrementAndGet(), parent, n, s, e) }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time (duration minus direct children) summed per span name. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val childSum = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => s.end - s.start).sum }
    ss.groupBy(_.name).map { case (n, g) =>
      n -> g.map(s => (s.end - s.start) - childSum.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def json: String = all.map { s =>
    s"""{"trace":${s.trace},"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Small statistics helpers shared by the workloads. */
object Stats {
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    // linear interpolation between closest ranks (numpy's default)
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
}
