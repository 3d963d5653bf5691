package graft.queries

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The ONE session-scoped memo lifecycle: values keyed by (session,
  * String), shared by the transient-frame cache ([[QueryBase.tcache]]),
  * q75's component labels, the at-rest table sets ([[AtRestTables]]),
  * the resolved-relation memo ([[graft.SparkUtil.table]]) and the
  * conf-isolated child sessions ([[QueryBase.childSession]]). Callers keep
  * only their domain logic (what to unpersist, drop or delete) in the
  * callbacks.
  *
  *   - Keys hold the session OBJECT (identity equality — SparkSession does
  *     not override equals), never a derived hash string: identity hashes
  *     can collide, and a collision would serve one session another's
  *     value.
  *   - The hit path is one lock-free map read.
  *   - [[getOrBuild]] builds under a PER-KEY lock, not `computeIfAbsent`:
  *     builders legitimately re-enter the memo for their prerequisites
  *     (q161's purge layout builds ON the q134 partitioned table), and a
  *     nested `computeIfAbsent` on one ConcurrentHashMap throws
  *     "Recursive update" whenever the two keys land in the same bin — a
  *     hash-layout coincidence, so it fires order-dependently. Nesting
  *     takes a DIFFERENT key's lock and the prerequisite graph is acyclic,
  *     so nothing deadlocks. A build that throws memoizes nothing; the
  *     next call re-enters it.
  *   - A FIFO bound of `max` entries reclaims the values of sessions a
  *     caller mints and drops mid-application (tests and streaming
  *     clones do; engine queries reuse one child session per conf set);
  *     each evicted value goes to `onEvict` exactly once.
  *   - One listener per context drops that context's entries when it
  *     ends and hands them to `onContextEnd`; other contexts' entries
  *     stay. A stopped context therefore pins no session and no value.
  */
private[graft] final class SessionMemo[V <: AnyRef](
    max: Int,
    onEvict: (SparkSession, V) => Unit = (_: SparkSession, _: V) => (),
    onContextEnd: (SparkContext, Seq[V]) => Unit = (_: SparkContext, _: Seq[V]) => ()) {

  private type Key = (SparkSession, String)
  private val entries = new ConcurrentHashMap[Key, V]()
  private val order = new ConcurrentLinkedQueue[Key]()
  // a key's build lock goes with its entry (evict, remove, clear, context
  // end), so an evicted entry's session is pinned by nothing here
  private val locks = new ConcurrentHashMap[Key, Object]()
  private val hooked = ConcurrentHashMap.newKeySet[SparkContext]()

  def get(spark: SparkSession, key: String): Option[V] =
    Option(entries.get((spark, key)))

  def getOrBuild(spark: SparkSession, key: String)(build: => V): V = {
    val k = (spark, key)
    val hit = entries.get(k)
    if (hit != null) return hit
    hook(spark.sparkContext)
    val v = locks.computeIfAbsent(k, _ => new Object).synchronized {
      val again = entries.get(k)
      if (again != null) again
      else {
        val built = build
        entries.put(k, built)
        order.add(k)
        built
      }
    }
    evictOverflow()
    v
  }

  /** Store `v` under (spark, key) and return the value it replaced. A
    * replaced key keeps its FIFO position; a new key may evict the
    * oldest. */
  def put(spark: SparkSession, key: String, v: V): Option[V] = {
    hook(spark.sparkContext)
    val k = (spark, key)
    val prev = entries.put(k, v)
    if (prev == null) {
      order.add(k)
      evictOverflow()
    }
    Option(prev)
  }

  /** Unregister (spark, key) and return its value; `onEvict` is not
    * called — the caller owns what it removes. */
  def remove(spark: SparkSession, key: String): Option[V] = {
    val k = (spark, key)
    order.remove(k)
    locks.remove(k)
    Option(entries.remove(k))
  }

  /** Unregister every entry of every session and return the values. */
  def clear(): Seq[V] = {
    val dropped = Seq.newBuilder[V]
    val it = entries.entrySet().iterator()
    while (it.hasNext) { dropped += it.next().getValue; it.remove() }
    order.clear()
    locks.clear()
    dropped.result()
  }

  def values: Iterator[V] = {
    import scala.jdk.CollectionConverters._
    entries.values().iterator().asScala
  }

  /** Entries held for sessions of `ctx`. */
  private[graft] def sizeOf(ctx: SparkContext): Int = {
    import scala.jdk.CollectionConverters._
    entries.keySet().asScala.count(_._1.sparkContext eq ctx)
  }

  private def evictOverflow(): Unit =
    while (entries.size > max) {
      val old = order.poll()
      if (old == null) return
      locks.remove(old)
      val dropped = entries.remove(old)
      if (dropped != null) onEvict(old._1, dropped)
    }

  private def hook(ctx: SparkContext): Unit =
    if (hooked.add(ctx))
      ctx.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          endContext(ctx)
      })

  /** The listener body: `ctx` is ending, so drop only its entries. */
  private[graft] def endContext(ctx: SparkContext): Unit = {
    val dropped = Seq.newBuilder[V]
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1.sparkContext eq ctx) { dropped += e.getValue; it.remove() }
    }
    order.removeIf(_._1.sparkContext eq ctx)
    locks.keySet().removeIf(_._1.sparkContext eq ctx)
    hooked.remove(ctx)
    onContextEnd(ctx, dropped.result())
  }
}
