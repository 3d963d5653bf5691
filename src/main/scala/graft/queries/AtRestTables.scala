package graft.queries

import org.apache.spark.sql.SparkSession

/** Build-once registry for AT-REST bucketed table sets — the "index on
  * disk" half of the serving story (reference README.md:32, search over
  * HUGE pattern collections). A caller names a (session, key)-scoped
  * table set and supplies the build closure; the first call pays the
  * layout shuffle and every later call probes the persisted tables.
  * q78's word-bucketed dictionary and the q127/q128 IVF-PQ index both
  * live here — at 100 TB this is the boundary between the build pipeline
  * (one bucketed write) and the serving path (co-located / bucket-pruned
  * reads, zero Exchange).
  *
  * Lifecycle: a [[SessionMemo]] keyed by the session OBJECT. When a
  * context ends, its entries' temp dirs are deleted. Its FIFO bound
  * reclaims entries of sessions minted and discarded mid-application
  * (newSession() churn). Eviction only UNREGISTERS — a
  * concurrently-running query of the same JVM may still be executing a
  * plan that reads the evicted files, so the physical delete is deferred
  * to the owning context's end, when no query of that context can be
  * live.
  */
private[graft] object AtRestTables {

  /** (session, key) -> (registered table names, temp base dir).
    *
    * The FIFO bound (48) must comfortably exceed the number of DISTINCT
    * at-rest keys one (session, sf dir) uses — 26 as of q310 (q78 /
    * ivfidx / ivfincr / srcfmt / orcfmt / evpart / factbkt / aggmv /
    * evrange / invidx / invpos / binfiles / upsert / zorder / hllmv /
    * mvsnap / schevo / gdpr / docbloom / mmidx / mmgen / erasetxt /
    * eraseann / eraseann2 / erasecmp / erasemm) — or a single
    * Verify/Bench run FIFO-churns: the 49th insert evicts the 1st key's
    * tables and the next query that needs them pays a full rebuild, every
    * pass. Raised 32 → 48 in r16 when the erasure arc brought the census
    * to 26 — the bound must stay comfortably ahead of the census, not
    * within one arc of it. */
  // evicted base dirs awaiting their context's end
  private val pendingDelete = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext, java.util.Set[String]]()
  private[graft] val memo = new SessionMemo[(Seq[String], String)](48,
    onEvict = unregister,
    onContextEnd = (ctx, dropped) => {
      dropped.foreach(e => deleteRecursively(e._2))
      val pend = pendingDelete.remove(ctx)
      if (pend != null) pend.forEach(d => deleteRecursively(d))
    })

  /** The FIFO-eviction step: drop the entry's tables from the catalog and
    * defer the physical delete of its base dir to its context's end
    * (another thread of that context may still be mid-query against the
    * files; unregistering is catalog-only). Table names are
    * per-key-content (dataset-suffixed), so another live (session, key)
    * entry can reference the same registrations — reclaim only when this
    * was the last referent (otherwise leak conservatively; the survivor's
    * own eviction or context end reclaims). A [[getPath]] entry registers
    * no tables, so its dir is always its own. */
  private def unregister(owner: SparkSession, dropped: (Seq[String], String)): Unit =
    if (dropped._1.isEmpty || !memo.values.exists(_._1 == dropped._1)) {
      // the catalog is context-scoped: a stopped owner's context already
      // took its registrations with it
      if (!owner.sparkContext.isStopped)
        dropped._1.foreach { t =>
          try owner.sql(s"DROP TABLE IF EXISTS $t") catch { case _: Throwable => () }
        }
      pendingDelete
        .computeIfAbsent(owner.sparkContext,
          _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
        .add(dropped._2)
    }

  /** Test-only fault seam: the real build closures call [[faultPoint]]
    * between their table writes (the hook is a no-op in production), so
    * `AtRestFaultSpec` can kill the REAL q127 IVF-PQ and q148 postings/
    * doclen builds in every inter-write window — not just a synthetic
    * stand-in — and prove a partial build never serves. The registry
    * contract under a throw is unchanged: get() propagates and memoizes
    * nothing, so the next access re-enters the build. */
  @volatile private[graft] var faultHook: String => Unit = _ => ()
  private[graft] def faultPoint(tag: String): Unit = faultHook(tag)

  /** EXCLUSIVE build seconds per key prefix (the part of the cold start
    * each at-rest artifact itself costs, children subtracted — builders
    * legitimately nest, e.g. the purge layout builds ON the day
    * partitions). Bench snapshots this after its warm pass and emits it
    * as the artifact's `builds` map, so a warm-pass jump is attributable
    * to the key that caused it instead of being argued from loadavg (the
    * r17 verdict's #3: at 100× the warm pass IS the bootstrap migration
    * cost, and it should be measurable per key). */
  private val buildTimes =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  private val nestStack = new ThreadLocal[java.util.ArrayDeque[Array[Double]]] {
    override def initialValue() = new java.util.ArrayDeque[Array[Double]]()
  }
  private[graft] def buildSeconds: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    buildTimes.asScala.map { case (k, v) => k -> v.doubleValue() }.toMap
  }
  private[graft] def resetBuildSeconds(): Unit = buildTimes.clear()

  private def timedBuild[A](key: String)(build: => A): A = {
    val stack = nestStack.get()
    stack.push(Array(0.0))
    val t0 = System.nanoTime()
    try build finally {
      val total = (System.nanoTime() - t0) / 1e9
      val childSum = stack.pop()(0)
      if (!stack.isEmpty) stack.peek()(0) += total
      buildTimes.merge(key.takeWhile(_ != '|'),
        Double.box(math.max(0.0, total - childSum)),
        (a, b) => Double.box(a.doubleValue() + b.doubleValue()))
    }
  }

  private[graft] def deleteRecursively(path: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.exists(root))
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverseIterator
          .foreach(p => try java.nio.file.Files.deleteIfExists(p) catch { case _: Throwable => () })
    } catch { case _: Throwable => () }

  /** The table names registered for (spark, key), building them first if
    * absent. `build` receives a fresh temp base dir and must
    * `saveAsTable` each table it returns (option("path", s"$base/...")
    * so the files land under the reclaimable dir). */
  def get(spark: SparkSession, key: String)(build: String => Seq[String]): Seq[String] =
    memo.getOrBuild(spark, key) {
      val base = java.nio.file.Files.createTempDirectory("graft-atrest-").toString
      (timedBuild(key)(build(base)), base)
    }._1

  /** Path-only variant of [[get]] for at-rest artifacts that are plain
    * directories rather than catalog tables (q263's binary-blob store):
    * registers NO table names — so FIFO eviction never tries to
    * `DROP TABLE` a filesystem path — and returns the entry's reclaimable
    * base dir. Same lifecycle as [[get]] (memoized per (session, key),
    * deferred physical delete at context end). */
  def getPath(spark: SparkSession, key: String)(build: String => Unit): String = {
    while (true) {
      get(spark, key) { base => build(base); Seq.empty }
      // re-read the entry for its base dir; a FIFO eviction racing in
      // between (FIFO churn) just means one more build pass
      memo.get(spark, key).foreach(hit => return hit._2)
    }
    throw new IllegalStateException("unreachable")
  }
}
