package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Directory listing for the id-keyed append protocol every streaming
  * maintenance store here uses (`batch=<id>/` directories, one per
  * micro-batch). A batch directory is SERVED only when its write
  * committed — the `_SUCCESS` marker — because a write killed mid-flight
  * leaves the directory with task trash and possibly a partial subset of
  * its part files: reading those would serve a store state that never
  * existed (neither pre- nor post-batch), and a torn FIRST batch (zero
  * committed files anywhere) would make an unguarded root read throw
  * schema-inference errors on every access. The replay that follows the
  * crash overwrites the torn directory and the batch becomes visible
  * atomically with its marker.
  *
  * All path inspection resolves through the session's Hadoop
  * `FileSystem` (the same resolver Spark's own writers use), never
  * `java.io.File` — a java.io listing silently returns empty on
  * HDFS/S3, which would un-publish every landed batch even though the
  * stores themselves were written fine. */
private[streaming] object IdKeyedStore {

  def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Every `batch=<id>` directory under `dir`, mapped to whether its
    * write committed (`_SUCCESS` present). A present but uncommitted id
    * is TORN: crash debris awaiting its replay. */
  def batchDirs(spark: SparkSession, dir: String): Map[Long, Boolean] = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory) Map.empty
    else fs.listStatus(p).toIndexedSeq.filter(_.isDirectory)
      .flatMap(st => "batch=(\\d+)".r.findFirstMatchIn(st.getPath.getName)
        .map(m => m.group(1).toLong ->
          fs.exists(new Path(st.getPath, "_SUCCESS"))))
      .toMap
  }

  /** Batch ids whose directory committed under `dir`. */
  def committedIds(spark: SparkSession, dir: String): Set[Long] =
    batchDirs(spark, dir).collect { case (id, true) => id }.toSet
}

/** One consistent (generation, loose-id) view of a store: the active
  * generation's covered-through id and the fully committed loose batch
  * ids above it. Every part read of one view serves one store state.
  * The loose ids are listed on first use, always against `gen`, so a
  * writer that needs no prior state never lists them. */
private[streaming] final class StoreSnapshot(val gen: Option[Long],
                                             listIds: => Set[Long]) {
  lazy val ids: Set[Long] = listIds
}

/** THE id-keyed store protocol — one implementation for every streaming
  * maintenance store here (the text erasure triple, the ANN/mm
  * tombstones, the MV decrement pair, the postings, the attribution
  * quadruple and the IVF/mm code stores). A module supplies only its
  * artifact subdirectories, what one batch lands and, for the compacted
  * stores, its per-part roll-up; the store owns the rest:
  *  - replay skip ([[landBatch]]): a batch id already rolled into the
  *    active generation, or committed in every artifact, no-ops — its
  *    content is a deterministic function of (batch rows, committed prior
  *    batches), so rewriting could only reproduce the same bytes, and the
  *    overwrite would first delete the marker, transiently un-publishing
  *    the batch mid-replay. A TORN id (some artifact uncommitted) is
  *    rewritten with `overwrite`;
  *  - the prior snapshot a batch is computed against: the committed work
  *    STRICTLY below its id, so a replay never sees its own earlier run,
  *    with the generation resolved once per batch;
  *  - reads over explicit committed leaf directories ([[readPart]],
  *    [[read]]);
  *  - compaction ([[compact]]) and the foreachBatch wiring ([[start]]).
  *
  * COMPACTION: a long-lived stream otherwise accumulates one tiny
  * `batch=<id>/` directory (per artifact) per micro-batch forever,
  * growing the directory listing and the read-side path list without
  * bound. Rolling every fully-landed batch into a GENERATION bounds both.
  * A generation is itself id-keyed: one `batch=<coveredId>/` directory
  * per artifact under `gen/`, committed by the same `_SUCCESS` markers —
  * so a compaction killed between its artifact writes leaves a partial
  * generation the all-artifact intersection keeps invisible until the
  * re-run completes it (exactly the torn-batch rule, applied one level
  * up). The ACTIVE generation is the largest fully-committed id; readers
  * resolve it FIRST, then list loose batches above its coverage, and the
  * keep-one GC lag (the just-superseded generation and the loose batches
  * only IT covers survive one more compaction) guarantees that order can
  * never observe a hole. Replay idempotence survives the roll-up: a
  * replayed batch id at or below the active coverage no-ops on the
  * generation check even after its own directories are garbage-collected.
  *
  * Single-maintainer discipline (the [[MvMaintenance]] assumption): one
  * compactor runs at a time — the `compactEvery` hook in [[start]]
  * guarantees it by construction (foreachBatch is serial), and an
  * external tick must not race it. Concurrent WRITERS of new batches
  * are safe: compaction never touches ids above its claimed coverage.
  *
  * `subs`: the store's artifact subdirectories; `""` means the store's
  * batches land at the root (single-artifact stores). */
private[streaming] final class GenerationalStore(
    outDir: String, subs: Seq[String]) {

  private def dataPath(sub: String): String =
    if (sub.isEmpty) outDir else s"$outDir/$sub"
  private def genPath(sub: String): String =
    if (sub.isEmpty) s"$outDir/gen" else s"$outDir/gen/$sub"

  /** The active generation's covered-through id — the largest id
    * committed in EVERY artifact's gen directory. */
  private def activeGeneration(spark: SparkSession): Option[Long] = {
    val ok = subs.map(s => IdKeyedStore.committedIds(spark, genPath(s)))
      .reduce(_ intersect _)
    if (ok.isEmpty) None else Some(ok.max)
  }

  /** Batch ids fully landed across every artifact (the torn-batch
    * intersection), loose only — ids at or below `gen`'s coverage are
    * excluded. `gen` is the generation the caller already resolved:
    * re-resolving it here could pair an OLD generation with loose ids
    * filtered against a NEWER one that a racing compaction just
    * published, silently dropping every batch in (old, new] from the
    * served state. */
  private def looseIds(spark: SparkSession, gen: Option[Long]): Set[Long] =
    subs.map(s => IdKeyedStore.committedIds(spark, dataPath(s)))
      .reduce(_ intersect _)
      .filter(id => gen.forall(id > _))

  /** The loose ids a compaction may safely roll up: the committed ids
    * above `gen`'s coverage, truncated below the smallest TORN id (a
    * batch directory present in some artifact without its `_SUCCESS`, or
    * committed in only a subset of the artifacts). Covering a torn id
    * would make the replay skip fire for a batch whose replay has not
    * landed yet — its requests would be skipped forever (silent data
    * loss). Under serial foreachBatch ids the torn id is always the
    * newest in-flight batch and the truncation is a no-op; the guard
    * exists for the OUT-OF-ORDER writer / external compaction tick the
    * contract forbids but cannot enforce. */
  private def compactableIds(spark: SparkSession, gen: Option[Long]): Set[Long] = {
    val committed = looseIds(spark, gen)
    val torn = subs.map(s => IdKeyedStore.batchDirs(spark, dataPath(s)).keySet)
      .reduce(_ union _)
      .filter(id => gen.forall(id > _)) -- committed
    if (torn.isEmpty) committed
    else {
      val cut = torn.min
      val safe = committed.filter(_ < cut)
      org.apache.log4j.Logger.getLogger(getClass).warn(
        s"graft: compaction of $outDir truncated below torn batch $cut " +
          s"(skipping ${committed.size - safe.size} committed ids above it " +
          "until the torn batch's replay lands)")
      safe
    }
  }

  /** The store as it stands: the active generation, then the loose ids
    * above it. */
  def snapshot(spark: SparkSession): StoreSnapshot = {
    val gen = activeGeneration(spark)
    new StoreSnapshot(gen, looseIds(spark, gen))
  }

  /** Land batch `batchId` through `land` unless it is already applied
    * (see the replay-skip rule above). `land` gets the prior snapshot:
    * the active generation plus the committed loose ids BELOW `batchId`. */
  def landBatch(spark: SparkSession, batchId: Long)(
      land: StoreSnapshot => Unit): Unit = {
    val gen = activeGeneration(spark)
    val (fs, _) = IdKeyedStore.fsOf(spark, outDir)
    val applied = gen.exists(batchId <= _) || subs.forall(s =>
      fs.exists(new Path(s"${dataPath(s)}/batch=$batchId/_SUCCESS")))
    if (!applied)
      land(new StoreSnapshot(gen, looseIds(spark, gen).filter(_ < batchId)))
  }

  /** One artifact's content over `snap` — None when neither a
    * generation nor a loose batch exists. */
  def readPart(spark: SparkSession, sub: String,
               snap: StoreSnapshot): Option[DataFrame] = {
    val rolled = snap.gen.map(g => spark.read.parquet(s"${genPath(sub)}/batch=$g"))
    // EXPLICIT committed leaf directories, never a root read: partition
    // discovery over the root would trip on the `gen/` sibling (mixed
    // directory depths), and listing exactly the committed ids also
    // drops the root scan and the batch-id filter
    val loose =
      if (snap.ids.isEmpty) None
      else Some(spark.read.parquet(
        snap.ids.toSeq.sorted.map(id => s"${dataPath(sub)}/batch=$id"): _*))
    (rolled, loose) match {
      case (Some(r), Some(l)) => Some(r.unionByName(l))
      case (r, l) => r.orElse(l)
    }
  }

  /** [[readPart]], or an EMPTY frame of `schema` when nothing has
    * committed — a serve racing the first micro-batch sees an empty
    * store, not a crash. */
  def read(spark: SparkSession, sub: String, snap: StoreSnapshot,
           schema: StructType): DataFrame =
    readPart(spark, sub, snap).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))

  /** Roll every compactable batch into a new generation. `rollUp` gets
    * the snapshot the generation covers (the previous generation plus
    * exactly the ids it claims — not a racy re-listing that could admit a
    * batch landing mid-compaction without covering it) and hands its
    * per-part frames to the writer it is given; the artifact writes
    * commit in `subs` order, so the generation becomes active only when
    * the last one lands. Then garbage-collects with the keep-one lag.
    * No-op when nothing new landed. Returns the active coverage. */
  def compact(spark: SparkSession)(
      rollUp: (StoreSnapshot, Map[String, DataFrame] => Unit) => Unit)
      : Option[Long] = {
    val prev = activeGeneration(spark)
    val live = compactableIds(spark, prev)
    if (live.isEmpty) return prev
    val covered = live.max
    rollUp(new StoreSnapshot(prev, live), parts => subs.foreach { s =>
      parts(s).write.mode("overwrite").parquet(s"${genPath(s)}/batch=$covered")
    })
    val (fs, _) = IdKeyedStore.fsOf(spark, outDir)
    subs.foreach { s =>
      IdKeyedStore.committedIds(spark, genPath(s))
        .filter(g => g != covered && prev.forall(g != _))
        .foreach(g => fs.delete(new Path(s"${genPath(s)}/batch=$g"), true))
      prev.foreach { p =>
        IdKeyedStore.committedIds(spark, dataPath(s)).filter(_ <= p)
          .foreach(id => fs.delete(new Path(s"${dataPath(s)}/batch=$id"), true))
      }
    }
    Some(covered)
  }

  /** Run `write` on every micro-batch of `in`, and `compact` after every
    * `compactEvery`-th one — the roll-up inside the stream itself, so a
    * deployment needs no external maintenance tick to stay bounded; a
    * compaction interrupted by a crash is invisible (the generation
    * intersection) and the next tick re-runs it. */
  def start(in: DataFrame, checkpoint: String,
            compactEvery: Option[Long] = None)(
      write: (DataFrame, Long) => Unit,
      compact: SparkSession => Any = _ => ()): StreamingQuery =
    in.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (df: Dataset[Row], id: Long) =>
        write(df, id)
        if (compactEvery.exists(k => k > 0 && (id + 1) % k == 0)) {
          compact(df.sparkSession); ()
        }
      }
      .start()
}
