package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Streaming maintenance of the (cell, id) tombstone stores the
  * ANN/multimodal serves anti-join — [[StreamingErasure]]'s forgetting
  * leg extended from the text index to the OTHER two serving indexes
  * (the r16 verdict's #3): erasure requests (vec ids for the q127
  * IVF-PQ index, doc ids for the q297 mm index) arrive as a stream, and
  * each micro-batch locates the requested ids in the index's OWN
  * persisted code table (the routing the serve path trusts — recomputing
  * cells from raw embeddings could disagree with what's actually
  * stored, the q305/q310 discipline) and lands their (cell, id) rows
  * under an id-keyed `batch=<id>/` directory. The serve-side anti join
  * is THE q305/q310 definition
  * ([[graft.queries.VectorQueries.annServe]] /
  * [[graft.queries.MultimodalQueries.mmProbe]] given a tombstone
  * frame), so the
  * stream-maintained tombstones cannot drift from the batch purge —
  * StreamingAnnErasureSpec replays the full cohort through shuffled,
  * overlapping micro-batches and proves the accumulated store and the
  * served top-k bit-equal to q305's and q310's.
  *
  * One artifact per batch (unlike the text store's triple), so there is
  * no torn-TRIPLE hazard — but a write killed mid-flight still leaves an
  * uncommitted directory, which the [[IdKeyedStore]] `_SUCCESS`
  * discipline keeps invisible until the replay completes it. A replayed
  * id no-ops once committed and is rewritten while torn; duplicate
  * requests in later batches anti-join away against committed prior
  * tombstones (harmless set-wise for an anti-join consumer, but the
  * disjointness keeps per-batch compliance counts honest — a ledger
  * that double-counts a retried request overstates the purge). Requests
  * below [[graft.queries.QueryBase.EraseProtect]] are dropped at the
  * door: the floor is part of the cohort definition (the serving
  * workload's own queries are never erasable). */
object StreamingIndexErasure {

  /** The store's served schema for a given id column — (cell, id), both
    * BIGINT (cells are centroid ids drawn from the id space). */
  def storeSchema(idCol: String): StructType =
    StructType(Seq(StructField("cell", LongType), StructField(idCol, LongType)))

  /** The store's generational-compaction state — single-artifact, so
    * batches land at the root ([[GenerationalStore]]'s `""` sub). */
  private def store(outDir: String) = new GenerationalStore(outDir, Seq(""))

  /** Land one micro-batch of erasure requests against the persisted
    * code table (exposed separately so the replay and crash paths are
    * testable). `codes` must carry (`cell`, `idCol`) — the at-rest
    * bucketed code table of whichever index is forgetting. */
  def writeBatch(reqs: DataFrame, codes: DataFrame, idCol: String,
                 outDir: String, batchId: Long): Unit = {
    val st = store(outDir)
    st.landBatch(reqs.sparkSession, batchId) { prior =>
      val ids0 = reqs.select(idCol)
        .where(col(idCol) >= lit(graft.queries.QueryBase.EraseProtect))
        .distinct()
      val ids = st.readPart(reqs.sparkSession, "", prior)
        .map(p => ids0.join(p.select(idCol).distinct(), Seq(idCol), "left_anti"))
        .getOrElse(ids0)
      codes.join(broadcast(ids), Seq(idCol), "left_semi")
        .select(col("cell"), col(idCol)).distinct()
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }
  }

  /** Start maintaining the tombstone store for a stream of (idCol)
    * requests against the static persisted code table. `compactEvery`
    * runs [[compact]] inside the stream every k-th batch. */
  def start(reqs: DataFrame, codes: DataFrame, idCol: String,
            outDir: String, checkpoint: String,
            compactEvery: Option[Long] = None): StreamingQuery =
    store(outDir).start(reqs, checkpoint, compactEvery)(
      writeBatch(_, codes, idCol, outDir, _), compact(_, outDir))

  /** Roll every fully-landed batch into one compacted generation
    * ([[GenerationalStore]] — ONE discipline with the text erasure
    * store), so the directory count and read-side work stay bounded
    * under an unbounded request stream. Tombstone batches are disjoint
    * by the anti-join discipline, so the roll-up is a plain union.
    * Returns the active coverage after the call. */
  def compact(spark: SparkSession, outDir: String): Option[Long] = {
    val st = store(outDir)
    st.compact(spark) { (covered, land) =>
      land(Map("" -> st.readPart(spark, "", covered).get))
    }
  }

  /** The accumulated (cell, id) tombstone set — the active generation
    * plus committed loose batches above its coverage — exactly what
    * [[graft.queries.VectorQueries.annServe]] /
    * [[graft.queries.MultimodalQueries.mmProbe]] anti-join when passed
    * it as their tombstone frame.
    * Empty (typed) before the first commit, so a serve racing the first
    * micro-batch simply filters nothing. */
  def readTombstones(spark: SparkSession, outDir: String,
                     idCol: String): DataFrame = {
    val st = store(outDir)
    st.read(spark, "", st.snapshot(spark), storeSchema(idCol))
  }
}
