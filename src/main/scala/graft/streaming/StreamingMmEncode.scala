package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of the q297 at-rest MULTIMODAL index — the blob
  * leg of the ingestion lifecycle beside [[StreamingIvfEncode]] (vectors)
  * and [[StreamingPostingsAppend]] (text): newly-arriving binary payloads
  * are EMBEDDED AND CELL-ASSIGNED AS THEY LAND, map-side against the
  * persisted centroid table, and appended to the code store. No training
  * or corpus stage ever runs in the hot path — each micro-batch pays
  * exactly what q301's batch delta pays per blob (the encode is the SAME
  * [[graft.queries.MultimodalQueries.mmEncodeAgainstIndex]] definition),
  * which at 100 TB is the difference between absorbing a media firehose
  * and re-clustering an index under it.
  *
  * Append protocol, inherited from [[StreamingIvfEncode]]: each
  * micro-batch writes its (doc_id, cell, emb) codes under a
  * batch-id-keyed directory (`batch=<id>/`, Spark's partition-discovery
  * layout). foreachBatch is at-least-once; a REPLAYED id (checkpoint
  * recovery) carries identical rows, so a committed one no-ops and a
  * torn one is overwritten — idempotent append without a table format.
  *
  * StreamingMmEncodeSpec replays the q301 blob batch through
  * micro-batches and proves the accumulated code store row-identical to
  * the one-shot batch encode. */
object StreamingMmEncode {

  /** The store — single-artifact, batches at the root, never compacted
    * (a code store grows with the index it serves). */
  private def store(outDir: String) = new GenerationalStore(outDir, Seq(""))

  /** Encode one micro-batch of (doc_id, payload) rows and land it under
    * its id-keyed directory (exposed separately so the replay path is
    * testable). */
  def writeBatch(batch: DataFrame, cents: DataFrame,
                 outDir: String, batchId: Long): Unit =
    store(outDir).landBatch(batch.sparkSession, batchId) { _ =>
      graft.queries.MultimodalQueries.mmEncodeAgainstIndex(batch, cents)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Start encoding a stream of (doc_id, payload BINARY) rows against
    * the persisted centroid table. */
  def start(blobs: DataFrame, cents: DataFrame,
            outDir: String, checkpoint: String): StreamingQuery =
    store(outDir).start(blobs, checkpoint)(writeBatch(_, cents, outDir, _))

  /** The store's served schema — the (doc_id, cell, emb) contract
    * [[writeBatch]] lands (StreamingMmEncodeSpec pins constant == landed
    * bytes), so a reader racing the first micro-batch gets an EMPTY
    * store of the right shape instead of a crash. */
  val storeSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("emb",
        // containsNull=true: parquet groups read back as optional-element
        // lists, and the contract is what a READER of the store sees
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = true))))

  /** The accumulated code store: every committed batch. */
  def readCodes(spark: SparkSession, outDir: String): DataFrame = {
    val st = store(outDir)
    st.read(spark, "", st.snapshot(spark), storeSchema)
  }
}
