package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of the q127 at-rest vector index — the vector
  * leg of the ingestion lifecycle beside [[PartitionedIngest]] (events
  * in) and [[MvMaintenance]] (aggregates current): newly-arriving
  * embeddings are PQ-ENCODED AS THEY LAND, map-side against the
  * persisted centroids + residual codebook, and appended to the code
  * store. No training stage ever runs in the hot path — the stream pays
  * exactly what q129's batch delta pays per vector (the encode is the
  * SAME [[graft.queries.VectorQueries.encodeAgainstIndex]] definition),
  * which at 100 TB is the difference between absorbing a firehose and
  * retraining an index under it.
  *
  * Append protocol: each micro-batch writes its codes under a
  * batch-id-keyed directory (`batch=<id>/`, Spark's partition-discovery
  * layout) through [[GenerationalStore]]. foreachBatch is
  * at-least-once; a REPLAYED id (checkpoint recovery) carries identical
  * rows, so a committed one no-ops and a torn one is overwritten —
  * idempotent append without a table format, the MvMaintenance
  * skip-if-applied discipline in directory form.
  *
  * StreamingIvfEncodeSpec replays the q129 batch through micro-batches
  * and proves the accumulated code store row-identical to the one-shot
  * batch encode. */
object StreamingIvfEncode {

  /** The store — single-artifact, batches at the root, never compacted
    * (a code store grows with the index it serves). */
  private def store(outDir: String) = new GenerationalStore(outDir, Seq(""))

  /** Encode one micro-batch and land it under its id-keyed directory
    * (exposed separately so the replay path is testable). */
  def writeBatch(batch: DataFrame, cents: DataFrame, cb: DataFrame,
                 outDir: String, batchId: Long): Unit =
    store(outDir).landBatch(batch.sparkSession, batchId) { _ =>
      graft.queries.VectorQueries.encodeAgainstIndex(batch, cents, cb)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Start encoding a stream of (vec_id, embedding) rows against the
    * persisted index tables. */
  def start(vecs: DataFrame, cents: DataFrame, cb: DataFrame,
            outDir: String, checkpoint: String): StreamingQuery =
    store(outDir).start(vecs, checkpoint)(writeBatch(_, cents, cb, outDir, _))

  /** The store's served schema — the (vec_id, cell, s, code) contract
    * [[writeBatch]] lands (StreamingIvfEncodeSpec pins constant ==
    * landed bytes), so a reader racing the first micro-batch gets an
    * EMPTY store of the right shape instead of a crash. */
  val storeSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("code",
        org.apache.spark.sql.types.LongType)))

  /** The accumulated code store: every committed batch. */
  def readCodes(spark: SparkSession, outDir: String): DataFrame = {
    val st = store(outDir)
    st.read(spark, "", st.snapshot(spark), storeSchema)
  }
}
