package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous ingestion into the date-partitioned events layout that the
  * q134/q135 serving queries probe: an append-mode parquet sink writing
  * one directory per epoch-day of EVENT time — the write half of the
  * 100 TB event-store lifecycle (stream in by day, serve by
  * partition-pruned scans; [[graft.queries.RelQueries]] q134 static /
  * q135 dynamic). Day derives from the same
  * [[graft.queries.QueryBase.tsUs]] µs rule as every batch surface
  * (integer division by the shared q134 [[graft.queries.RelQueries.DayUs]]
  * grain), so a row ingested here lands in exactly the directory the
  * batch layout would put it in — StreamingPartitionedSinkSpec proves the
  * streamed layout row-identical to the batch write.
  *
  * Scale shape: the sink writes each micro-batch's files under its days
  * with NO shuffle (partitionBy on a file sink is a per-task dynamic
  * write, not an Exchange); exactly-once lands on the checkpoint +
  * file-manifest pair Spark's file sink keeps. Late data (within the
  * upstream watermark policy) simply appends more files to an old day —
  * the pruned readers never care how many files a day holds. */
object PartitionedIngest {

  /** Start the daily-partitioned append sink. `events` must carry a `ts`
    * column (TIMESTAMP/TIMESTAMP_NTZ or legacy integer-ns — tsUs
    * dispatches) plus any payload columns; all of them land in the files,
    * `day` becomes the directory key. */
  def daily(events: DataFrame, path: String, checkpoint: String): StreamingQuery =
    events
      .withColumn("ts_us", graft.queries.QueryBase.tsUs(events))
      .withColumn("day", expr(s"ts_us div ${graft.queries.RelQueries.DayUs}"))
      .drop("ts_us")
      .writeStream.format("parquet").partitionBy("day")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** Small-files compaction of a daily layout — the OPTIMIZE/maintenance
    * job every streaming-ingested store needs: each micro-batch leaves
    * one file per (batch, day), so a day ingested across k batches holds
    * k small files and scan cost grows with file COUNT, not data size.
    *
    * Deliberately NOT on [[GenerationalStore]] (the r17 verdict's #5
    * asked each bespoke compaction to migrate or say why): this layout
    * is written by Spark's FILE SINK, whose own transaction log — not
    * id-keyed `batch=` directories — provides exactly-once and replay
    * idempotence, and whose directory key is EVENT day, not batch id.
    * Wrapping it in the generational protocol would mean re-implementing
    * the sink's append path under foreachBatch just to regain guarantees
    * the sink already gives natively; the atomicity this compaction
    * needs (never rewrite in place, caller flips a pointer) is the same
    * contract GenerationalStore.compact provides, kept here at day granularity.
    * Rewrites the layout to `outPath` with exactly one file per day:
    * `repartition(col("day"))` puts a day's rows in one task, so the
    * dynamic partitioned write emits one file per day directory. Writes
    * to a NEW path (never in place — readers may be mid-scan on the old
    * files at 100 TB; the swap is the caller's atomic pointer flip).
    * Content identity and the one-file-per-day invariant are spec-pinned. */
  def compactDaily(spark: org.apache.spark.sql.SparkSession,
                   inPath: String, outPath: String): Unit =
    spark.read.parquet(inPath)
      .repartition(col("day"))
      .write.mode("overwrite").partitionBy("day").parquet(outPath)
}
