package graft

import graft.queries.MultimodalQueries
import graft.streaming.StreamingMmEncode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Kill/restart fault proof for the foreachBatch INDEX-APPEND protocol
  * ([[StreamingMmEncode]]; every id-keyed store in graft.streaming shares
  * it through one GenerationalStore): the replay specs prove a
  * re-delivered batch id is idempotent, this one proves the claim it
  * rests on — an actual query KILL between (and once DURING)
  * micro-batches, with each drain a NEW query instance resuming from the
  * shared checkpoint, accumulates a code store row-identical to the
  * one-shot batch encode. The mid-flight-stopped instance may leave an
  * uncommitted partial `batch=<id>/` directory; the restarted instance
  * re-runs that id and OVERWRITES the torn directory (a committed one
  * no-ops, its content being identical), so the store converges with no
  * duplicates and no gaps. */
class StreamingAppendRestartSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.SparkUtil.configure(
      SparkSession.builder().master("local[4]"), "4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    base = java.nio.file.Files.createTempDirectory("graft-apprestart-").toString
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    if (base != null) graft.queries.AtRestTables.deleteRecursively(base)
  }

  private def centTable(): String = {
    SparkEntry.queries("q301_mm_incremental_encode")(spark, dir)
      .queryExecution.toRdd.count()
    s"graft_mm_cents_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
  }

  private def startQuery(centT: String) = {
    val blobs = spark.readStream
      .schema("doc_id LONG, payload BINARY")
      .parquet(s"$base/in")
    StreamingMmEncode.start(blobs, spark.table(centT), s"$base/out", s"$base/cp")
  }

  test("the id-keyed append store survives kill/restart and converges to the batch encode") {
    val centT = centTable()
    val allBlobs = MultimodalQueries.blobBatch(spark, dir, 1L, 0L) // all 32 blobs
      .select(col("doc_id"), col("payload"))
    val chunks = Seq(
      allBlobs.where(col("doc_id") % 3 === 0),
      allBlobs.where(col("doc_id") % 3 === 1),
      allBlobs.where(col("doc_id") % 3 === 2))

    // chunk 1: clean drain, instance 1
    chunks(0).coalesce(1).write.mode("append").parquet(s"$base/in")
    val q1 = startQuery(centT); q1.processAllAvailable(); q1.stop()

    // chunk 2: instance 2 is started and stopped WITHOUT awaiting
    // progress — whatever batch it was into is uncommitted (a partial
    // id-keyed directory is the legal crash debris)
    chunks(1).coalesce(1).write.mode("append").parquet(s"$base/in")
    val q2 = startQuery(centT); q2.stop()

    // chunk 3: instance 3 must redeliver chunk 2's batch id (overwrite,
    // not duplicate) and then drain chunk 3
    chunks(2).coalesce(1).write.mode("append").parquet(s"$base/in")
    val q3 = startQuery(centT); q3.processAllAvailable(); q3.stop()

    val streamed = StreamingMmEncode.readCodes(spark, s"$base/out")
      .select("doc_id", "cell", "emb").collect().map(_.toString).sorted.toSeq
    val direct = MultimodalQueries.mmEncodeAgainstIndex(allBlobs, spark.table(centT))
      .select("doc_id", "cell", "emb").collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty)
    assert(streamed == direct,
      s"restarted append store != one-shot batch encode (${streamed.size} vs ${direct.size} rows)")
  }
}
