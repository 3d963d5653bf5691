package graft

import graft.streaming.StreamingErasure
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The forgetting leg of the streaming lifecycle: erasure requests
  * applied as they arrive must accumulate exactly the q304 batch purge —
  * tombstones, df decrements, stat decrements, and the BM25 actually
  * served — with duplicate requests dropped (never double-decremented),
  * replayed micro-batch ids idempotent, and half-landed batches
  * invisible until their replay completes. */
object StreamingErasureSpec {
  final case class Req(doc_id: Long)
}

class StreamingErasureSpec extends AnyFunSuite with BeforeAndAfterAll {
  import StreamingErasureSpec.Req

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.SparkUtil.configure(
      SparkSession.builder().master("local[4]"), "4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docs() = spark.read.parquet(s"$dir/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def cohort(): Seq[Long] = {
    val ss = spark; import ss.implicits._
    docs().where(graft.queries.QueryBase.erasedId(col("doc_id")))
      .select("doc_id").as[Long].collect().sorted.toIndexedSeq
  }

  /** Stream the cohort through overlapping micro-batches (each chunk
    * re-requests the previous chunk's tail — the duplicate-request case
    * a real erasure queue produces on retry). */
  private def streamCohort(outDir: String): Unit = {
    val ss = spark; import ss.implicits._
    val ids = cohort()
    assert(ids.size >= 8, s"degenerate fixture: only ${ids.size} erased ids")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sers-ckpt-").toString
    val stream = MemoryStream[Req](spark)
    val q = StreamingErasure.start(stream.toDF(), docs(), outDir, ckpt)
    val chunks = ids.grouped(math.max(1, ids.size / 4)).toSeq
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val dupes = if (i > 0) chunks(i - 1).takeRight(3) else Seq.empty
      stream.addData((dupes ++ chunk).map(Req.apply))
      q.processAllAvailable()
    }
    q.stop()
  }

  test("streamed erasure accumulates exactly the batch purge (duplicates never double-decrement)") {
    val ss = spark; import ss.implicits._
    val outDir = java.nio.file.Files.createTempDirectory("graft-sers-").toString
    streamCohort(outDir)
    val (tomb, dec, stat) = StreamingErasure.readStore(spark, outDir)

    assert(tomb.as[Long].collect().sorted.toIndexedSeq == cohort(),
      "streamed tombstones != the batch cohort")
    val decTruth = graft.queries.TextQueries.postingsOf(
        docs().where(graft.queries.QueryBase.erasedId(col("doc_id"))))
      .groupBy("term").agg(count(lit(1)).as("ddf"))
      .as[(String, Long)].collect().toSet
    val decGot = dec.as[(String, Long)].collect().toSet
    assert(decGot == decTruth,
      s"streamed df decrements != batch decrements (${decGot.size} vs ${decTruth.size})")
    val toksC = graft.queries.QueryBase.toksCol
    val statTruth = docs().where(graft.queries.QueryBase.erasedId(col("doc_id")))
      .agg(count(lit(1)).as("n"), sum(size(toksC)).cast("long").as("s"))
      .as[(Long, Long)].head()
    assert(stat.as[(Long, Long)].head() == statTruth,
      "streamed stat decrement != batch stat decrement")
  }

  test("the BM25 served from the stream-maintained store equals the q304 batch purge") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-sers2-").toString
    streamCohort(outDir)
    val (tomb, dec, stat) = StreamingErasure.readStore(spark, outDir)
    // retained stats = the full corpus stats minus the streamed decrement
    val toksC = graft.queries.QueryBase.toksCol
    val stats = docs()
      .agg(count(lit(1)).as("n"), sum(size(toksC)).cast("long").as("s"))
      .crossJoin(broadcast(stat))
      .select((col("n") - col("n_erased")).as("n_docs"),
        (col("s") - col("sum_dl_erased")).as("sum_dl"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("query_id", "rnk").collect().map(_.toString).toIndexedSeq
    val fromStream = rows(graft.queries.TextQueries
      .erasedBm25Serve(spark, dir, tomb, dec, stats))
    val fromBatch = rows(graft.queries.TextQueries
      .defs("q304_erasure_text_serve")(spark, dir))
    assert(fromStream.nonEmpty && fromStream == fromBatch,
      s"stream-served BM25 != q304 batch serve (${fromStream.size} vs ${fromBatch.size})")
  }

  test("a replayed micro-batch id no-ops, never duplicates or re-decrements") {
    val ss = spark; import ss.implicits._
    val outDir = java.nio.file.Files.createTempDirectory("graft-sers3-").toString
    val ids = cohort()
    val (a, b) = ids.splitAt(ids.size / 2)
    StreamingErasure.writeBatch(a.toDF("doc_id"), docs(), outDir, 0L)
    StreamingErasure.writeBatch(b.toDF("doc_id"), docs(), outDir, 1L)
    def snapshot() = {
      val (tomb, dec, stat) = StreamingErasure.readStore(spark, outDir)
      (tomb.as[Long].collect().sorted.toIndexedSeq,
        dec.as[(String, Long)].collect().toSet,
        stat.as[(Long, Long)].head())
    }
    val before = snapshot()
    StreamingErasure.writeBatch(b.toDF("doc_id"), docs(), outDir, 1L) // checkpoint replay
    assert(snapshot() == before, "a replayed batch id changed the store")
  }

  test("a half-landed batch stays invisible until its replay completes") {
    val ss = spark; import ss.implicits._
    val outDir = java.nio.file.Files.createTempDirectory("graft-sers4-").toString
    val ids = cohort()
    val (a, b) = ids.splitAt(ids.size / 2)
    StreamingErasure.writeBatch(a.toDF("doc_id"), docs(), outDir, 0L)
    // the crash window: batch 1's tombstones committed, decrements not —
    // serving these tombstones NOW would rank with pre-purge statistics
    // (the half-forgotten hazard AtRestFaultSpec pins for the batch build)
    b.toDF("doc_id").write.parquet(s"$outDir/tomb/batch=1")
    val (tomb1, dec1, stat1) = StreamingErasure.readStore(spark, outDir)
    assert(tomb1.as[Long].collect().sorted.toIndexedSeq == a.sorted,
      "a half-landed batch's tombstones leaked into the served store")
    // the replay completes batch 1; the whole batch becomes visible
    StreamingErasure.writeBatch(b.toDF("doc_id"), docs(), outDir, 1L)
    val (tomb2, _, _) = StreamingErasure.readStore(spark, outDir)
    assert(tomb2.as[Long].collect().sorted.toIndexedSeq == ids,
      "the completed replay must publish the full batch")
    assert(dec1.count() < StreamingErasure.readStore(spark, outDir)._2.count() ||
      stat1.as[(Long, Long)].head() !=
        StreamingErasure.readStore(spark, outDir)._3.as[(Long, Long)].head(),
      "completing the batch must extend the decrements")
  }

  test("a write killed MID-FLIGHT (directory exists, no _SUCCESS) stays invisible") {
    // the worst window: tomb and dfdec for batch 1 committed, the dlstat
    // write died mid-flight — its directory exists with only _temporary
    // trash. Counting the bare directory as landed would admit the torn
    // batch through the all-three intersection.
    val ss = spark; import ss.implicits._
    val outDir = java.nio.file.Files.createTempDirectory("graft-sers5-").toString
    val ids = cohort()
    val (a, b) = ids.splitAt(ids.size / 2)
    StreamingErasure.writeBatch(a.toDF("doc_id"), docs(), outDir, 0L)
    b.toDF("doc_id").write.parquet(s"$outDir/tomb/batch=1")
    Seq.empty[(String, Long)].toDF("term", "ddf")
      .write.parquet(s"$outDir/dfdec/batch=1")
    new java.io.File(s"$outDir/dlstat/batch=1/_temporary/0").mkdirs()
    val (tomb, _, stat) = StreamingErasure.readStore(spark, outDir)
    assert(tomb.as[Long].collect().sorted.toIndexedSeq == a.sorted,
      "a torn batch's tombstones leaked into the served store")
    assert(stat.as[(Long, Long)].head()._1 == a.size.toLong,
      "a torn batch's stats leaked into the served store")
    // the replay completes batch 1 atomically
    StreamingErasure.writeBatch(b.toDF("doc_id"), docs(), outDir, 1L)
    assert(StreamingErasure.readStore(spark, outDir)
      ._1.as[Long].collect().sorted.toIndexedSeq == ids)
  }
}
