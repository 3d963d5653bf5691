package graft

import graft.streaming.StreamingAttribution
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** q318's live twin: attributing documents to their first failing
  * pipeline gate AS THEY ARRIVE must reproduce the oracle-gated batch
  * report bit-exactly after an in-order replay (shared feature
  * projection, shared gate, shared stage chain, shared report
  * aggregation — the equality is by construction, this spec proves the
  * construction), a replayed micro-batch id must no-op, a half-landed
  * batch must stay invisible, and the generational roll-up must change
  * nothing a reader sees. */
object StreamingAttributionSpec {
  final case class Doc(doc_id: Long, text: String)
}

class StreamingAttributionSpec extends AnyFunSuite with BeforeAndAfterAll {
  import StreamingAttributionSpec.Doc

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.SparkUtil.configure(
      SparkSession.builder().master("local[4]"), "4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docs(): DataFrame = spark.read
    .parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))

  private def batchReport(): Set[(String, String, Long, Long, Double)] =
    collectReport(SparkEntry.queries("q318_pipeline_attribution")(spark, dir))

  private def collectReport(df: DataFrame)
      : Set[(String, String, Long, Long, Double)] = {
    val ss = spark
    import ss.implicits._
    df.select(col("stage"), col("pred_lang"), col("n_docs"),
        col("ws_tokens"), col("share"))
      .as[(String, String, Long, Long, Double)].collect().toSet
  }

  test("in-order streamed attribution reproduces the batch q318 report bit-exactly") {
    val ss = spark
    import ss.implicits._
    val rows = docs().as[Doc].collect().sortBy(_.doc_id)
    assert(rows.nonEmpty, "degenerate fixture: no documents")

    val outDir = java.nio.file.Files.createTempDirectory("graft-satt-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-satt-ckpt-").toString
    val stream = MemoryStream[Doc](spark)
    val q = StreamingAttribution.start(stream.toDF(), outDir, ckpt)
    rows.grouped(math.max(1, rows.length / 4)).foreach { chunk =>
      stream.addData(chunk.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()

    val streamed = collectReport(StreamingAttribution.report(spark, outDir))
    val batch = batchReport()
    assert(streamed == batch,
      s"streamed attribution report != batch q318 report\n" +
        s"streamed: ${streamed.toSeq.sorted.mkString("; ")}\n" +
        s"batch:    ${batch.toSeq.sorted.mkString("; ")}")
    // exactly one attribution row per document
    assert(StreamingAttribution.servedAttribution(spark, outDir).count() ==
      rows.length.toLong)
  }

  test("replayed ids no-op, torn batches stay invisible, roll-up changes nothing") {
    val ss = spark
    import ss.implicits._
    val rows = docs().as[Doc].collect().sortBy(_.doc_id)
    val outDir = java.nio.file.Files.createTempDirectory("graft-satt2-").toString
    val chunks = rows.grouped(math.max(1, rows.length / 3)).toSeq
    chunks.zipWithIndex.foreach { case (c, i) =>
      StreamingAttribution.writeBatch(c.toSeq.toDF("doc_id", "text"), outDir, i.toLong)
    }
    val before = collectReport(StreamingAttribution.report(spark, outDir))
    assert(before == batchReport(), "direct writeBatch replay != batch report")

    // an applied id replays as a no-op (at-least-once foreachBatch)
    StreamingAttribution.writeBatch(
      chunks.head.toSeq.toDF("doc_id", "text"), outDir, 0L)
    assert(collectReport(StreamingAttribution.report(spark, outDir)) == before,
      "replaying a committed batch id changed the served report")

    // a half-landed batch (att without ecan/ncan/fgt) is invisible: the
    // fully-landed id set is the all-parts intersection
    chunks.head.take(5).toSeq.toDF("doc_id", "text")
      .select(col("doc_id"), lit(99L).as("seq"), md5(col("text")).as("h"),
        lit(0L).as("simhash"), lit("en").as("pred_lang"),
        lit(1).as("n_tokens"), lit(true).as("qpass"),
        lit("5_kept").as("stage"))
      .write.parquet(s"$outDir/att/batch=99")
    assert(collectReport(StreamingAttribution.report(spark, outDir)) == before,
      "a torn batch leaked into the served report")

    // generational roll-up: same report, and a covered id still no-ops
    val cover = StreamingAttribution.compactStore(spark, outDir)
    assert(cover.exists(_ >= 2L), s"roll-up did not cover the landed batches: $cover")
    assert(collectReport(StreamingAttribution.report(spark, outDir)) == before,
      "compaction changed the served report")
    StreamingAttribution.writeBatch(
      chunks(1).toSeq.toDF("doc_id", "text"), outDir, 1L)
    assert(collectReport(StreamingAttribution.report(spark, outDir)) == before,
      "replaying a rolled-up batch id changed the served report")
  }

  test("in-band forgetting equals a stream that never saw the cohort (MoR serve and CoW fold)") {
    val ss = spark
    import ss.implicits._
    // the PipelineAttributionSpec five-arm texts: 3 is the elected
    // exact+near canonical, 4 its exact duplicate, 5 its word-order
    // permutation (same simhash, different hash)
    val t3 = "the quick brown fox jumps over a lazy dog today"
    val t4 = "The quick brown fox jumps over a lazy dog today!"
    val t5 = "today dog lazy a over jumps fox brown quick the"
    val t1 = "7 8 9 44 55 66 % % % 123 456 789"
    val t2 = "the the the the the the the the the the"
    def land(dir: String, id: Long, docs: Seq[(Long, String)]): Unit =
      StreamingAttribution.writeBatch(docs.toDF("doc_id", "text"), dir, id)
    def forget(dir: String, id: Long, ids: Seq[Long]): Unit =
      StreamingAttribution.writeBatch(
        StreamingAttribution.forgetRecords(ids.toDF("doc_id")), dir, id)
    def served(dir: String): Set[(Long, String)] = {
      StreamingAttribution.servedAttribution(spark, dir)
        .select(col("doc_id"), col("stage"))
        .as[(Long, String)].collect().toSet
    }

    val a = java.nio.file.Files.createTempDirectory("graft-satt-f-").toString
    land(a, 0L, Seq(1L -> t1, 2L -> t2, 3L -> t3))
    land(a, 1L, Seq(4L -> t4, 5L -> t5))
    assert(served(a) == Set(1L -> "1_language", 2L -> "2_quality",
      3L -> "5_kept", 4L -> "3_exact_dup", 5L -> "4_near_dup"))

    // forget the canonical: the MoR serve must re-derive every election
    // from the survivors — doc 4 inherits the hash AND, with its own
    // punctuated simhash, leaves 5's near group entirely, so BOTH
    // survive — exactly the stream that never saw 3
    forget(a, 2L, Seq(3L))
    val b = java.nio.file.Files.createTempDirectory("graft-satt-nf-").toString
    land(b, 0L, Seq(1L -> t1, 2L -> t2))
    land(b, 1L, Seq(4L -> t4, 5L -> t5))
    val expectNo3 = served(b)
    assert(expectNo3 == Set(1L -> "1_language", 2L -> "2_quality",
      4L -> "5_kept", 5L -> "5_kept"))
    assert(served(a) == expectNo3, "MoR serve != never-saw-cohort stream")
    assert(collectReport(StreamingAttribution.report(spark, a)) ==
      collectReport(StreamingAttribution.report(spark, b)),
      "MoR report != never-saw-cohort report")

    // fold (CoW): same answer from the fast path, no cohort id anywhere
    // but the retained door-gate tombstones
    StreamingAttribution.compactStore(spark, a)
    assert(served(a) == expectNo3, "folded store != never-saw-cohort stream")
    val attIds = StreamingAttribution.servedAttribution(spark, a)
      .select("doc_id").as[Long].collect().toSet
    assert(!attIds.contains(3L), "cohort id survived the fold")
    assert(spark.read.parquet(s"$a/gen/fgt/batch=2")
      .as[Long].collect().toSet == Set(3L), "fgt tombstone not retained")

    // a re-arrival of the erased id is dropped at the door
    land(a, 3L, Seq(3L -> t3))
    assert(served(a) == expectNo3, "re-arriving erased id re-entered")

    // deposing the inherited canonical re-elects on fresh content: with
    // 4 forgotten too, a NEW doc with the same text joins the near group
    // where 5 (earlier-seen elected canonical) now wins the near election
    forget(a, 4L, Seq(4L))
    land(a, 5L, Seq(6L -> t3))
    assert(served(a) == Set(1L -> "1_language", 2L -> "2_quality",
      5L -> "5_kept", 6L -> "4_near_dup"),
      "deposed canonical did not re-elect correctly")
    StreamingAttribution.compactStore(spark, a)
    assert(served(a) == Set(1L -> "1_language", 2L -> "2_quality",
      5L -> "5_kept", 6L -> "4_near_dup"))
    assert(spark.read.parquet(s"$a/gen/fgt/batch=5")
      .as[Long].collect().toSet == Set(3L, 4L))
  }

  test("arrival order shifts canonical election but never the gate counts") {
    val ss = spark
    import ss.implicits._
    // reversed arrival: stages 1/2 are per-doc (order-free), and the
    // exact-dup TOTAL is order-free too (each hash group always yields
    // size-1 duplicates); only which doc is canonical — and through the
    // simhash of that elected doc, the near-dup split — may move
    val rows = docs().as[Doc].collect().sortBy(-_.doc_id)
    val outDir = java.nio.file.Files.createTempDirectory("graft-satt3-").toString
    rows.grouped(math.max(1, rows.length / 3)).zipWithIndex.foreach {
      case (c, i) =>
        StreamingAttribution.writeBatch(c.toSeq.toDF("doc_id", "text"), outDir, i.toLong)
    }
    def stageCounts(s: Set[(String, String, Long, Long, Double)]): Map[String, Long] =
      s.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val rev = stageCounts(collectReport(StreamingAttribution.report(spark, outDir)))
    val fwd = stageCounts(batchReport())
    for (st <- Seq("1_language", "2_quality", "3_exact_dup"))
      assert(rev.getOrElse(st, 0L) == fwd.getOrElse(st, 0L),
        s"stage $st count moved under reversed arrival: $rev vs $fwd")
    assert(rev.values.sum == fwd.values.sum, "total attributed docs moved")
  }
}
