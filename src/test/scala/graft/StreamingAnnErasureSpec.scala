package graft

import graft.queries.MultimodalQueries.{mmProbe, mmQueryFrame}
import graft.queries.VectorQueries.{annServe, ivfIndexTables}
import graft.streaming.StreamingIndexErasure
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The forgetting leg for the ANN and multimodal indexes (the r16
  * verdict's #3): erasure requests applied as they arrive must
  * accumulate exactly the (cell, id) tombstones the q305/q310 batch
  * purge lands — located in the index's OWN persisted codes — and the
  * top-k actually served through the shared tombstoned serves must be
  * bit-equal to the batch queries'. Duplicate requests never re-land,
  * replayed micro-batch ids are idempotent, a write killed mid-flight
  * stays invisible until its replay, and requests below the
  * EraseProtect floor are dropped at the door. */
object StreamingAnnErasureSpec {
  final case class VecReq(vec_id: Long)
}

class StreamingAnnErasureSpec extends AnyFunSuite with BeforeAndAfterAll {
  import StreamingAnnErasureSpec.VecReq

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"
  private val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")

  override def beforeAll(): Unit = {
    spark = graft.SparkUtil.configure(
      SparkSession.builder().master("local[4]"), "4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Build (or reuse) the at-rest indexes + batch tombstones through the
    * q305/q310 paths, returning the persisted code tables the stream
    * locates requests in. */
  private def annCodesTable(): String = {
    SparkEntry.queries("q305_erasure_ann_serve")(spark, dir)
      .queryExecution.toRdd.count()
    s"graft_ivf_codes_$sfx"
  }
  private def mmCodesTable(): String = {
    SparkEntry.queries("q310_erasure_mm_serve")(spark, dir)
      .queryExecution.toRdd.count()
    s"graft_mm_codes_$sfx"
  }

  private def cohortOf(codesT: String, idCol: String): Seq[Long] = {
    val ss = spark; import ss.implicits._
    spark.table(codesT)
      .where(graft.queries.QueryBase.erasedId(col(idCol)))
      .select(idCol).distinct().as[Long].collect().sorted.toIndexedSeq
  }

  private def truthOf(codesT: String, idCol: String): Set[(Long, Long)] = {
    val ss = spark; import ss.implicits._
    spark.table(codesT)
      .where(graft.queries.QueryBase.erasedId(col(idCol)))
      .select(col("cell"), col(idCol)).distinct()
      .as[(Long, Long)].collect().toSet
  }

  private def storeSet(outDir: String, idCol: String): Set[(Long, Long)] = {
    val ss = spark; import ss.implicits._
    StreamingIndexErasure.readTombstones(spark, outDir, idCol)
      .select(col("cell"), col(idCol)).as[(Long, Long)].collect().toSet
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect().map(_.toString).toIndexedSeq

  test("streamed ANN tombstones accumulate exactly the q305 batch purge and serve its exact top-k") {
    val ss = spark; import ss.implicits._
    val codesT = annCodesTable()
    val ids = cohortOf(codesT, "vec_id")
    assert(ids.size >= 8, s"degenerate fixture: only ${ids.size} erased vecs")
    val outDir = java.nio.file.Files.createTempDirectory("graft-sanne-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sanne-ckpt-").toString
    // a serve racing the first micro-batch filters nothing: the empty
    // store serves exactly the unerased q128 answer
    val unerased = rows(SparkEntry.queries("q128_ivf_index_probe")(spark, dir))
    assert(unerased.nonEmpty && rows(annServe(spark, dir, ivfIndexTables(spark, dir),
        Some(StreamingIndexErasure.readTombstones(spark, outDir, "vec_id")))) == unerased,
      "the empty ANN tombstone store filtered something: != q128")
    val stream = MemoryStream[VecReq](spark)
    val q = StreamingIndexErasure.start(stream.toDF(),
      spark.table(codesT), "vec_id", outDir, ckpt)
    val chunks = ids.grouped(math.max(1, ids.size / 4)).toSeq
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      // re-request the previous chunk's tail — the retry-duplicate case
      val dupes = if (i > 0) chunks(i - 1).takeRight(3) else Seq.empty
      stream.addData((dupes ++ chunk).map(VecReq.apply))
      q.processAllAvailable()
    }
    q.stop()

    assert(storeSet(outDir, "vec_id") == truthOf(codesT, "vec_id"),
      "streamed ANN tombstones != the batch purge's (cell, vec_id) set")
    val fromStream = rows(annServe(spark, dir, ivfIndexTables(spark, dir),
      Some(StreamingIndexErasure.readTombstones(spark, outDir, "vec_id"))))
    val fromBatch = rows(SparkEntry.queries("q305_erasure_ann_serve")(spark, dir))
    assert(fromStream.nonEmpty && fromStream == fromBatch,
      "ANN top-k served from the stream-maintained tombstones != q305")
  }

  test("streamed mm tombstones accumulate exactly the q310 batch purge and serve its exact top-k") {
    val ss = spark; import ss.implicits._
    val codesT = mmCodesTable()
    val ids = cohortOf(codesT, "doc_id")
    assert(ids.size >= 8, s"degenerate fixture: only ${ids.size} erased docs")
    val outDir = java.nio.file.Files.createTempDirectory("graft-smme-").toString
    val unerased = rows(SparkEntry.queries("q298_mm_index_probe")(spark, dir))
    assert(unerased.nonEmpty && rows(mmProbe(spark, dir, mmQueryFrame(spark, dir),
        Some(StreamingIndexErasure.readTombstones(spark, outDir, "doc_id")))) == unerased,
      "the empty mm tombstone store filtered something: != q298")
    ids.grouped(math.max(1, ids.size / 4)).zipWithIndex.foreach { case (chunk, i) =>
      StreamingIndexErasure.writeBatch(chunk.toDF("doc_id"),
        spark.table(codesT), "doc_id", outDir, i.toLong)
    }
    assert(storeSet(outDir, "doc_id") == truthOf(codesT, "doc_id"),
      "streamed mm tombstones != the batch purge's (cell, doc_id) set")
    val fromStream = rows(mmProbe(spark, dir, mmQueryFrame(spark, dir),
      Some(StreamingIndexErasure.readTombstones(spark, outDir, "doc_id"))))
    val fromBatch = rows(SparkEntry.queries("q310_erasure_mm_serve")(spark, dir))
    assert(fromStream.nonEmpty && fromStream == fromBatch,
      "mm top-k served from the stream-maintained tombstones != q310")
  }

  test("replayed batch ids no-op, torn writes stay invisible, the EraseProtect floor holds") {
    val ss = spark; import ss.implicits._
    val codesT = annCodesTable()
    val ids = cohortOf(codesT, "vec_id")
    val (a, b) = ids.splitAt(ids.size / 2)
    val outDir = java.nio.file.Files.createTempDirectory("graft-sanne2-").toString
    StreamingIndexErasure.writeBatch(a.toDF("vec_id"), spark.table(codesT),
      "vec_id", outDir, 0L)
    val after0 = storeSet(outDir, "vec_id")
    // a replayed committed id no-ops — the store never duplicates
    StreamingIndexErasure.writeBatch(a.toDF("vec_id"), spark.table(codesT),
      "vec_id", outDir, 0L)
    assert(storeSet(outDir, "vec_id") == after0,
      "a replayed batch id changed the store")
    // a write killed mid-flight (directory exists, no _SUCCESS) is invisible
    new java.io.File(s"$outDir/batch=1/_temporary/0").mkdirs()
    assert(storeSet(outDir, "vec_id") == after0,
      "a torn batch directory leaked into the served store")
    // the replay completes it atomically; duplicates from batch 0 do not re-land
    StreamingIndexErasure.writeBatch((a.takeRight(3) ++ b).toDF("vec_id"),
      spark.table(codesT), "vec_id", outDir, 1L)
    assert(storeSet(outDir, "vec_id") == truthOf(codesT, "vec_id"),
      "the completed replay must publish exactly the remaining tombstones")
    val perBatch = spark.read.parquet(outDir)
      .groupBy("batch").agg(countDistinct("vec_id").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(perBatch(0L) + perBatch(1L) == ids.size.toLong,
      "a duplicate request re-landed in a later batch (double-counted purge)")
    // the floor: a request for a protected id (a query vector) is dropped
    StreamingIndexErasure.writeBatch(
      Seq(graft.queries.QueryBase.EraseProtect - 1).toDF("vec_id"),
      spark.table(codesT), "vec_id", outDir, 2L)
    assert(storeSet(outDir, "vec_id") == truthOf(codesT, "vec_id"),
      "a below-floor request tombstoned a protected id")
  }

  test("compaction collapses the tombstone store; the served top-k and replay guarantees survive the roll-up") {
    val ss = spark; import ss.implicits._
    val codesT = annCodesTable()
    val ids = cohortOf(codesT, "vec_id")
    assert(ids.size >= 16, s"fixture too small: ${ids.size} erased vecs")
    val outDir = java.nio.file.Files.createTempDirectory("graft-sanne3-").toString
    def looseDirs() = Option(new java.io.File(outDir).listFiles())
      .map(_.count(_.getName.startsWith("batch="))).getOrElse(0)
    var nBatches = 0L
    ids.grouped(2).foreach { chunk =>
      StreamingIndexErasure.writeBatch(chunk.toDF("vec_id"),
        spark.table(codesT), "vec_id", outDir, nBatches)
      nBatches += 1
      if (nBatches % 8 == 0) StreamingIndexErasure.compact(spark, outDir)
    }
    StreamingIndexErasure.compact(spark, outDir)
    StreamingIndexErasure.compact(spark, outDir) // GC-lag tick
    assert(looseDirs() < 10,
      s"compaction left ${looseDirs()} of $nBatches loose batch dirs")
    assert(storeSet(outDir, "vec_id") == truthOf(codesT, "vec_id"),
      "the rolled-up store != the batch purge's tombstone set")
    // a replayed ROLLED-UP batch id no-ops — its directories are gone,
    // and re-landing would re-tombstone already-rolled ids in a loose dir
    val before = (storeSet(outDir, "vec_id"), looseDirs())
    StreamingIndexErasure.writeBatch(ids.take(2).toDF("vec_id"),
      spark.table(codesT), "vec_id", outDir, 0L)
    assert((storeSet(outDir, "vec_id"), looseDirs()) == before,
      "a replayed pre-compaction batch id changed the store")
    // the serve is bit-equal through the compacted store
    assert(rows(annServe(spark, dir, ivfIndexTables(spark, dir),
        Some(StreamingIndexErasure.readTombstones(spark, outDir, "vec_id")))) ==
      rows(SparkEntry.queries("q305_erasure_ann_serve")(spark, dir)),
      "top-k served from the compacted tombstones != q305")
  }
}
