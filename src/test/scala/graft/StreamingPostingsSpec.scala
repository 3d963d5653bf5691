package graft

import graft.streaming.StreamingPostingsAppend
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The text leg of the streaming ingestion lifecycle: tokenizing
  * documents into postings AS THEY ARRIVE must accumulate exactly the
  * rows the one-shot batch derivation produces (the shared postingsOf
  * definition makes the equality exact), a replayed micro-batch id must
  * not duplicate postings, and a conjunctive search over the
  * stream-built store must equal one over the batch build. */
object StreamingPostingsSpec {
  final case class Doc(doc_id: Long, text: String)
}

class StreamingPostingsSpec extends AnyFunSuite with BeforeAndAfterAll {
  import StreamingPostingsSpec.Doc

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

  test("streamed postings accumulate exactly the batch derivation") {
    val ss = spark
    import ss.implicits._
    val rows = docs().as[Doc].collect().sortBy(_.doc_id)
    assert(rows.nonEmpty, "degenerate fixture: no documents")

    val outDir = java.nio.file.Files.createTempDirectory("graft-spost-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-spost-ckpt-").toString
    val stream = MemoryStream[Doc](spark)
    val q = StreamingPostingsAppend.start(stream.toDF(), outDir, ckpt)
    rows.grouped(math.max(1, rows.length / 4)).foreach { chunk =>
      stream.addData(chunk.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()

    val streamed = StreamingPostingsAppend.readPostings(spark, outDir)
      .as[(String, Long, Long)].collect().toSet
    val direct = graft.queries.TextQueries.postingsOf(docs())
      .as[(String, Long, Long)].collect().toSet
    assert(streamed == direct,
      s"streamed postings != batch postings (${streamed.size} vs ${direct.size} rows)")
  }

  test("a replayed micro-batch id does not duplicate postings") {
    val one = docs().limit(8)
    val outDir = java.nio.file.Files.createTempDirectory("graft-spost2-").toString
    StreamingPostingsAppend.writeBatch(one, outDir, 0L)
    val after1 = StreamingPostingsAppend.readPostings(spark, outDir).count()
    StreamingPostingsAppend.writeBatch(one, outDir, 0L) // checkpoint replay
    val after2 = StreamingPostingsAppend.readPostings(spark, outDir).count()
    assert(after1 == after2, s"replay duplicated postings: $after1 -> $after2")
  }

  test("a conjunctive probe over the stream-built store equals the batch index") {
    val ss = spark
    import ss.implicits._
    val rows = docs().as[Doc].collect().sortBy(_.doc_id)
    val outDir = java.nio.file.Files.createTempDirectory("graft-spost3-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-spost3-ckpt-").toString
    val stream = MemoryStream[Doc](spark)
    val q = StreamingPostingsAppend.start(stream.toDF(), outDir, ckpt)
    rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
      stream.addData(chunk.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()

    def probe(post: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      // rarest-2 conjunction, the q148 plan over whichever store serves
      val lex = post.groupBy("term").agg(count(lit(1)).as("df"))
      val terms = lex.orderBy(col("df").asc, col("term").asc).limit(2)
        .select("term").as[String].collect()
      post.where(col("term").isin(terms.toIndexedSeq: _*))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"), sum("tf").as("sum_tf"))
        .where(col("n_terms") === terms.length)
        .select(col("doc_id"), col("sum_tf"))
        .as[(Long, Long)].collect().toSet
    }
    val fromStream = probe(StreamingPostingsAppend.readPostings(spark, outDir))
    val fromBatch = probe(graft.queries.TextQueries.postingsOf(docs()))
    assert(fromStream == fromBatch,
      s"stream-served probe != batch-served probe (${fromStream.size} vs ${fromBatch.size})")
  }

  test("generational roll-up: the store stays bounded in place, serves row-identically, and replays no-op after GC") {
    val ss = spark
    import ss.implicits._
    val rows = docs().as[Doc].collect().sortBy(_.doc_id)
    val outDir = java.nio.file.Files.createTempDirectory("graft-spost6-").toString
    var nBatches = 0L
    rows.grouped(math.max(1, rows.length / 20)).foreach { chunk =>
      StreamingPostingsAppend.writeBatch(
        ss.createDataset(chunk.toIndexedSeq).toDF(), outDir, nBatches)
      nBatches += 1
      if (nBatches % 5 == 0) StreamingPostingsAppend.compactStore(spark, outDir)
    }
    StreamingPostingsAppend.compactStore(spark, outDir)
    StreamingPostingsAppend.compactStore(spark, outDir) // keep-one GC tick
    def batchDirs(p: String) =
      Option(new java.io.File(p).listFiles())
        .map(_.count(_.getName.startsWith("batch="))).getOrElse(0)
    assert(nBatches >= 20 && batchDirs(outDir) < 7,
      s"roll-up left ${batchDirs(outDir)} of $nBatches loose dirs")
    assert(batchDirs(s"$outDir/gen") <= 2,
      s"generation GC left ${batchDirs(s"$outDir/gen")} generations")
    // served rows == the one-shot batch derivation, exactly
    val served = StreamingPostingsAppend.readPostings(spark, outDir)
      .as[(String, Long, Long)].collect().toSet
    val batch = graft.queries.TextQueries.postingsOf(docs())
      .as[(String, Long, Long)].collect().toSet
    assert(served == batch, "compacted store != batch derivation")
    // a replayed pre-compaction id no-ops even though its directory is
    // garbage-collected — re-landing would duplicate its postings
    StreamingPostingsAppend.writeBatch(
      ss.createDataset(rows.take(3).toIndexedSeq).toDF(), outDir, 0L)
    assert(StreamingPostingsAppend.readPostings(spark, outDir)
      .as[(String, Long, Long)].collect().toSet == batch,
      "a replayed rolled-up batch changed the store")
    assert(batchDirs(outDir) < 7, "the replayed id re-landed its directory")
  }

  test("a probe racing the first micro-batch sees an empty store of the declared schema") {
    val ss = spark; import ss.implicits._
    val outDir = java.nio.file.Files.createTempDirectory("graft-spost5-").toString
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.map(f => (f.name, f.dataType))
    val empty = StreamingPostingsAppend.readPostings(spark, outDir)
    assert(shape(empty.schema) == shape(StreamingPostingsAppend.storeSchema) &&
      empty.count() == 0L, "nothing-committed read must be an empty store")
    StreamingPostingsAppend.writeBatch(
      Seq(Doc(1L, "a b a")).toDF(), outDir, 0L)
    assert(shape(StreamingPostingsAppend.readPostings(spark, outDir).schema) ==
      shape(StreamingPostingsAppend.storeSchema),
      "declared store schema drifted from the landed bytes")
  }
}
