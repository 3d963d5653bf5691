package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of the q148 at-rest inverted index — the TEXT
  * leg of the ingestion lifecycle beside [[StreamingIvfEncode]] (vectors)
  * and [[PartitionedIngest]] (events): newly-arriving documents are
  * tokenized into (term, doc_id, tf) postings AS THEY LAND and appended
  * to the posting store. The derivation is THE q148 build definition
  * ([[graft.queries.TextQueries.postingsOf]]), so the stream-maintained
  * index is row-identical to a from-scratch rebuild by construction — at
  * 100 TB the difference between absorbing a document firehose and
  * re-tokenizing a corpus under it. The lexicon (term, df) is derived
  * stats (the q141 manifest discipline): serving re-derives or
  * periodically compacts it from the postings, never the raw text.
  *
  * Append protocol: [[GenerationalStore]]'s id-keyed directories —
  * each micro-batch writes under `batch=<id>/`; a replayed id
  * (at-least-once foreachBatch) no-ops once committed and is rewritten
  * while torn, so the append is idempotent without a table format.
  *
  * Store compaction rides [[GenerationalStore]] — ONE roll-up discipline
  * with the erasure stores (the r17 verdict's #5): every fully-landed
  * batch folds into a term-range-clustered generation (the serving-scan
  * layout), loose directories above the coverage stay id-keyed, GC keeps
  * one superseded generation, and a replayed id at or below the coverage
  * no-ops on the generation check even after its directories are
  * garbage-collected. The torn-compaction invisibility, keep-one-GC and
  * replay-idempotence proofs therefore hold by shared construction.
  *
  * StreamingPostingsSpec replays the corpus through micro-batches and
  * proves the accumulated postings row-identical to the one-shot batch
  * derivation (compacted or not), and a conjunctive probe over them
  * equal to one over the batch index. */
object StreamingPostingsAppend {

  /** The store's generational-compaction state — single-artifact, so
    * batches land at the root (the [[StreamingIndexErasure]] shape). */
  private def store(outDir: String) = new GenerationalStore(outDir, Seq(""))

  /** Tokenize one micro-batch of (doc_id, text) rows and land its
    * postings under the id-keyed directory (exposed separately so the
    * replay path is testable). An APPLIED id — rolled into the active
    * generation (its own directory may be garbage-collected) or fully
    * committed loose — replays as a no-op: re-landing it after a roll-up
    * would duplicate every posting it contributed. */
  def writeBatch(batch: DataFrame, outDir: String, batchId: Long): Unit =
    store(outDir).landBatch(batch.sparkSession, batchId) { _ =>
      graft.queries.TextQueries.postingsOf(batch)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Start appending postings for a stream of (doc_id, text) rows.
    * `compactEvery` runs [[compactStore]] inside the stream every k-th
    * batch — no external maintenance tick needed to stay bounded under a
    * document firehose. */
  def start(docs: DataFrame, outDir: String, checkpoint: String,
            compactEvery: Option[Long] = None): StreamingQuery =
    store(outDir).start(docs, checkpoint, compactEvery)(
      writeBatch(_, outDir, _), compactStore(_, outDir))

  /** The store's served schema — the (term, doc_id, tf) posting contract
    * [[writeBatch]] lands (StreamingPostingsSpec pins constant == landed
    * bytes), so a reader racing the first micro-batch gets an EMPTY
    * store of the right shape instead of a crash. */
  val storeSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("term",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("tf",
        org.apache.spark.sql.types.LongType, nullable = false)))

  /** The accumulated posting store: the active term-clustered generation
    * (if any) plus fully-committed loose batches above its coverage — a
    * plain union is row-identical to the batch derivation because a
    * (term, doc_id) pair lives in exactly one batch (documents land
    * whole; replays overwrite their own directory) and the roll-up's
    * tf-sum is an identity over that disjointness. */
  def readPostings(spark: SparkSession, outDir: String): DataFrame = {
    val st = store(outDir)
    st.read(spark, "", st.snapshot(spark), storeSchema)
  }

  /** Roll every fully-landed batch into one term-range-clustered
    * generation ([[GenerationalStore]] — the store's directory count and
    * read-side work stay bounded under an unbounded document stream, and
    * the generation IS the serving layout: few files, clustered by term).
    * Per-(term, doc_id) tf partials merge by SUM — the q138
    * additive-partial discipline (an identity today, the correct general
    * semantics if a landing ever shards one doc's postings). Returns the
    * active coverage after the call. */
  def compactStore(spark: SparkSession, outDir: String): Option[Long] = {
    val st = store(outDir)
    st.compact(spark) { (covered, land) =>
      land(Map("" -> st.readPart(spark, "", covered).get
        .groupBy("term", "doc_id")
        .agg(org.apache.spark.sql.functions.sum("tf").as("tf"))
        .repartitionByRange(4, org.apache.spark.sql.functions.col("term"))))
    }
  }
}
