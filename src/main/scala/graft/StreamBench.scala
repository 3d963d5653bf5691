package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming micro-bench: per-batch seconds for the maintenance modules
  * whose stores GROW with the stream (attribution's canonical-election
  * store, the postings append store, the erasure tombstone/decrement
  * store). The batch registry's bench cannot see a regression here — a
  * per-batch anti-join that degrades from O(batch) to O(store) only
  * shows up as a cost CURVE over successive batches, which is exactly
  * what this prints: `per_batch` arrays (trend), plus each store's
  * generational compaction and (for attribution) the report readout.
  *
  * The stream is synthetic and FIXED: doc ids are sequential, texts are
  * ~40 words drawn deterministically (md5 of the token index) from a
  * 20k-word vocabulary, erasure requests are a fixed modular cohort —
  * no wall-clock, no randomness, so runs are comparable round over
  * round and machine to machine. One JSON line on stdout (the Bench
  * discipline), also written to STREAMBENCH.json. This main is ADDITIVE:
  * the driver's Bench contract (graft.Bench, one JSON line, $SPARK_GRAFT_*
  * env) is untouched. */
object StreamBench {

  private def force(df: DataFrame): Long = df.queryExecution.toRdd.count()

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "8").toInt
    val batchDocs = sys.env.getOrElse("SPARK_GRAFT_STREAM_DOCS", "2000").toInt
    val spark = SparkUtil.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // deterministic ~40-token text over a shared 20k-word vocabulary
    // (shared words give the postings/df realistic fan-in; the per-doc
    // leading word keeps exact-dup rare, like a real firehose)
    def batchDf(b: Int): DataFrame = {
      val base = b.toLong * batchDocs
      spark.range(batchDocs.toLong).select(
        (col("id") + lit(base)).as("doc_id"),
        concat_ws(" ", (0 until 40).map { w =>
          substring(md5(pmod((col("id") + lit(base)) * lit(40L) + lit(w.toLong),
            lit(20000L)).cast("string")), 1, 6)
        }: _*).as("text"))
    }

    def time[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def fmt(d: Double): String = f"$d%.3f"
    def arr(ds: Seq[Double]): String = ds.map(fmt).mkString("[", ",", "]")

    def tmp(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"graft-sbench-$tag-").toString

    // warmup: pay session/codegen startup outside every module's batch 0
    try { spark.range(1 << 20).selectExpr("sum(id)").collect()
          batchDf(0).agg(count(lit(1))).collect() }
    catch { case _: Throwable => () }

    // 1. postings append: tokenize-and-land per batch, then the
    //    generational roll-up that keeps the store bounded
    val pDir = tmp("post")
    val postPer = (0 until nBatches).map { b =>
      val df = batchDf(b)
      time(graft.streaming.StreamingPostingsAppend.writeBatch(df, pDir, b.toLong))
    }
    val postCompact = time(
      graft.streaming.StreamingPostingsAppend.compactStore(spark, pDir))

    // 2. attribution: per-arriving-doc stage attribution against the
    //    GROWING committed canonical store (the per-batch anti-join the
    //    r18 verdict flagged as invisible), plus one compaction and the
    //    report readout
    val aDir = tmp("att")
    val attPer = (0 until nBatches).map { b =>
      val df = batchDf(b)
      time(graft.streaming.StreamingAttribution.writeBatch(df, aDir, b.toLong))
    }
    val attCompact = time(
      graft.streaming.StreamingAttribution.compactStore(spark, aDir))
    val attReport = time(
      force(graft.streaming.StreamingAttribution.report(spark, aDir)))

    // 3. erasure: requests land tombstones + df/dl decrements against a
    //    static corpus; compaction rolls the id-keyed generations
    val eDir = tmp("erase")
    val corpus = spark.range(nBatches.toLong * batchDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 40).map { w =>
        substring(md5(pmod(col("id") * lit(40L) + lit(w.toLong),
          lit(20000L)).cast("string")), 1, 6)
      }: _*).as("text"))
    val erasePer = (0 until nBatches).map { b =>
      // fixed modular cohort above the protect floor, disjoint per batch
      val reqs = spark.range(nBatches.toLong * batchDocs)
        .select(col("id").as("doc_id"))
        .where(pmod(col("doc_id"), lit(97L)) === lit(b.toLong) &&
          col("doc_id") >= lit(graft.queries.QueryBase.EraseProtect))
      time(graft.streaming.StreamingErasure.writeBatch(reqs, corpus, eDir, b.toLong))
    }
    val eraseCompact = time(graft.streaming.StreamingErasure.compact(spark, eDir))

    Seq(pDir, aDir, eDir).foreach { d =>
      try {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(d)).deleteRecursively()
      } catch { case _: Throwable => () }
    }

    def mod(name: String, per: Seq[Double], extra: String): String =
      s""""$name":{"per_batch":${arr(per)},"mean":${fmt(per.sum / per.size)},""" +
        s""""last_over_first":${fmt(per.last / math.max(per.head, 1e-9))}$extra}"""
    val json =
      s"""{"metric":"stream_bench","unit":"sec","cpus":$cpus,""" +
      s""""batches":$nBatches,"rows_per_batch":$batchDocs,"modules":{""" +
      mod("postings_append", postPer, s""","compact":${fmt(postCompact)}""") + "," +
      mod("attribution", attPer,
        s""","compact":${fmt(attCompact)},"report":${fmt(attReport)}""") + "," +
      mod("erasure", erasePer, s""","compact":${fmt(eraseCompact)}""") +
      "}}"
    println(json)
    // the checkout named by SPARK_GRAFT_REPO (graft.Bench's artifact
    // variable), else the working directory: `sbt runMain` forks in the
    // project base directory. A failed write warns instead of going stale.
    val out = sys.env.getOrElse("SPARK_GRAFT_REPO", ".") + "/STREAMBENCH.json"
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    catch {
      case t: Throwable =>
        System.err.println(s"graft.StreamBench: WARNING could not write $out: " +
          s"${t.getClass.getSimpleName}: ${t.getMessage}")
    }
    spark.stop()
  }
}
