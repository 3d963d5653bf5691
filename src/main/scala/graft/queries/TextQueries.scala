package graft.queries

import graft.SparkUtil.table
import graft.sql.OracleGen.{dlit, sround, xsumSql}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryBase._

/** Text-analysis operators for a training-data pipeline over `documents`:
  * language-ID (stopword-profile heuristic), quality scoring, token
  * counting (whitespace + BPE-ish regex), and document fingerprinting.
  *
  * Everything is expressed with built-in Spark SQL functions (codegen'd, no
  * UDFs except the md5-min fingerprint) and has an exactly-matching DuckDB
  * formulation: integer counts, exact divisions, portable rounding.
  */
object TextQueries {

  // language marker profiles (deterministic heuristic, ties -> CASE order)
  private val Profiles = Seq(
    "de" -> Seq("der", "die", "und", "das"),
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "y", "los"),
    "fr" -> Seq("le", "la", "et", "les"))

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in")

  private val toksSqlD = graft.sql.TextSql.toks

  /** BM25 constants. Derived values are precomputed ONCE in Scala and
    * embedded into both engines (k1 + 1 and 1 - b as literals), so neither
    * engine re-derives them with its own literal parsing. */
  private[queries] val K1 = 1.2
  private[queries] val B = 0.75
  private[queries] val K1p1 = K1 + 1.0
  private[queries] val OneMinusB = 1.0 - B
  private val QueryTerms = 2 // BM25 query = top-k corpus tokens
  private val TopDocs = 20

  /** q60's quality floor — shared with the oracle via [[dlit]] so both
    * engines compare the identical rounded double at the boundary. */
  private val QualityCut = 0.7

  /** q125's entropy admission floor, shared with the oracle via dlit
    * (uniform use of this corpus's ~31-word vocabulary sits near
    * ln(31) ≈ 3.43 nats; 3.2 splits real low-diversity docs out). */
  private val EntropyFloor = 3.2

  /** q115 scrub rules — ONE definition, embedded into the oracle SQL.
    * The regex stays in the Java∩RE2 common subset (anchors + literal
    * classes only: no backrefs, no lookaround) so both engines match
    * identically. */
  private val ScrubTerms = Seq("customer", "supplier")
  private val ScrubRegex = "ow$"

  /** q148's at-rest INVERTED INDEX over `documents` — the search-engine
    * layout: a postings table (term, doc_id, tf) hash-bucketed BY TERM
    * (a term-lookup touches only its bucket's files, the q78/q128
    * bucket-pruning mechanism applied to text), plus the lexicon
    * (term, df) that drives query planning (rarest-first term ordering,
    * the classic conjunctive-query optimization). Built once per
    * (session, sf dir) through [[AtRestTables]]; the build pays the
    * tokenize + explode + bucket shuffle once, and every query after is
    * a bucket-pruned posting-list read. At 100 TB: postings shard by
    * term hash exactly like this, the lexicon is vocabulary-sized
    * (~100k rows — metadata, not data), and this split — index build
    * offline, term-pruned serve online — is the only way text search
    * over a corpus that size works at all. */
  private val PostingBuckets = 8
  private val SearchTerms = 3

  /** The postings derivation — (term, doc_id, tf) from a documents frame.
    * ONE definition: the q148 at-rest build AND the streaming appender
    * ([[graft.streaming.StreamingPostingsAppend]]) both call this, so the
    * stream-maintained index is row-identical to a rebuild by
    * construction (the encodeAgainstIndex discipline applied to text). */
  private[graft] def postingsOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toks = toksCol
    docs.select(col("doc_id"), explode(toks).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
  }

  private[queries] def invertedIndexTables(spark: org.apache.spark.sql.SparkSession,
                                           dir: String): (String, String, String) = {
    val names = AtRestTables.get(spark, s"invidx|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val pT = s"graft_inv_post_$sfx"; val tT = s"graft_inv_lex_$sfx"
      val dT = s"graft_inv_dl_$sfx"
      postingsOf(spread(table(spark, dir, "documents")))
        .write.mode("overwrite").option("path", s"$base/post")
        .bucketBy(PostingBuckets, "term").sortBy("term", "doc_id")
        .saveAsTable(pT)
      AtRestTables.faultPoint("invidx:post")
      // lexicon derived from the postings AT REST (stats from the bytes
      // that will serve, the q141 manifest discipline)
      spark.table(pT).groupBy("term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").option("path", s"$base/lex").saveAsTable(tT)
      AtRestTables.faultPoint("invidx:lex")
      // per-doc token lengths — the BM25 normalization metadata a text
      // index persists beside its postings (q302 serves from it; doc-id
      // keyed, docs-sized, one INT per doc)
      val toks = toksCol
      spread(table(spark, dir, "documents"))
        .select(col("doc_id"), size(toks).as("dl"))
        .write.mode("overwrite").option("path", s"$base/dl").saveAsTable(dT)
      Seq(pT, tT, dT)
    }
    (names(0), names(1), names(2))
  }

  /** q304 serving geometry — the BM25 workload the erased index keeps
    * answering: query docs (ids below [[QueryBase.EraseProtect]], so the
    * cohort never erases them), per-query term count, served depth. ONE
    * place, embedded into the oracle SQL. */
  private val EraseQueries = 3L
  private val EraseQTerms = 3
  private val EraseDepth = 10

  /** q304's at-rest ERASURE PROPAGATION store beside the q148 inverted
    * index — the GDPR delete carried into a DERIVED serving artifact
    * (q161/q162 prove the base table forgets; production also has to
    * prove its INDEXES forget). Three tables, all O(|erased|) except one
    * build-time stats scan:
    *
    *  - tombstones: the erased doc ids — the merge-on-read unit, applied
    *    to term-pruned posting lists at serve time (q162's deletion
    *    vector, pointed at the index instead of the base table);
    *  - df decrements: per-term counts of erased docs, tokenized from the
    *    ERASED DOCS ONLY (the documents table is its own forward index,
    *    so the decrement costs O(|erased|) — never a postings scan);
    *  - retained BM25 stats: (n_docs, sum_dl) with the tombstoned rows
    *    removed, read from the index's own persisted doc-length bytes
    *    (the q141 manifest discipline: maintenance trusts what serves).
    *
    * The test cohort is deliberately corpus-proportional (~14%) so a
    * dropped tombstone join can't luck into a hash match; production
    * erasure batches are small (thousands of ids — broadcastable), and a
    * corpus-proportional purge would instead co-bucket tombstones with
    * the postings so the anti join stays shuffle-free. Retraining-free by
    * construction: posting rows and dl values of RETAINED docs are
    * untouched, so serve-side equality with a full rebuild is exact, not
    * approximate. [[AtRestTables.faultPoint]]s between the writes let
    * AtRestFaultSpec kill the build in every inter-write window. */
  private[queries] def erasureTextTables(spark: org.apache.spark.sql.SparkSession,
                                dir: String): (String, String, String) = {
    val names = AtRestTables.get(spark, s"erasetxt|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val tombT = s"graft_erase_docs_$sfx"
      val decT = s"graft_erase_dfdec_$sfx"
      val statT = s"graft_erase_dlstat_$sfx"
      val (_, _, dlT) = invertedIndexTables(spark, dir)
      val erasedDocs = table(spark, dir, "documents")
        .where(QueryBase.erasedId(col("doc_id")))
      erasedDocs.select("doc_id")
        .write.mode("overwrite").option("path", s"$base/tomb").saveAsTable(tombT)
      AtRestTables.faultPoint("erasetxt:tomb")
      postingsOf(erasedDocs)
        .groupBy("term").agg(count(lit(1)).as("ddf"))
        .write.mode("overwrite").option("path", s"$base/dfdec").saveAsTable(decT)
      AtRestTables.faultPoint("erasetxt:dfdec")
      spark.table(dlT)
        .join(broadcast(spark.table(tombT)), Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_docs"), sum("dl").cast("long").as("sum_dl"))
        .write.mode("overwrite").option("path", s"$base/dlstat").saveAsTable(statT)
      Seq(tombT, decT, statT)
    }
    (names(0), names(1), names(2))
  }

  /** The CO-BUCKETED tombstone-postings store — the q305 (cell, id)
    * layout applied to the text index (the r17 verdict's #7): the erased
    * cohort's (term, doc_id) rows, LOCATED from the persisted posting
    * store's own bytes (the routing the serve path trusts) and written
    * back in the SAME bucket geometry ([[PostingBuckets]] on term,
    * sorted (term, doc_id)). A corpus-proportional purge batch — too big
    * to broadcast — then audits or anti-joins the postings as a
    * CO-LOCATED sort-merge join with zero Exchange on either side:
    * hash(term) bucketing satisfies the (term, doc_id) join's clustering
    * requirement because the partitioning keys are a subset of the join
    * keys. PostingsAuditPlanSpec pins the shuffle-free plan. */
  private[queries] def erasedPostingsTable(spark: org.apache.spark.sql.SparkSession,
                                           dir: String): String =
    AtRestTables.get(spark, s"erasepost|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val t = s"graft_erase_post_$sfx"
      val (pT, _, _) = invertedIndexTables(spark, dir)
      val (tombT, _, _) = erasureTextTables(spark, dir)
      spark.table(pT)
        .join(broadcast(spark.table(tombT)), Seq("doc_id"), "left_semi")
        .select("term", "doc_id")
        .write.mode("overwrite").option("path", s"$base/post")
        .bucketBy(PostingBuckets, "term").sortBy("term", "doc_id")
        .saveAsTable(t)
      Seq(t)
    }.head

  /** The production-shape postings audit: cohort rows physically present
    * in the posting store, measured by the co-bucketed SMJ (merge-hinted
    * so the test-scale optimizer cannot fall back to broadcasting the
    * tombstone side — at production scale it could not anyway). Output is
    * hash-identical to the broadcast-semi measure it replaces. */
  private[graft] def cobucketedPostingsAudit(spark: org.apache.spark.sql.SparkSession,
                                             dir: String)
      : org.apache.spark.sql.DataFrame = {
    val (pT, _, _) = invertedIndexTables(spark, dir)
    val tp = erasedPostingsTable(spark, dir)
    spark.table(pT)
      .join(spark.table(tp).hint("merge"), Seq("term", "doc_id"), "left_semi")
      .agg(count(lit(1)).as("erased_rows"))
  }

  /** q308's COMPACTED index — the copy-on-write half of text erasure
    * (q304's tombstones are merge-on-read: correct immediately, but the
    * erased bytes still sit in the posting files, and GDPR ultimately
    * requires them GONE). The compaction rewrites the q148 layout minus
    * the tombstoned docs — postings anti-joined ONCE at rewrite time
    * into a fresh term-bucketed generation, the lexicon recounted from
    * the compacted bytes (stats from what will serve, the q141
    * discipline — and by the decrement theorem equal to df − ddf), the
    * doc-length table and stats likewise. After the swap the serve plan
    * carries NO tombstone or decrement tables (ErasureCompactionSpec
    * pins that, plus zero erased rows in the compacted bytes), and the
    * q161 (CoW) / q162 (MoR) pairing is complete at the index level:
    * q308/q304 must answer identically, which sharing q304's oracle
    * verbatim proves. */
  private def compactedIndexTables(spark: org.apache.spark.sql.SparkSession,
                                   dir: String): (String, String, String, String) = {
    val names = AtRestTables.get(spark, s"erasecmp|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val (pT, _, dlT) = invertedIndexTables(spark, dir)
      val (tombT, _, _) = erasureTextTables(spark, dir)
      val cpT = s"graft_cmp_post_$sfx"; val clT = s"graft_cmp_lex_$sfx"
      val cdT = s"graft_cmp_dl_$sfx"; val csT = s"graft_cmp_stat_$sfx"
      val tomb = broadcast(spark.table(tombT))
      spark.table(pT).join(tomb, Seq("doc_id"), "left_anti")
        .write.mode("overwrite").option("path", s"$base/post")
        .bucketBy(PostingBuckets, "term").sortBy("term", "doc_id")
        .saveAsTable(cpT)
      AtRestTables.faultPoint("erasecmp:post")
      spark.table(cpT).groupBy("term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").option("path", s"$base/lex").saveAsTable(clT)
      AtRestTables.faultPoint("erasecmp:lex")
      spark.table(dlT).join(tomb, Seq("doc_id"), "left_anti")
        .write.mode("overwrite").option("path", s"$base/dl").saveAsTable(cdT)
      AtRestTables.faultPoint("erasecmp:dl")
      spark.table(cdT)
        .agg(count(lit(1)).as("n_docs"), sum("dl").cast("long").as("sum_dl"))
        .write.mode("overwrite").option("path", s"$base/stat").saveAsTable(csT)
      Seq(cpT, clT, cdT, csT)
    }
    (names(0), names(1), names(2), names(3))
  }

  /** q261's POSITIONAL postings — (term, doc_id, pos), 1-based, the
    * occurrence-level sibling of the q148 (term, doc_id, tf) table. Same
    * tokenization, same term-bucketed layout; ~n_tokens rows instead of
    * ~distinct (term, doc) rows — the storage a search engine pays the
    * moment it promises phrase/proximity semantics. */
  private[queries] def positionalIndexTable(spark: org.apache.spark.sql.SparkSession,
                                   dir: String): String =
    AtRestTables.get(spark, s"invpos|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val posT = s"graft_inv_ppos_$sfx"
      val toks = toksCol
      spread(table(spark, dir, "documents"))
        .select(col("doc_id"), posexplode(toks).as(Seq("p0", "term")))
        .select(col("term"), col("doc_id"), (col("p0") + lit(1L)).as("pos"))
        .write.mode("overwrite").option("path", s"$base/pos")
        .bucketBy(PostingBuckets, "term").sortBy("term", "doc_id")
        .saveAsTable(posT)
      Seq(posT)
    }.head

  /** q212's bloom geometry: per-FILE token blooms of [[BloomBits]] bits,
    * [[BloomK]] md5-derived positions per token (TextHash.hash60 of
    * "token:j" — the SAME hash the q103 decontamination bloom family
    * uses), stored as (file, bit) rows. ONE definition feeds the manifest
    * build and the probe's driver-side needle bits. */
  private[graft] val BloomBits = 4096
  private[graft] val BloomK = 3

  /** q212's at-rest layout: documents range-clustered into [[BloomFiles]]
    * files + a per-file token-bloom manifest — the CONTENT half of the
    * file-skipping story (q141 skips by VALUE range, q150 by z-order box,
    * this by term membership: "which files can contain this token at
    * all"). The manifest is files × ≤BloomBits rows — KBs per thousands
    * of files — and blooms have no false negatives, so a probe that reads
    * only bloom-positive files provably loses nothing (the oracle replays
    * the needle over raw parquet). */
  private val BloomFiles = 8

  private[queries] def bloomDocsTables(spark: org.apache.spark.sql.SparkSession,
                              dir: String): (String, String) = {
    val names = AtRestTables.get(spark, s"docbloom|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val dT = s"graft_docs_bloomed_$sfx"; val mT = s"graft_docs_bloomman_$sfx"
      buildBloomLayout(spark, table(spark, dir, "documents"),
        s"$base/bloomed", dT, s"$base/bloomman", mT)
      Seq(dT, mT)
    }
    (names(0), names(1))
  }

  /** The bloom-clustered layout write, shared by the q212 at-rest build
    * and the q317 recluster-on-purge remediation (original range
    * clustering kept, manifest re-derived from the written bytes). */
  private def buildBloomLayout(spark: org.apache.spark.sql.SparkSession,
                               docs: org.apache.spark.sql.DataFrame,
                               dataPath: String, dT: String,
                               manPath: String, mT: String): Unit = {
    docs.repartitionByRange(BloomFiles, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").option("path", dataPath).saveAsTable(dT)
    val toks = toksCol
    // manifest derived from the bytes that will serve (the q141
    // discipline); hash60 = conv(md5 prefix) matches TextHash.hash60
    spark.read.parquet(dataPath)
      .select(input_file_name().as("file"), explode(toks).as("tok"))
      .select(col("file"), explode(array((0 until BloomK).map(j =>
        pmod(conv(substring(md5(concat_ws(":", col("tok"), lit(j))), 1, 15),
          16, 10).cast("long"), lit(BloomBits.toLong))): _*)).as("bit"))
      .distinct()
      .write.mode("overwrite").option("path", manPath).saveAsTable(mT)
  }

  /** Cross-engine log parity: `ln` differs between the JVM intrinsic and
    * DuckDB's libm by 1 ulp on ~2% of inputs (measured on this image), so
    * raw log output can flip a 6-digit rounding. The IDF — the only log in
    * these queries — is therefore quantized with pround IMMEDIATELY, and
    * everything downstream is exact IEEE arithmetic on the quantized
    * value: a flip now needs an idf within 1 ulp of a rounding boundary,
    * ~1e-10 per DISTINCT TERM rather than per score. */

  /** The q36 quality-signal ingredient columns over (toks, text) — ONE
    * Spark definition shared by [[qualityFrame]] (q36/q255) and
    * [[pipelineFeatures]] (q294/q295), mirroring [[qualityIngredientsSql]]
    * so the arithmetic cannot drift between the per-doc report and the
    * composed pipelines. */
  private def qualityIngredientCols(toks: org.apache.spark.sql.Column,
                                    text: org.apache.spark.sql.Column)
      : Seq[org.apache.spark.sql.Column] = Seq(
    size(toks).as("n_tokens"),
    size(array_distinct(toks)).as("n_types"),
    length(regexp_replace(lower(text), "[a-z0-9\\s]", "")).as("n_punct"),
    length(text).as("n_chars"),
    size(filter(toks,
      t => Stopwords.map(w => t === w).reduce(_ || _))).as("n_stop"))

  /** The q36 composite quality over the ingredient columns — ONE Spark
    * definition (twin of [[qualitySql]]). */
  private def qualityCol: org.apache.spark.sql.Column = pround(
    col("n_types").cast("double") / col("n_tokens") * 0.5 +
      (lit(1.0) - col("n_punct").cast("double") / col("n_chars")) * 0.3 +
      (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) * 0.2, 6)

  /** The q35 per-language marker-count columns — ONE Spark definition
    * (twin of [[langScoresSql]]), shared by q35 and the pipelines. */
  private def langScoreCols(toks: org.apache.spark.sql.Column)
      : Seq[org.apache.spark.sql.Column] = Profiles.map { case (lang, words) =>
    size(filter(toks, t => words.map(w => t === w).reduce(_ || _))).as(s"s_$lang")
  }

  /** The q35 argmax CASE over the score columns — ONE Spark definition
    * (twin of [[langCaseSql]]; foldRight gives de→en→es→fr priority like
    * the SQL CASE chain). */
  private def predLangCol: org.apache.spark.sql.Column = {
    val g = greatest(Profiles.map(p => col(s"s_${p._1}")): _*)
    val pred = Profiles.foldRight(lit("und")) { case ((lang, _), acc) =>
      when(col(s"s_$lang") === g, lang).otherwise(acc)
    }
    when(g === 0, "und").otherwise(pred)
  }

  /** The q36 per-doc quality frame WITH lang — one scan computes every
    * signal, so q36 (per-doc report) and q255 (mix table) share the
    * arithmetic without a doc-sized join to recover the language. */
  private def qualityFrame(spark: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame = {
    val toks = toksCol
    val d = spread(table(spark, dir, "documents"))
      .select(col("doc_id"), col("lang"), col("text"), toks.as("toks"))
      .select(Seq(col("doc_id"), col("lang")) ++
        qualityIngredientCols(col("toks"), col("text")): _*)
    d.select(col("doc_id"), col("lang"), col("n_tokens"),
      pround(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
      pround(col("n_punct").cast("double") / col("n_chars"), 6).as("punct_ratio"),
      pround(col("n_stop").cast("double") / col("n_tokens"), 6).as("stop_ratio"),
      qualityCol.as("quality"))
  }

  val defs: Map[String, QFn] = Map(
    // TRAINING-MIX PLANNER — the data-mixture table a pre-training run
    // reads: per (declared lang × quality band), document and token
    // counts plus each cell's share of the total token budget. Bands cut
    // at FIXED absolute thresholds (0.25/0.5/0.75 on the q36 composite,
    // exactly-representable doubles) — a map-side CASE, deliberately NOT
    // rank quartiles: a global corpus ranking would sort the doc frame
    // through one task at 100 TB, while fixed cuts keep the whole query
    // one combinable aggregation + a broadcast 1-row total. The quality
    // arithmetic is q36's, shared via [[qualityFrame]] (which carries
    // lang so no doc-sized join-back is ever needed).
    "q255_training_mix" -> ((spark, dir) => {
      val qf = qualityFrame(spark, dir)
        .select(col("lang"), col("n_tokens"), col("quality"))
      val band = when(col("quality") < 0.25, "q1")
        .when(col("quality") < 0.5, "q2")
        .when(col("quality") < 0.75, "q3")
        .otherwise("q4")
      val g = qf.withColumn("band", band)
        .groupBy("lang", "band")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("n_tokens"))
      val tot = g.agg(sum("n_tokens").as("total_tokens"))
      g.crossJoin(broadcast(tot))
        .select(col("lang"), col("band"), col("n_docs"), col("n_tokens"),
          pround(col("n_tokens").cast("double") /
            col("total_tokens").cast("double"), 6).as("token_share"))
    }),

    // language ID: argmax of marker-token counts (ties by profile order);
    // scores/argmax via the shared langScoreCols/predLangCol definitions
    "q35_lang_id" -> ((spark, dir) => {
      val toks = toksCol
      spread(table(spark, dir, "documents"))
        .select(col("doc_id"), toks.as("toks"))
        .select(Seq(col("doc_id")) ++ langScoreCols(col("toks")): _*)
        .select(col("doc_id"), predLangCol.as("pred_lang"))
    }),

    // quality score: token stats + punctuation + stopword density
    "q36_quality_score" -> ((spark, dir) =>
      qualityFrame(spark, dir)
        .select("doc_id", "n_tokens", "ttr", "punct_ratio", "stop_ratio", "quality")),

    // token counting: whitespace tokens + BPE-ish regex pieces
    "q37_token_count" -> ((spark, dir) =>
      spread(table(spark, dir, "documents")).select(col("doc_id"),
        size(filter(split(col("text"), "\\s+"), t => t =!= "")).as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("subword_tokens"))),

    // chunking: split documents into fixed-size token windows with overlap
    // (stride = size - overlap), the standard pre-training segmentation.
    // Chunk boundaries are pure arithmetic over token indices, so the
    // explode parallelizes per document with no shuffle.
    "q39_chunking" -> ((spark, dir) => {
      val size = 20; val stride = 15
      val toks = toksCol
      spread(table(spark, dir, "documents"))
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(expr(s"sequence(0, greatest(0, cast(ceil((size(toks) - $size) / $stride.0) as int)))")).as("ci"))
        .select(col("doc_id"), col("ci").as("chunk_idx"),
          expr(s"array_join(slice(toks, ci * $stride + 1, $size), ' ')").as("chunk"),
          expr(s"size(slice(toks, ci * $stride + 1, $size))").as("chunk_tokens"))
        .where(col("chunk_tokens") > 0)
    }),

    // deterministic hash split: stable train/val/test assignment from the
    // doc id (survives reshuffles and re-runs, unlike random sampling)
    "q47_hash_split" -> ((spark, dir) => {
      val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100).cast("int")
      spread(table(spark, dir, "documents"))
        .select(col("doc_id"), bucket.as("bucket"))
        .select(col("doc_id"),
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test").as("split"))
    }),

    // deterministic stratified sampling: downsample the dominant stratum
    // (keep 50% of 'en' docs, all others) by hash bucket — corpus
    // rebalancing without an RNG, so it is reproducible across runs,
    // engines and task retries, and pure map-side (no shuffle, no state).
    // The hash is salted with the purpose ("sample:") so the kept set is
    // independent of the q47 train/val/test assignment.
    "q58_stratified_sample" -> ((spark, dir) => {
      val bucket = (conv(substring(md5(concat(lit("sample:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long") % 100).cast("int")
      spread(table(spark, dir, "documents"))
        .select(col("doc_id"), col("lang"), bucket.as("b"))
        .where(col("lang") =!= "en" || col("b") < 50)
        .select(col("doc_id"), col("lang"))
    }),

    // deterministic weighted sampling WITHOUT replacement (Efraimidis-
    // Spirakis A-ES): each doc draws u from its md5 (uniform in (0,1],
    // retry-stable like q47/q58) and ranks by key = ln(u)/w with weight
    // w = token count + 1 — the top-k under this key IS a weighted sample
    // without replacement, so a quality-weighted corpus subsample falls
    // out of ONE map-side key computation + TakeOrdered (per-partition
    // top-k, merge of k·partitions rows — no global sort, no sequential
    // reservoir). ln(u)^(1/w) monotone-transforms to ln(u)/w, keeping the
    // arithmetic in the ln-parity family the oracle already matches;
    // rounded-key ties break by doc_id on both engines.
    // α-temperature language rebalancing — the multilingual data-mixing
    // operator (the XLM-R/mBERT exponentiated-smoothing family): per
    // language, the corpus token share p_l, the resampled mixture weight
    // q_l ∝ p_l^α renormalized, and the implied upsampling factor
    // q_l / p_l that a sampler would apply. α is FIXED at 0.5 so the
    // power is computed via sqrt — IEEE-correctly-rounded on both
    // engines, where a libm pow could diverge in the last ulp and break
    // the bit-exact oracle contract (the same reasoning that bans engine
    // round()). Scale shape: one combinable (lang) count/sum aggregation
    // over the corpus; everything after operates on the ≤|languages|-row
    // dictionary (bounded-domain windows, the q05/q86/q92 pattern). The
    // renormalization sum uses the xsum discipline so it is
    // order-independent under the single-partition window.
    "q106_lang_mixture" -> ((spark, dir) => {
      val toksN = size(filter(split(col("text"), "\\s+"), t => t =!= ""))
      val tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      spread(table(spark, dir, "documents"))
        .select(col("lang"), toksN.cast("long").as("nt"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
        .withColumn("total", sum("n_tokens").over(tot))
        .withColumn("p", pround(col("n_tokens").cast("double") / col("total"), 6))
        .withColumn("qr", pround(sqrt(col("p")), 6))
        .withColumn("qsum",
          sum(floor(col("qr") * lit(1000000.0) + lit(0.5))).over(tot) / lit(1000000.0))
        .withColumn("q", pround(col("qr") / col("qsum"), 6))
        .select(col("lang"), col("n_docs"), col("n_tokens"), col("p"), col("q"),
          pround(col("q") / col("p"), 6).as("upsample"))
    }),

    "q97_weighted_sample" -> ((spark, dir) => {
      val h = conv(substring(md5(concat(lit("wsamp:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long")
      val u = (h + lit(1L)).cast("double") / lit(math.pow(2, 60))
      val toks = toksCol
      spread(table(spark, dir, "documents"))
        .select(col("doc_id"), (size(toks) + 1).cast("long").as("w"), u.as("u"))
        .select(col("doc_id"), col("w"),
          pround(log(col("u")) / col("w").cast("double"), 6).as("k"))
        .orderBy(desc("k"), col("doc_id"))
        .limit(20)
    }),

    // end-to-end training-data prep: quality floor -> stratified language
    // rebalance -> exact-dedup survivor keep -> per-language corpus stats.
    // The operators above composed the way a real prep job chains them; the
    // quality/sample stages are pure map-side, so the first shuffle is the
    // dedup groupBy — filters run BEFORE the expensive stage, the order
    // that matters at 100 TB.
    "q60_pipeline_e2e" -> ((spark, dir) => {
      val toks = toksCol
      val d = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), col("lang"), col("text"), toks.as("toks"))
        .select(col("doc_id"), col("lang"), col("text"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_types"),
          length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", "")).as("n_punct"),
          length(col("text")).as("n_chars"),
          size(filter(col("toks"),
            t => Stopwords.map(w => t === w).reduce(_ || _))).as("n_stop"))
        .withColumn("quality", pround(
          col("n_types").cast("double") / col("n_tokens") * 0.5 +
            (lit(1.0) - col("n_punct").cast("double") / col("n_chars")) * 0.3 +
            (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) * 0.2, 6))
      val bucket = (conv(substring(md5(concat(lit("sample:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long") % 100).cast("int")
      val kept = d.where(col("quality") >= QualityCut)
        .where(col("lang") =!= "en" || bucket < 50)
      val norm = trim(regexp_replace(regexp_replace(
        lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      val hashed = kept.withColumn("h", md5(norm))
      val canon = hashed.groupBy("h").agg(min("doc_id").as("canonical_id"))
      hashed.join(canon, "h").where(col("doc_id") === col("canonical_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tokens").cast("long")).as("sum_tokens"),
             pround(xsum(col("quality"), 6) / count(lit(1)), 6).as("avg_quality"))
    }),

    // sequence packing (concatenate-and-chunk): assign every document to
    // the training chunk its first token lands in, after concatenating
    // the corpus in doc_id order under a fixed token budget per chunk —
    // the batch-construction step of an LLM training pipeline. Documents
    // are sharded by a salted hash FIRST (each shard packs
    // independently), so the prefix sum is a per-shard window, never a
    // global single-task sort — exactly how a 1000-worker packer shards
    // the same job. Integer arithmetic end to end.
    "q69_sequence_packing" -> ((spark, dir) => {
      val budget = 512L
      val nShards = 8
      val toks = toksCol
      val shard = (conv(substring(md5(concat(lit("pack:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long") % nShards).cast("int")
      val d = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), shard.as("shard"), size(toks).cast("long").as("n_tokens"))
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      d.withColumn("cum", sum("n_tokens").over(w))
        // `div` is Spark's LONG integer division (see CLAUDE.md note) —
        // matches DuckDB's `//` on BIGINT with no double rounding anywhere
        .withColumn("bin", expr(s"(cum - n_tokens) div $budget"))
        .groupBy("shard", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
    }),

    // corpus vocabulary stats: top-50 tokens by frequency (map-side
    // combinable token counts; ties broken lexicographically)
    "q48_vocab" -> ((spark, dir) => {
      val toks = toksCol
      spread(table(spark, dir, "documents"))
        .select(explode(toks).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), col("token"))
        .limit(50)
    }),

    // TF-IDF: top-5 terms per document by smoothed tf-idf. df and the doc
    // count are map-side-combinable aggregates; the idf is quantized at 6
    // digits before the tf product (see the log-parity note above). At
    // scale: one shuffle for tf, one for df, one shuffle equi-join on
    // token to combine them (df is a VOCABULARY-sized dictionary — it
    // grows with the corpus, so it must never be broadcast-hinted; AQE
    // still broadcasts it while genuinely small), one per-doc top-k
    // window.
    "q50_tfidf" -> ((spark, dir) => {
      val toks = toksCol
      val pairs = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), explode(toks).as("token"))
      val tf = pairs.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = pairs.distinct().groupBy("token").agg(count(lit(1)).as("df"))
      val nd = table(spark, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val idfR = pround(
        log((lit(1.0) + col("n_docs")) / (lit(1.0) + col("df"))) + lit(1.0), 6)
      val scored = tf.join(dfreq, Seq("token")).crossJoin(broadcast(nd))
        .select(col("doc_id"), col("token"),
          pround(col("tf").cast("double") * idfR, 6).as("tfidf"))
      val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), col("token"))
      scored.withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
        .select(col("doc_id"), col("token"), col("tfidf"))
    }),

    // BM25 retrieval: query = the corpus's top-2 tokens (deterministic,
    // data-derived), score = Σ_t idf_t · tf-saturation with document-length
    // normalization, top-20 docs. Per-term scores are quantized, summed
    // with the order-independent scaled-integer sum, and ranked — the
    // composition a search pipeline runs (vocab stats → scoring → top-k).
    "q51_bm25" -> ((spark, dir) => {
      val toks = toksCol
      val docs = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), toks.as("toks"))
      val dl = docs.select(col("doc_id"), size(col("toks")).as("dl"))
      val pairs = docs.select(col("doc_id"), explode(col("toks")).as("token"))
      val tf = pairs.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = pairs.distinct().groupBy("token").agg(count(lit(1)).as("df"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      val qterms = pairs.groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), col("token")).limit(QueryTerms).select("token")
      val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
      val idfR = pround(log(
        ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0)), 6)
      val tnorm = (col("tf").cast("double") * lit(K1p1)) /
        (col("tf").cast("double") +
          lit(K1) * (lit(OneMinusB) + lit(B) * (col("dl").cast("double") / avgdl)))
      // cut the vocabulary-sized df dictionary down to the |q| query terms
      // FIRST — that 2-row frame is the broadcastable side (broadcasting
      // dfreq itself would ship the whole vocabulary to every executor)
      val qdf = dfreq.join(broadcast(qterms), Seq("token"))
      tf.join(broadcast(qdf), Seq("token"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), pround(idfR * tnorm, 6).as("s"))
        .groupBy("doc_id").agg(xsum(col("s"), 6).as("bm25"))
        .orderBy(desc("bm25"), col("doc_id")).limit(TopDocs)
    }),

    // intra-document repetition: the share of POSITIONAL 3-gram slots a
    // document spends repeating itself (1 - distinct/total), the
    // boilerplate-within-doc quality gate. Pure per-row array arithmetic —
    // no shuffle, no state, embarrassingly parallel at any scale. Short
    // docs (< 3 tokens) degrade to one whole-doc gram like TextHash
    // .shingles, so rep_frac = 0 rather than a divide-by-zero.
    "q67_intradoc_repetition" -> ((spark, dir) => {
      val toks = toksCol
      spread(table(spark, dir, "documents"))
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"),
          when(size(col("toks")) < 3, array(array_join(col("toks"), " ")))
            .otherwise(expr(
              "transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"))
            .as("grams"))
        .select(col("doc_id"),
          size(col("grams")).as("n_grams"),
          size(array_distinct(col("grams"))).as("n_distinct"))
        .withColumn("rep_frac",
          pround(lit(1.0) - col("n_distinct").cast("double") / col("n_grams"), 6))
    }),

    // unigram language-model scoring: train token probabilities from the
    // corpus itself (freq/N), score each document by its mean token log-
    // probability — the perplexity-filter shape of model-based quality
    // gating (low avg_logprob = unusual token mix). The log is quantized
    // per DISTINCT TOKEN immediately (same parity discipline as the
    // TF-IDF idf); everything downstream is exact IEEE arithmetic. The
    // vocabulary dictionary joins unhinted (it grows with the corpus);
    // the 1-row total is the broadcast side.
    "q76_unigram_logprob" -> ((spark, dir) => {
      val toks = toksCol
      val pairs = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), explode(toks).as("token"))
      val freq = pairs.groupBy("token").agg(count(lit(1)).as("freq"))
      val tot = pairs.agg(count(lit(1)).as("n_total"))
      val logp = pround(log(col("freq").cast("double") / col("n_total")), 6)
      pairs.join(freq, Seq("token"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), logp.as("lp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
             pround(xsum(col("lp"), 6) / count(lit(1)), 6).as("avg_logprob"))
    }),

    // per-document token-frequency profile: hapax share (tokens seen
    // exactly once) and top-token share (burstiness) — repetition quality
    // signals q36's list-side TTR can't see. Deliberately the DISTRIBUTED
    // formulation: explode + two map-side-combinable aggregation levels on
    // (doc_id, token), so the per-doc frequency table never materializes
    // as a single in-memory map — the shape that survives documents wider
    // than one task's heap.
    "q85_token_burstiness" -> ((spark, dir) => {
      val toks = toksCol
      val tf = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), explode(toks).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
      tf.groupBy("doc_id")
        .agg(sum("cnt").as("n_tokens"),
             count(lit(1)).as("n_types"),
             sum(when(col("cnt") === 1, lit(1L)).otherwise(lit(0L))).as("n_hapax"),
             max("cnt").as("top_cnt"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
          pround(col("n_hapax").cast("double") / col("n_types"), 6).as("hapax_frac"),
          pround(col("top_cnt").cast("double") / col("n_tokens"), 6).as("top_tok_frac"))
    }),

    // distribution-based quality gate: keep documents whose n_chars falls
    // inside the corpus's exact [p10, p90] rank band. The thresholds come
    // from a HISTOGRAM cumulative sum, not a global sort: the heavy table
    // does one map-side-combinable groupBy(n_chars); the single-partition
    // window then runs over |distinct n_chars| rows (a bounded value
    // domain), never over documents — one small shuffle + one broadcast at
    // any corpus size. Rank arithmetic is q72's exact floor(q*(n-1))+1
    // form, no interpolation.
    "q86_length_gate" -> ((spark, dir) => {
      val docs = table(spark, dir, "documents").select(col("doc_id"), col("n_chars"))
      val hist = docs.groupBy("n_chars").agg(count(lit(1)).as("cnt"))
      val tot = docs.agg(count(lit(1)).as("n"))
      val cum = hist
        .withColumn("cum", sum("cnt").over(Window.orderBy("n_chars")))
        .crossJoin(broadcast(tot))
      val thr = cum.agg(
        min(when(col("cum") >= floor(lit(0.1) * (col("n") - 1)) + 1, col("n_chars"))).as("lo"),
        min(when(col("cum") >= floor(lit(0.9) * (col("n") - 1)) + 1, col("n_chars"))).as("hi"))
      docs.crossJoin(broadcast(thr))
        .where(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
        .select(col("doc_id"), col("n_chars"), col("lo"), col("hi"))
    }),

    // bigram back-off LM scoring: train bigram/unigram counts on the q47
    // train split, score each HELD-OUT doc by its mean bigram
    // log-probability with stupid back-off (Brants et al.: seen bigram ->
    // ln(bc/uc_v); unseen -> ln(0.4 * (uc_w + 1) / (T + V)), add-one on
    // the unigram fallback so unseen words stay finite) — the perplexity
    // quality filter q76's unigram model can't express (it has no notion
    // of word ORDER). Same log-parity discipline: every ln is quantized
    // per DISTINCT count combination immediately, everything downstream
    // is exact integer-scaled arithmetic. Scale shape: two combinable
    // count aggregates over the train split, then the test bigrams join
    // the VOCABULARY-sized dictionaries unhinted (AQE broadcasts while
    // small); the 1-row (T, V) frame is the broadcast side. Docs with
    // < 2 tokens have no bigram slots and emit no row (documented).
    "q88_bigram_logprob" -> ((spark, dir) => {
      val alpha = 0.4
      val toks = toksCol
      val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100).cast("int")
      val d = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), bucket.as("b"), toks.as("toks"))
      // the exploded bigram/unigram streams each feed two consumers
      // (train counts + test probe / counts + vocab) — RECOMPUTED, not
      // cached: the explode is cheap map-side codegen'd work, and a
      // controlled A/B (r12, min-of-3 at sf0.1, Bench's cold-per-query
      // discipline) put the cache-materialized variant at 2.9s vs 1.9s
      // recomputed — the memory-store write of the full bigram stream
      // costs more than the second scan+explode it saves
      val bigrams = d.where(size(col("toks")) >= 2)
        .select(col("doc_id"), col("b"), explode(expr(
          "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS v, toks[i] AS w))")).as("g"))
        .select(col("doc_id"), col("b"), col("g.v").as("v"), col("g.w").as("w"))
      val unis = d.select(col("b"), explode(col("toks")).as("t"))
      val trainU = unis.where(col("b") < 80)
      val bc = bigrams.where(col("b") < 80)
        .groupBy("v", "w").agg(count(lit(1)).as("bc"))
      val uc = trainU.groupBy("t").agg(count(lit(1)).as("uc"))
      val tv = trainU.agg(count(lit(1)).as("t_total"),
                          countDistinct(col("t")).as("vocab"))
      val test = bigrams.where(col("b") >= 90).select("doc_id", "v", "w")
      val seenLp = pround(log(col("bc").cast("double") / col("ucv")), 6)
      val backoffLp = pround(log(
        lit(alpha) * (coalesce(col("ucw"), lit(0L)).cast("double") + lit(1.0)) /
          (col("t_total") + col("vocab")).cast("double")), 6)
      test
        .join(bc, Seq("v", "w"), "left")
        .join(uc.select(col("t").as("v"), col("uc").as("ucv")), Seq("v"), "left")
        .join(uc.select(col("t").as("w"), col("uc").as("ucw")), Seq("w"), "left")
        .crossJoin(broadcast(tv))
        .select(col("doc_id"),
          when(col("bc").isNotNull, seenLp).otherwise(backoffLp).as("lp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
             pround(xsum(col("lp"), 6) / count(lit(1)), 6).as("avg_logprob"))
    }),

    // q88 one order up: trigram stupid-backoff LM scoring (Brants-style:
    // trigram MLE if the trigram was seen in train, else alpha * bigram
    // MLE, else alpha^2 * add-1 unigram floor — the standard web-scale LM
    // that skips normalization so every level is a pure count ratio).
    // Same quantize-early discipline as q88: each trigram's log rounds to
    // 6 decimals BEFORE the per-doc xsum average, so parallel partial
    // sums and DuckDB's sequential sum agree bit-for-bit. Scale shape:
    // three map-side-combinable train-split count aggregates (trigram,
    // bigram, unigram); the test trigrams probe all three dictionaries
    // with UNHINTED left joins (vocabulary-sized frames — AQE broadcasts
    // while genuinely small) plus the 1-row (t_total, vocab) broadcast.
    "q93_trigram_logprob" -> ((spark, dir) => {
      val alpha = 0.4
      val toks = toksCol
      val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100).cast("int")
      val d = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), bucket.as("b"), toks.as("toks"))
      // two consumers (train counts + test probe) — recomputed, not
      // cached: same r12 A/B verdict as q88's bigram stream (the
      // materialization write costs more than the repeated explode)
      val trigrams = d.where(size(col("toks")) >= 3)
        .select(col("doc_id"), col("b"), explode(expr(
          "transform(sequence(1, size(toks) - 2), " +
            "i -> struct(toks[i-1] AS v, toks[i] AS w, toks[i+1] AS x))")).as("g"))
        .select(col("doc_id"), col("b"), col("g.v").as("v"), col("g.w").as("w"), col("g.x").as("x"))
      val bigrams = d.where(size(col("toks")) >= 2)
        .select(col("b"), explode(expr(
          "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS v, toks[i] AS w))")).as("g"))
        .select(col("b"), col("g.v").as("v"), col("g.w").as("w"))
      val trainU =
        d.select(col("b"), explode(col("toks")).as("t")).where(col("b") < 80)
      val tc = trigrams.where(col("b") < 80)
        .groupBy("v", "w", "x").agg(count(lit(1)).as("tc"))
      val bc = bigrams.where(col("b") < 80)
        .groupBy("v", "w").agg(count(lit(1)).as("bc"))
      val uc = trainU.groupBy("t").agg(count(lit(1)).as("uc"))
      val tv = trainU.agg(count(lit(1)).as("t_total"),
                          countDistinct(col("t")).as("vocab"))
      val test = trigrams.where(col("b") >= 90).select("doc_id", "v", "w", "x")
      // a seen trigram implies its (v,w) context bigram is seen, and a
      // seen (w,x) back-off bigram implies unigram w is seen — the
      // denominators are never null on the branch that reads them
      val triLp = pround(log(col("tc").cast("double") / col("bvw")), 6)
      val biLp = pround(log((lit(alpha) * col("bwx").cast("double")) / col("ucw")), 6)
      val uniLp = pround(log(
        (lit(alpha) * lit(alpha) * (coalesce(col("ucx"), lit(0L)).cast("double") + lit(1.0))) /
          (col("t_total") + col("vocab")).cast("double")), 6)
      test
        .join(tc, Seq("v", "w", "x"), "left")
        .join(bc.select(col("v"), col("w"), col("bc").as("bvw")), Seq("v", "w"), "left")
        .join(bc.select(col("v").as("w"), col("w").as("x"), col("bc").as("bwx")),
          Seq("w", "x"), "left")
        .join(uc.select(col("t").as("w"), col("uc").as("ucw")), Seq("w"), "left")
        .join(uc.select(col("t").as("x"), col("uc").as("ucx")), Seq("x"), "left")
        .crossJoin(broadcast(tv))
        .select(col("doc_id"),
          when(col("tc").isNotNull, triLp)
            .when(col("bwx").isNotNull, biLp)
            .otherwise(uniLp).as("lp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_trigrams"),
             pround(xsum(col("lp"), 6) / count(lit(1)), 6).as("avg_logprob"))
    }),

    // BPE pair-merge training step (one iteration of byte-pair-encoding
    // vocabulary learning): count adjacent character pairs across the
    // corpus weighted by word frequency, emit the top-20 merge
    // candidates. The scale discipline is the two-level shape: the
    // corpus collapses to the VOCABULARY first (one combinable
    // word-count agg), then pair expansion runs over distinct words
    // only — at 100 TB the corpus pass is a shuffle on vocab-bounded
    // keys and the pair agg is over a ≤(36²+ε) bounded domain. Words
    // come from the alnum-normalized text (TextSql.norm's Spark twin),
    // so substr is ASCII-safe on both engines.
    "q114_bpe_merge" -> ((spark, dir) => {
      val norm = trim(regexp_replace(regexp_replace(
        lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      val words = spread(table(spark, dir, "documents"))
        .select(explode(filter(split(norm, " "), t => t =!= "")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("wf"))
        .where(length(col("word")) >= 2)
      words
        .select(col("wf"), explode(transform(
          sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
        .groupBy("pair").agg(sum(col("wf")).as("cnt"))
        // top-k FIRST (TakeOrderedAndProject, distributed) so the rank
        // window runs on ≤20 rows, never the full pair domain
        .orderBy(desc("cnt"), col("pair")).limit(20)
        .withColumn("rk", row_number().over(Window.orderBy(desc("cnt"), col("pair"))))
        .select(col("rk").cast("int").as("rk"), col("pair"), col("cnt"))
    }),

    // blocklist scrub — the PII/badwords redaction shape (C4's badwords
    // filter, a PII scrubber's replace pass): every token is checked
    // against an exact-term dictionary AND a regex rule, matches are
    // replaced by the <redacted> sentinel, and the doc keeps a
    // fingerprint of the REDACTED text so the oracle verifies the
    // actual replacement, not just the counts. (The synthetic corpus
    // contains no emails/digits, so the dictionary stands in for the
    // PII pattern list; the machinery — per-token rule cascade, replace,
    // re-join — is the real operator.) Pure map-side codegen string
    // ops: no shuffle, no UDF; at 100 TB this is a free rider on the
    // first corpus scan. Term rule wins over the regex rule; both
    // constants are embedded into the oracle SQL from [[ScrubTerms]] /
    // [[ScrubRegex]].
    "q115_blocklist_scrub" -> ((spark, dir) => {
      val toks = toksCol
      val red = transform(col("toks"), t =>
        when(t.isInCollection(ScrubTerms), lit("<redacted>"))
          .when(t.rlike(ScrubRegex), lit("<redacted>"))
          .otherwise(t))
      spread(table(spark, dir, "documents"))
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(filter(col("toks"), t => t.isInCollection(ScrubTerms))).cast("long").as("n_term_hits"),
          size(filter(col("toks"), t => !t.isInCollection(ScrubTerms) && t.rlike(ScrubRegex)))
            .cast("long").as("n_regex_hits"),
          md5(array_join(red, " ")).as("red_fp"))
    }),

    // per-document token entropy — the lexical-diversity quality signal
    // (gibberish and keyword-stuffed docs sit at the entropy extremes;
    // this is the third leg next to q67's repetition share and q85's
    // burstiness). H = −Σ (tf/n)·ln(tf/n), computed under the engine's
    // log-parity discipline: ln is quantized IMMEDIATELY per distinct
    // (doc, token) — everything downstream is exact IEEE products and an
    // xsum (order-independent scaled-integer sum), so the 1-ulp libm/JVM
    // ln divergence can only matter within 1e-10 of a rounding boundary
    // per distinct term. Two combinable aggs on (doc, token) and (doc) —
    // scan-shaped at any corpus size.
    "q124_token_entropy" -> ((spark, dir) => {
      val toks = toksCol
      val tf = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), explode(toks).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      val n = tf.groupBy("doc_id").agg(sum("tf").as("n"), count(lit(1)).as("n_types"))
      tf.join(n, "doc_id")
        .withColumn("c", col("tf").cast("double") *
          pround(log(col("tf").cast("double") / col("n")), 6))
        .groupBy("doc_id", "n", "n_types")
        .agg(pround(-xsum(col("c"), 6) / col("n"), 6).as("entropy_nats"))
        .select(col("doc_id"), col("n").as("n_tokens"), col("n_types"), col("entropy_nats"))
    }),

    // prep pipeline v2 — this round's operators composed in the order a
    // production pass runs them: SCRUB first (q115's rule cascade, so
    // dedup can't be defeated by redactable tokens), entropy GATE
    // (q124's signal as an admission filter), exact DEDUP keyed on the
    // md5 of the REDACTED token stream (survivor = min doc_id), then the
    // per-lang corpus report (docs, post-scrub clean tokens, avg
    // entropy). Everything reuses the proven single-operator
    // formulations; the value of the row is proving they COMPOSE
    // bit-exactly across both engines. Plan shape: two combinable aggs
    // for entropy, map-side scrub, one hash-dedup shuffle, one bounded
    // lang agg — q60's scale discipline with the new signals in line.
    "q125_prep_pipeline_v2" -> ((spark, dir) => {
      val toks = toksCol
      val d0 = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), col("lang"), toks.as("toks"))
      val tf = d0.select(col("doc_id"), explode(col("toks")).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      val n = tf.groupBy("doc_id").agg(sum("tf").as("n"))
      val ent = tf.join(n, "doc_id")
        .withColumn("c", col("tf").cast("double") *
          pround(log(col("tf").cast("double") / col("n")), 6))
        .groupBy("doc_id", "n")
        .agg(pround(-xsum(col("c"), 6) / col("n"), 6).as("ent"))
        .select("doc_id", "ent")
      val red = transform(col("toks"), t =>
        when(t.isInCollection(ScrubTerms), lit("<redacted>"))
          .when(t.rlike(ScrubRegex), lit("<redacted>"))
          .otherwise(t))
      val scrubbed = d0.withColumn("red", red)
        .withColumn("clean_tokens",
          size(filter(col("red"), t => t =!= "<redacted>")).cast("long"))
        .withColumn("h", md5(array_join(col("red"), " ")))
      val gated = scrubbed.join(ent, "doc_id").where(col("ent") >= EntropyFloor)
      val canon = gated.groupBy("h").agg(min("doc_id").as("canonical_id"))
      gated.join(canon, "h").where(col("doc_id") === col("canonical_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("clean_tokens").as("sum_clean_tokens"),
          pround(xsum(col("ent"), 6) / count(lit(1)), 6).as("avg_entropy"))
    }),

    // fingerprints: exact md5 + min-shingle-hash (1-permutation minhash,
    // native codegen expression graft.functions.MinShingleExpr)
    "q38_fingerprint" -> ((spark, dir) => {
      val norm = trim(regexp_replace(regexp_replace(
        lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      spread(table(spark, dir, "documents")).select(col("doc_id"),
        md5(norm).as("fp"),
        graft.functions.TextFunctions.min_shingle(col("text"), 3).as("min_shingle"))
    }),

    // INVERTED-INDEX SEARCH — the text-retrieval serving shape beside the
    // vector index (q127/q128): postings live AT REST term-bucketed, the
    // lexicon supplies the query plan, and a conjunctive multi-term query
    // touches only the buckets its terms hash to. The query here is the
    // 3 RAREST corpus terms (ORDER BY df, term — deterministic, replayed
    // by the oracle), the selective query a search engine is optimized
    // for: AND-semantics via per-doc matched-term counting over ≤
    // Σ df(query terms) posting rows — work proportional to the RESULT
    // candidates, never the corpus. The bounded driver-side collect is
    // the deliberate q128/q141 literal-plan idiom (≤ SearchTerms
    // strings); the hit set broadcasts into the document-store fetch
    // (the q98 RAG shape). InvertedIndexSpec pins bucket pruning
    // (SelectedBucketsCount < PostingBuckets) and probe == direct-scan
    // equality; the oracle replays tokenize → postings → rarest-3 →
    // conjunction from raw parquet, proving the at-rest index lossless
    // and the conjunction exact.
    "q148_inverted_search" -> ((spark0, dir) => {
      // build through the PARENT session (the at-rest registry is keyed
      // by session object; the tables live in the shared catalog), probe
      // through a conf-isolated child: Spark's autoBucketedScan
      // heuristic only values shuffle avoidance — it disables the
      // bucketed read for a scan whose benefit is bucket PRUNING, which
      // is the entire point of a term-bucketed postings layout (q139/
      // q142's child-session idiom for confs that default wrong at test
      // shape).
      val (pT, tT, _) = invertedIndexTables(spark0, dir)
      val spark = spark0.newSession()
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val qterms = spark.table(tT)
        .orderBy(col("df").asc, col("term").asc).limit(SearchTerms)
        .select("term").collect().map(_.getString(0))
      val post = spark.table(pT)
      val matched =
        if (qterms.isEmpty) post.limit(0)
        else post.where(col("term").isin(qterms.toIndexedSeq: _*))
      val hits = matched
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"), sum("tf").as("sum_tf"))
        .where(col("n_terms") === qterms.length)
        .select(col("doc_id"), col("sum_tf"))
      table(spark, dir, "documents")
        .join(broadcast(hits), "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("sum_tf"))
    }),

    // PHRASE SEARCH — the positional half of the retrieval story: q148's
    // conjunction answers "docs containing all terms", this answers
    // "docs containing them ADJACENT", which term-frequency postings
    // cannot express. The phrase is the two most COMMON lexicon terms
    // ((df DESC, term) — deterministic, replayed by the oracle), i.e.
    // the WORST-case phrase: the adjacency join costs |postings(w1)| +
    // |postings(w2)| rows — Σ df of the query terms, never the corpus —
    // shuffled once on doc_id; occurrences count per doc, hit payloads
    // fetched via the broadcast q98 RAG shape. The bounded driver-side
    // collect is the q148/q128 literal-plan idiom (2 strings).
    "q261_phrase_search" -> ((spark0, dir) => {
      val posT = positionalIndexTable(spark0, dir)
      val (_, tT, _) = invertedIndexTables(spark0, dir)
      val spark = spark0.newSession()
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val ph = spark.table(tT).orderBy(col("df").desc, col("term").asc)
        .limit(2).select("term").collect().map(_.getString(0))
      val p = spark.table(posT)
      val hits =
        if (ph.length < 2) p.limit(0).select(col("doc_id"), lit(0L).as("n_occ"))
        else {
          val a = p.where(col("term") === ph(0)).select(col("doc_id"), col("pos"))
          val b = p.where(col("term") === ph(1))
            .select(col("doc_id").as("db"), (col("pos") - lit(1L)).as("pa"))
          a.join(b, col("doc_id") === col("db") && col("pos") === col("pa"))
            .groupBy("doc_id").agg(count(lit(1)).as("n_occ"))
        }
      table(spark, dir, "documents")
        .join(broadcast(hits), "doc_id")
        .select(col("doc_id"), col("lang"), col("n_occ"))
    }),

    // SOURCE MIXING WEIGHTS — the data-mixture allocation every training
    // pipeline runs before sampling: given per-source token masses and a
    // total token budget (half the corpus here), split the budget evenly
    // across sources and emit each source's mix factor
    // (alloc / source_tokens: > 1 means upsample/epoch that source,
    // < 1 means downsample). Two combinable aggregations (per-source,
    // then the 1-row total broadcast back) — the whole computation is
    // source-count-sized after the first map-side combine, so the plan
    // is identical at 100 TB. Integer budget arithmetic (div), pround-6
    // shares/factors; the oracle replays both exactly.
    "q147_source_mixing" -> ((spark, dir) => {
      val d = spread(table(spark, dir, "documents"))
        .select(col("source"),
          size(filter(split(col("text"), "\\s+"), t => t =!= ""))
            .cast("long").as("ntok"))
      val per = d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"))
      val tot = per.agg(sum("n_tokens").as("total_tokens"),
        count(lit(1)).as("n_sources"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          pround(col("n_tokens").cast("double") / col("total_tokens"), 6)
            .as("share"),
          expr("(total_tokens div 2) div n_sources").as("alloc_tokens"),
          pround(expr("CAST((total_tokens div 2) div n_sources AS DOUBLE)")
            / col("n_tokens"), 6).as("mix_factor"))
    }),

    // CONTRASTIVE NEGATIVE SAMPLING — the training-pair builder for
    // embedding/contrastive objectives: each document draws K=4
    // deterministic pseudo-random negatives via md5(doc_id:i) over the
    // contiguous id space, self-draws bumped to the next id. Sampling
    // is pure map-side arithmetic (one 1-row corpus-count broadcast);
    // the metadata fetch is ONE equi-join on the drawn id — the shape a
    // billion-pair sampler ships with (ids first, payloads joined once,
    // never a random-access per sample). Deterministic end to end, so
    // the oracle reproduces the exact pair set.
    "q186_negative_sampling" -> ((spark, dir) => {
      val docs = table(spark, dir, "documents")
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      spread(docs).select(col("doc_id"))
        .crossJoin(broadcast(nd))
        .select(col("doc_id"), col("n_docs"),
          explode(expr("sequence(0, 3)")).as("i"))
        .withColumn("h", conv(substring(
          md5(concat_ws(":", col("doc_id"), col("i"))), 1, 15), 16, 10).cast("long"))
        .withColumn("neg_id", expr(
          "CASE WHEN h % n_docs = doc_id THEN (h % n_docs + 1) % n_docs ELSE h % n_docs END"))
        .join(docs.select(col("doc_id").as("neg_id"), col("lang").as("neg_lang")),
          "neg_id")
        .select(col("doc_id"), col("i"), col("neg_id"), col("neg_lang"))
    }),

    // ZIPF LAW FIT — the corpus-health diagnostic: OLS slope of ln(freq)
    // vs ln(rank) over the top-100 vocabulary terms (natural text ≈ −1;
    // template/boilerplate corpora flatten). The data-sized work is the
    // one combinable vocabulary count; the ranked frame is VOCAB-sized
    // (the global rank window is the documented bounded-domain idiom) and
    // the regression moments are BIGINT-exact sums of quantized-log
    // integer micros, so the closed form divides identical integers —
    // chained doubles never accumulate across rows.
    "q200_zipf_fit" -> ((spark, dir) => {
      val toks = toksCol
      val vocab = spread(table(spark, dir, "documents"))
        .select(explode(toks).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
      val ranked = vocab
        // top-k FIRST (TakeOrderedAndProject, distributed) so the rank
        // window runs on ≤ZipfTop rows, never the full vocabulary
        .orderBy(desc("freq"), col("token")).limit(ZipfTop)
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("freq"), col("token"))))
        .withColumn("qx", floor(log(col("rank").cast("double")) * lit(1.0e6) + lit(0.5)).cast("long"))
        .withColumn("qy", floor(log(col("freq").cast("double")) * lit(1.0e6) + lit(0.5)).cast("long"))
      ranked.agg(count(lit(1)).as("n_terms"),
          sum("qx").as("sx"), sum("qy").as("sy"),
          sum(col("qx") * col("qy")).as("sxy"),
          sum(col("qx") * col("qx")).as("sxx"))
        .withColumn("slope",
          pround((col("n_terms") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n_terms") * col("sxx") - col("sx") * col("sx")).cast("double"), 6))
        .withColumn("intercept",
          pround((col("sy").cast("double") / lit(1.0e6) -
            col("slope") * (col("sx").cast("double") / lit(1.0e6))) /
            col("n_terms").cast("double"), 6))
        .select("n_terms", "slope", "intercept")
    }),

    // BLOOM FILE SKIPPING — the CONTENT half of the skipping story (q141
    // prunes by value range, q150 by z-order box, this by TERM
    // membership): a needle-term probe opens only files whose at-rest
    // token bloom has all K needle bits set. Blooms have no false
    // negatives, so the pruned scan provably equals the full scan (the
    // oracle replays the needle over raw parquet — equality proves both
    // the clustered layout lossless and the pruning complete). The needle
    // is the corpus' rarest token under the (freq, token) total order —
    // derived by a replayable aggregation, collected as ONE driver-side
    // row (the bounded q128-style literal plan), its K bit positions
    // computed with the SAME hash60 the manifest columns use. At 100 TB
    // the manifest is files × ≤4096 rows — metadata-sized — and the probe
    // reads Σ bloom-positive files, never the corpus; BloomFileSkipSpec
    // pins the opened-file subset.
    "q212_bloom_file_skip" -> ((spark, dir) => {
      val (dT, mT) = bloomDocsTables(spark, dir)
      val toks = toksCol
      val rare = table(spark, dir, "documents")
        .select(explode(toks).as("t"))
        .groupBy("t").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq"), col("t")).limit(1)
        .collect()
      if (rare.isEmpty) {
        import spark.implicits._
        Seq.empty[(String, Long, Long, Long)]
          .toDF("needle", "n_docs", "n_occurrences", "sum_chars")
      } else {
        val needle = rare(0).getString(0)
        val bits = (0 until BloomK)
          .map(j => math.floorMod(graft.text.TextHash.hash60(s"$needle:$j"),
            BloomBits.toLong))
        val files = spark.table(mT)
          .where(col("bit").isin(bits: _*))
          .groupBy("file").agg(countDistinct(col("bit")).as("hits"))
          .where(col("hits") === bits.distinct.length.toLong)
          .select("file").collect().map(_.getString(0))
        val pruned =
          if (files.isEmpty) spark.table(dT).limit(0)
          else spark.read.parquet(files.toIndexedSeq: _*)
        pruned
          .withColumn("occ", size(filter(toks, t => t === lit(needle))).cast("long"))
          .where(col("occ") > 0)
          .agg(count(lit(1)).as("n_docs"), sum("occ").as("n_occurrences"),
            sum("n_chars").as("sum_chars"))
          .select(lit(needle).as("needle"), col("n_docs"),
            col("n_occurrences"), col("sum_chars"))
      }
    }),

    // McNEMAR'S TEST — do two quality FILTERS disagree more than chance
    // on the same paired documents? (The filter-comparison readout a
    // pipeline runs before swapping gate A for gate B — q268's confusion
    // matrix compares a classifier to truth; this compares two
    // classifiers to each other.) Filter A = char-length floor, filter
    // B = whitespace-token floor ([[McnCharMin]]/[[McnTokMin]], one
    // definition each, embedded into the oracle). Only the discordant
    // counts enter: χ² = (|b−c|−1)²/(b+c) with continuity correction,
    // all-integer until one terminal division. One combinable
    // aggregation over documents.
    "q281_mcnemar" -> ((spark, dir) =>
      mcnemarOf(spread(table(spark, dir, "documents"))
        .select((length(col("text")) >= McnCharMin).as("pa"),
          (size(toksCol)
            >= McnTokMin).as("pb")))),

    // READABILITY SCORING — the Flesch-reading-ease shape as a
    // deterministic heuristic (syllables ≈ vowel groups, sentences ≈
    // terminal punctuation, both countable by the SAME regex on both
    // engines): per doc, score = 206.835 − 1.015·(words/sentences) −
    // 84.6·(syllables/words) on exact integer counts, pround'd at
    // birth; per-source means via the order-independent xsum. Pure
    // map-side counting + one bounded aggregation — the quality-scoring
    // family's readability member beside q36 heuristics and q124
    // entropy.
    "q287_readability" -> ((spark, dir) => {
      val d = spread(table(spark, dir, "documents"))
        .select(col("source"),
          size(toksCol)
            .cast("long").as("words"),
          greatest(size(regexp_extract_all(col("text"), lit("[.!?]"), lit(0)))
            .cast("long"), lit(1L)).as("sents"),
          size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
            .cast("long").as("sylls"))
        .withColumn("score", when(col("words") > 0L,
          pround(lit(206.835) -
            lit(1.015) * (col("words").cast("double") / col("sents").cast("double")) -
            lit(84.6) * (col("sylls").cast("double") / col("words").cast("double")),
            4)).otherwise(lit(0.0)))
      d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("words").as("n_words"),
          xsum(col("score"), 4).as("ssum"))
        .select(col("source"), col("n_docs"), col("n_words"),
          pround(col("ssum") / col("n_docs").cast("double"), 4).as("mean_score"))
    }),

    // VOCABULARY COVERAGE CURVE — what fraction of all token
    // OCCURRENCES the top-k vocabulary covers (the tokenizer/OOV budget
    // readout behind every vocab-size decision): one corpus token count
    // is the data-sized work; only ranks ≤ max(k) matter, so the rank
    // window runs over a distributed TakeOrderedAndProject top-max(k)
    // (never a single-partition sort of the full vocabulary — at 100 TB
    // that's tens of millions of terms); each probe k sums its prefix,
    // shares divide exact integers. Deterministic under ties via the
    // total (freq DESC, token) order.
    "q288_vocab_coverage" -> ((spark, dir) => {
      val toks = toksCol
      val tv = spread(table(spark, dir, "documents"))
        .select(explode(toks).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
      val tot = tv.agg(sum("freq").as("t_total"),
        count(lit(1)).as("vocab_total"))
      val ranked = tv.orderBy(desc("freq"), col("token"))
        .limit(CoverageKs.max)
        .withColumn("rk",
          row_number().over(Window.orderBy(desc("freq"), col("token"))))
      ranked.crossJoin(broadcast(tot))
        .withColumn("k", explode(array(CoverageKs.map(lit): _*)))
        .where(col("rk") <= col("k"))
        .groupBy("k")
        .agg(count(lit(1)).as("vocab_used"), sum("freq").as("covered"),
          max("t_total").as("t_total"), max("vocab_total").as("vocab_total"))
        .select(col("k"), col("vocab_used"), col("vocab_total"),
          col("covered"), col("t_total"),
          pround(col("covered").cast("double") / col("t_total").cast("double"),
            6).as("share"))
    }),

    // END-TO-END TRAINING-DATA PIPELINE — the composed flagship: the full
    // corpus-preparation funnel a pre-training run executes, as ONE
    // query. Stage arithmetic is the proven single-operator formulations
    // (q35 language-ID, q36 quality, q30/q56 exact dedup, q33 simhash
    // fingerprint dedup, q47 deterministic split), sequenced:
    //   documents → language identified → quality ≥ 0.5 → exact-dedup
    //   survivors (min doc_id per normalized-text md5) → fingerprint-
    //   dedup survivors (min doc_id per 60-bit simhash) → hash split.
    // Output: per-split kept-doc/token counts with the funnel stage
    // counts broadcast onto every row (≤3 rows total). Scale shape: ONE
    // projection computes every per-doc feature (no doc-sized joins to
    // recover signals), each dedup stage is a combinable min + LEFT SEMI
    // join back (the q56 discipline — no window, uniform md5/simhash
    // keys), and the funnel is one pass of combinable aggregates over
    // the cached feature frame. [[PipelineQuerySpec]]-style end-to-end
    // behavior is pinned by the oracle row itself (an 8-column funnel
    // can't drift silently).
    "q294_training_pipeline" -> ((spark, dir) => {
      val feat = pipelineFeatures(spark, dir)
      val s2 = feat.where(pipeIsQual)
      val ek = s2.groupBy("h").agg(min("doc_id").as("doc_id"))
      val s3 = tcache(
        s2.join(ek.select("doc_id"), Seq("doc_id"), "left_semi"), "q294:s3")
      val nk = s3.groupBy("simhash").agg(min("doc_id").as("doc_id"))
      val s4 = tcache(
        s3.join(nk.select("doc_id"), Seq("doc_id"), "left_semi"), "q294:kept")
      val funnel = feat.agg(
        count(lit(1)).as("docs_in"),
        sum(when(pipeIsLang, 1L).otherwise(0L)).as("after_lang"),
        sum(when(pipeIsQual, 1L).otherwise(0L)).as("after_quality"),
        countDistinct(when(pipeIsQual, col("h"))).as("after_exact"))
      // after_near re-aggregates the 3-row split frame (Σ per-split
      // counts == count(s4) exactly) instead of a second full pass over
      // the cached survivor frame — r19 measurement fuse
      val splits = pipelineSplits(s4)
      val kept = splits.agg(
        coalesce(sum("n_docs"), lit(0L)).as("after_near"))
      pipelineReport(splits, funnel, kept)
    }),

    // INCREMENTAL PIPELINE DELTA — the production form of q294: a 100 TB
    // corpus is never re-piped from scratch; a new batch is processed
    // AGAINST the standing survivor state. The corpus splits at
    // T = max(doc_id)·4 div 5 into base (already piped) and delta (the
    // arriving batch — later ids, the arrival-order premise every
    // incremental dedup needs and q62 established). Base runs the q294
    // stages; the delta's exact stage anti-joins the BASE survivor hash
    // set before taking within-delta minima (a base doc always outranks
    // a colliding delta doc — lower id), and its fingerprint stage
    // anti-joins the base EXACT-survivor simhash set the same way. The
    // union report is PROVABLY the full q294 rerun (base ids < delta ids
    // make every combined min resolve to the incremental winner) —
    // IncrementalPipelineSpec asserts bit-equality of the shared columns,
    // and the oracle replays the incremental formulation itself. Scale
    // shape: the delta-side work is |delta| plus aggregation-sized
    // anti-join builds; the base state enters only as its (bounded
    // survivor-key) aggregates, exactly what a standing pipeline persists.
    "q295_pipeline_delta" -> ((spark, dir) => {
      val feat = pipelineFeatures(spark, dir)
      val tF = feat.agg(expr("max(doc_id) * 4 div 5").as("t"))
      val s2 = feat.where(pipeIsQual)
        .crossJoin(broadcast(tF))
      val s2b = s2.where(col("doc_id") < col("t")).drop("t")
      val s2d = s2.where(col("doc_id") >= col("t")).drop("t")
      val ekb = tcache(
        s2b.groupBy("h").agg(min("doc_id").as("doc_id")), "q295:ekb")
      val s3b = tcache(
        s2b.join(ekb.select("doc_id"), Seq("doc_id"), "left_semi"), "q295:s3b")
      val ekd = s2d.join(ekb.select("h"), Seq("h"), "left_anti")
        .groupBy("h").agg(min("doc_id").as("doc_id"))
      val s3d = tcache(
        s2d.join(ekd.select("doc_id"), Seq("doc_id"), "left_semi"), "q295:s3d")
      val nkb = s3b.groupBy("simhash").agg(min("doc_id").as("doc_id"))
      val s4b = tcache(
        s3b.join(nkb.select("doc_id"), Seq("doc_id"), "left_semi"), "q295:s4b")
      val nkd = s3d.join(s3b.select("simhash"), Seq("simhash"), "left_anti")
        .groupBy("simhash").agg(min("doc_id").as("doc_id"))
      val s4d = tcache(
        s3d.join(nkd.select("doc_id"), Seq("doc_id"), "left_semi"), "q295:s4d")
      val s4 = s4b.unionByName(s4d)
      // ONE tagged count pass over the cached stage frames replaces the
      // former four independent 1-row aggregates (r19 measurement fuse):
      // same exact long counts per frame, summed with the identical
      // nb + nd arithmetic. after_near re-aggregates the 3-row split
      // frame (Σ per-split counts == count(s4b) + count(s4d) exactly).
      val cnts = s3b.select(lit("eb").as("t"))
        .unionByName(s3d.select(lit("ed").as("t")))
        .unionByName(s4d.select(lit("nd").as("t")))
        .groupBy("t").agg(count(lit(1)).as("c"))
      val m1 = cnts.agg(
        coalesce(sum(when(col("t").isin("eb", "ed"), col("c"))), lit(0L))
          .as("after_exact"),
        coalesce(sum(when(col("t") === "nd", col("c"))), lit(0L))
          .as("delta_kept"))
      val splits = pipelineSplits(s4)
      val near = splits.agg(
        coalesce(sum("n_docs"), lit(0L)).as("after_near"))
      val funnel = feat.agg(
        count(lit(1)).as("docs_in"),
        sum(when(pipeIsLang, 1L).otherwise(0L)).as("after_lang"),
        sum(when(pipeIsQual, 1L).otherwise(0L)).as("after_quality"))
        .crossJoin(broadcast(m1.select("after_exact")))
      val kept = m1.select("delta_kept")
        .crossJoin(broadcast(tF.select(col("t").as("t_split"))))
      pipelineReport(splits, funnel.crossJoin(broadcast(near)), kept)
    }),

    // ERASURE-PROPAGATED BM25 SERVE — the q302 sparse pipeline kept
    // running AFTER a GDPR purge, answered from the FULL persisted q148
    // index plus the q304 erasure store (tombstones + df decrements +
    // retained stats), with NOTHING rebuilt:
    //   postings: term-pruned (bucket-pruned literal IN) then tombstoned
    //     by a broadcast anti join — candidates stay Σ df-bounded;
    //   df: the full lexicon MINUS the decrements (never recounted; a
    //     term every retained doc lost leaves the lexicon at df = 0);
    //   length norm: the retained (n_docs, sum_dl) row — avgdl shifts
    //     under erasure, and using the stale stats is the subtle bug
    //     this query exists to catch;
    //   dl: per-candidate values from the untouched persisted table
    //     (retained docs' lengths don't change).
    // The oracle rebuilds BM25 from scratch over the retained corpus —
    // a green row IS the erasure-propagation theorem for the text
    // index: decremental maintenance == rebuild, at O(|erased|)
    // maintenance cost instead of O(corpus). The final rank rides
    // saltedTopK (candidate lists are corpus-proportional in df).
    "q304_erasure_text_serve" -> ((spark, dir) => {
      val (tombT, decT, statT) = erasureTextTables(spark, dir)
      erasedBm25Serve(spark, dir, spark.table(tombT), spark.table(decT),
        spark.table(statT))
    }),

    // ERASURE COMPACTION SERVE — the copy-on-write answer to the same
    // workload q304 serves merge-on-read: BM25 over the COMPACTED index
    // generation (postings/lexicon/doc-lengths/stats rewritten minus the
    // tombstoned docs, erased bytes physically gone), with no tombstone
    // or decrement table anywhere in the plan. Shares q304's oracle
    // verbatim — the two delete styles answering one truth is the
    // q161/q162 CoW/MoR agreement at the index level.
    "q308_erasure_compaction" -> ((spark, dir) => {
      val (cpT, clT, cdT, csT) = compactedIndexTables(spark, dir)
      val (qterms, terms) = eraseQueryTerms(spark, dir)
      val post =
        if (terms.isEmpty) spark.table(cpT).limit(0)
        else spark.table(cpT).where(col("term").isin(terms: _*))
      val lex = spark.table(clT).where(col("term").isin(terms: _*))
      bm25Tail(qterms, post, lex, spark.table(cdT), spark.table(csT))
    }),

    // ERASURE AUDIT — the compliance report a purge pipeline files: how
    // many rows of the erased cohort are still PHYSICALLY PRESENT in
    // each at-rest artifact. The merge-on-read generation is expected to
    // hold them (tombstones defer the bytes, that's its contract); the
    // compacted generation must hold ZERO. Each count is measured from
    // the persisted serving bytes themselves (semi join against the
    // tombstones — at scale this audit scan is the same one the
    // compaction already pays); the oracle derives the expected ledger
    // from the raw corpus: the MoR rows are the erased docs' distinct
    // (term, doc) pairs / doc count, and the compacted rows are
    // identically zero. A red row here is a GDPR violation, found by
    // the gate instead of an auditor.
    "q309_erasure_audit" -> ((spark, dir) => {
      val (pT, _, dlT) = invertedIndexTables(spark, dir)
      val (tombT, _, _) = erasureTextTables(spark, dir)
      val (cpT, _, cdT, _) = compactedIndexTables(spark, dir)
      val tomb = broadcast(spark.table(tombT))
      def leaks(t: String, label: String) =
        spark.table(t).join(tomb, Seq("doc_id"), "left_semi")
          .agg(count(lit(1)).as("erased_rows"))
          .select(lit(label).as("artifact"), col("erased_rows"))
      leaks(pT, "postings_mor_bytes")
        .unionByName(leaks(cpT, "postings_compacted"))
        .unionByName(leaks(dlT, "doclen_mor_bytes"))
        .unionByName(leaks(cdT, "doclen_compacted"))
    }),

    // THE FULL-ESTATE ERASURE LEDGER — q309 widened from 4 text
    // artifacts to EVERY doc/user-derived at-rest artifact class the
    // engine persists (the r16 verdict's #1): a GDPR purge that forgets
    // the inverted index but not the format copies, the vector/mm
    // indexes, the event layouts, the CDC state, the MVs, or the
    // snapshots is incomplete, and this ledger makes each residue a
    // gate-checked number. One row per artifact class: the erased
    // cohort's rows PHYSICALLY PRESENT in the persisted serving bytes
    // (semi joins against the tombstones / the cohort predicates — the
    // same scan a compaction pays), plus the artifact's declared erasure
    // POLICY. Two cohorts, as in production: the document cohort
    // (QueryBase.erasedId over doc/vec ids — q304/q305/q310's) and the
    // user cohort (the q161/q306 flagged users). Policies:
    //   tombstone_mor        — bytes retained, anti-joined at serve time
    //                          (q304/q305/q310); retire via compaction;
    //   compacted_cow        — bytes physically gone (q308); must be 0;
    //   retrained_forget     — green generation trained on the retained
    //                          corpus (q307); must be 0;
    //   compact_on_purge /   — copies awaiting their rewrite epoch (the
    //   rewrite_on_purge       positional index, JSONL/CSV/ORC exports,
    //   recluster_on_purge     clustered event layouts);
    //   partition_rewrite    — the q161 CoW path rewrites affected
    //                          partitions;
    //   cdc_delete           — the upsert state deletes the users' keys;
    //   decrement            — additive MVs subtract exact partials
    //                          (q306) — the count is CONTAMINATED GROUPS
    //                          (rows whose aggregate includes the
    //                          cohort), since an MV holds no per-user
    //                          rows;
    //   snapshot_expiry_horizon — snapshots are IMMUTABLE (SnapshotSpec
    //                          pins it), so in-place forgetting would
    //                          break time travel; the policy is a
    //                          bounded retention horizon after which
    //                          contaminated snapshots expire (or are
    //                          CoW-rewritten), and the ledger carries
    //                          their contaminated-group counts until
    //                          then;
    //   retire_after_compaction — the deletion vector itself lists the
    //                          flagged keys (personal data!), retired
    //                          once the CoW rewrite lands everywhere.
    // The oracle derives every expected count from the raw corpus; a
    // mismatch is a leak found by the gate instead of an auditor.
    // Scale note: the broadcast tombstone semi joins ride the test
    // cohort's deliberate ~14% size here; a production purge batch is
    // thousands of ids (broadcastable outright), and a truly
    // corpus-proportional audit would co-bucket the tombstones with each
    // doc-keyed artifact (the q305 layout) instead — the audit scan
    // itself is the same one the artifact's compaction already pays.
    "q311_erasure_estate_ledger" -> ((spark, dir) => {
      val (rowMeasures, aggMeasures) = estateMeasures(spark, dir)
      val measured = rowMeasures.keySet ++ aggMeasures.keySet
      val declared = EstateLedgerClasses.map(_._1).toSet
      // the inventory is STRUCTURAL: a declared class with no measure (or
      // a measure no class) must fail the build, not shrink the census
      val both = rowMeasures.keySet.intersect(aggMeasures.keySet)
      require(measured == declared && both.isEmpty,
        s"estate ledger drift — unmeasured: ${(declared -- measured).toSeq.sorted}; " +
          s"undeclared: ${(measured -- declared).toSeq.sorted}; " +
          s"measured twice (row and agg): ${both.toSeq.sorted}")
      // ONE count aggregation for every row-measured class (r19): each
      // branch contributes its leaked rows tagged with the class label,
      // the union aggregates once (partial counts fold map-side inside
      // the single union stage), and the literal inventory LEFT join
      // restores the zero-leak classes the groupBy would drop — the same
      // count(1)-per-label arithmetic as the former 33 independent
      // global aggregates, without their ~66 partial/final stage pairs.
      val tagged = EstateLedgerClasses.collect {
        case (label, _) if rowMeasures.contains(label) =>
          rowMeasures(label).select(lit(label).as("artifact"))
      }.reduce(_ unionByName _)
      val counts = tagged.groupBy("artifact")
        .agg(count(lit(1)).as("erased_rows"))
      import spark.implicits._
      val inventory = EstateLedgerClasses
        .filter { case (l, _) => rowMeasures.contains(l) }
        .toDF("artifact", "policy")
      val fused = inventory.join(counts, Seq("artifact"), "left")
        .select(col("artifact"), col("policy"),
          coalesce(col("erased_rows"), lit(0L)).as("erased_rows"))
      val special = EstateLedgerClasses.collect {
        case (label, policy) if aggMeasures.contains(label) =>
          aggMeasures(label).select(lit(label).as("artifact"),
            lit(policy).as("policy"), col("erased_rows"))
      }
      (fused +: special).reduce(_ unionByName _)
    }),

    // THE GOVERNANCE TRANSITION, IN ONE FRAME — q309/q311 audit each
    // endpoint; this follows ONE artifact (the q148 inverted index)
    // through the whole purge lifecycle so the TRANSITION itself is
    // gate-checked data (the r16 verdict's #6). Three stages, three
    // measures each, all taken from the real persisted/served relations
    // (never asserted):
    //   a_pre_purge      — the index as built: the cohort's postings are
    //     physically present AND served (physical == served == |cohort
    //     postings|, no tombstones);
    //   b_tombstoned_mor — erasure landed merge-on-read: the BYTES are
    //     still there (that is MoR's contract — physical unchanged), but
    //     the SERVED relation (the q304 anti-joined postings) emits ZERO
    //     cohort rows, carried by |cohort| live tombstones;
    //   c_compacted_cow  — the q308 rewrite landed: physical AND served
    //     are zero and the tombstones have retired (the compacted serve
    //     carries no tombstone table — ErasureCompactionSpec pins it).
    // The oracle derives all nine numbers from the raw corpus; a red row
    // means some stage of the purge pipeline silently didn't happen.
    "q313_erasure_governance_transition" -> ((spark, dir) => {
      val (pT, _, _) = invertedIndexTables(spark, dir)
      val (tombT, decT, statT) = erasureTextTables(spark, dir)
      val (cpT, _, _, _) = compactedIndexTables(spark, dir)
      val tomb = broadcast(spark.table(tombT))
      def cnt(df: org.apache.spark.sql.DataFrame, name: String) =
        df.agg(count(lit(1)).as(name))
      // The FOUR distinct measures compute once into a single cached
      // 1-row frame (four parallel aggregate subtrees in one job) and
      // the three stage rows project from it — the former per-stage
      // crossJoin fan rebuilt 9 aggregate subtrees (physMor three times
      // over) and ran 6 separate 1-row broadcast jobs for the same 4
      // numbers (r19 measurement fuse; counts are exact longs, the 3
      // output rows bit-identical).
      // served_mor is what the MoR SERVE emits for the cohort: THE q304
      // serve relation (erasedBm25Serve — the exact plan the production
      // path runs, not an inline re-derivation of its anti join, which
      // was zero by relational algebra regardless of the serve path's
      // behavior — the r17 ADVICE), filtered to cohort candidates. A
      // serve-path regression (dropped anti join, stale stats routing a
      // cohort doc back into the ranks) lands there as a nonzero cell.
      val wide = tcache(
        cnt(spark.table(pT).join(tomb, Seq("doc_id"), "left_semi"),
            "phys_mor")
          .crossJoin(cnt(erasedBm25Serve(spark, dir, spark.table(tombT),
              spark.table(decT), spark.table(statT))
            .join(tomb, Seq("doc_id"), "left_semi"), "served_mor"))
          .crossJoin(cnt(spark.table(cpT).join(tomb, Seq("doc_id"),
            "left_semi"), "phys_cow"))
          .crossJoin(cnt(spark.table(tombT), "n_tomb")), "q313:wide")
      def stage(name: String, phys: org.apache.spark.sql.Column,
                served: org.apache.spark.sql.Column,
                tombs: org.apache.spark.sql.Column) =
        wide.select(lit(name).as("stage"), phys.as("physical_rows"),
          served.as("served_rows"), tombs.as("tombstones_live"))
      stage("a_pre_purge", col("phys_mor"), col("phys_mor"), lit(0L))
        .unionByName(stage("b_tombstoned_mor", col("phys_mor"),
          col("served_mor"), col("n_tomb")))
        .unionByName(stage("c_compacted_cow", col("phys_cow"),
          col("phys_cow"), lit(0L)))
    }),

    // ESTATE REMEDIATION, EXECUTED — q311 DECLARES rewrite policies for
    // the artifacts that hold erased bytes; this query RUNS them (a
    // declared-but-never-exercised policy is compliance theater): the
    // positional index, the JSONL/CSV/ORC document exports, and the CDC
    // upsert state are each rewritten copy-on-write minus their cohort
    // (the q308 discipline applied across the estate — same at-rest
    // lifecycle, fault points between writes), and the audit then
    // measures BOTH sides from the remediated bytes: zero erased rows
    // AND the exact retained row count (a rewrite that dropped too much
    // would pass an erased-only audit; the retained count catches it).
    // The oracle re-derives both numbers per artifact from the raw
    // corpus. Cost is one bounded rewrite per artifact per purge epoch —
    // the same price q308 pays for the inverted index.
    "q314_erasure_estate_remediation" -> ((spark, dir) => {
      val names = remediatedEstateTables(spark, dir)
      val (remPosT, remJT, remCvT, remOrcT, remUsT) =
        (names(0), names(1), names(2), names(3), names(4))
      val (tombT, _, _) = erasureTextTables(spark, dir)
      val tomb = broadcast(spark.table(tombT)
        .select(col("doc_id"), lit(1L).as("__e")))
      def docAudit(t: String, label: String) =
        spark.table(t).join(tomb, Seq("doc_id"), "left")
          .agg(coalesce(sum("__e"), lit(0L)).cast("long").as("erased_rows"),
            count(lit(1)).as("total"))
          .select(lit(label).as("artifact"), col("erased_rows"),
            (col("total") - col("erased_rows")).as("retained_rows"))
      val flaggedU = pmod(col("user_id"), lit(RelQueries.PurgeUserMod)) ===
        RelQueries.PurgeUserRes
      val userAudit = spark.table(remUsT)
        .agg(coalesce(sum(when(flaggedU, 1L).otherwise(0L)), lit(0L))
          .cast("long").as("erased_rows"), count(lit(1)).as("total"))
        .select(lit("upsert_state").as("artifact"), col("erased_rows"),
          (col("total") - col("erased_rows")).as("retained_rows"))
      docAudit(remPosT, "postings_positional")
        .unionByName(docAudit(remJT, "docs_jsonl"))
        .unionByName(docAudit(remCvT, "docs_csv"))
        .unionByName(docAudit(remOrcT, "docs_orc"))
        .unionByName(userAudit)
    }),

    // DOC-ESTATE REMEDIATION, EXECUTED — the classes this round's widened
    // census ADDED to the ledger get the same treatment q314/q315 gave
    // the rest (a declared-but-unexecuted policy is the r17 gap pattern;
    // never reopen it): the bloom-clustered documents copy reclusters
    // minus the cohort (same range geometry, manifest re-derived from the
    // remediated bytes), the blob store rewrites retained files in the
    // original doc_NNNNN.bin layout, the SAX word dictionary rebuilds
    // over retained users through the same window encode, and the
    // multimodal index gets a GEN-3 full-forget rebuild (centroids
    // re-sampled from the RETAINED corpus — a cohort doc's raw embedding
    // leaves the model artifacts too, the q307 discipline for mm). Each
    // audit measures (erased, retained) from the remediated bytes; the
    // oracle re-derives both numbers per artifact from raw, including
    // the retained-stride centroid count and the full window-encode
    // word-dictionary size.
    "q317_doc_estate_remediation" -> ((spark, dir) => {
      val n = remediatedDocEstateTables(spark, dir)
      val (rbT, rblobPtrT, ruwT, rmcT, rmgT) =
        (n(0), n(2), n(3), n(5), n(6))
      val (tombT, _, _) = erasureTextTables(spark, dir)
      val tomb = broadcast(spark.table(tombT)
        .select(col("doc_id"), lit(1L).as("__e")))
      def docAudit(t: String, label: String) =
        spark.table(t).join(tomb, Seq("doc_id"), "left")
          .agg(coalesce(sum("__e"), lit(0L)).cast("long").as("erased_rows"),
            count(lit(1)).as("total"))
          .select(lit(label).as("artifact"), col("erased_rows"),
            (col("total") - col("erased_rows")).as("retained_rows"))
      // the blob store audit parses the remediated files' NAMES (the
      // layout contract), resolved through the 1-row pointer table
      val blobDir = spark.table(rblobPtrT).collect()(0).getString(0)
      val blobRow = spark.read.format("binaryFile").load(blobDir)
        .select(regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
          .cast("long").as("doc_id"))
        .agg(coalesce(sum(when(QueryBase.erasedId(col("doc_id")), 1L)
            .otherwise(0L)), lit(0L)).cast("long").as("erased_rows"),
          count(lit(1)).as("total"))
        .select(lit("blob_store").as("artifact"), col("erased_rows"),
          (col("total") - col("erased_rows")).as("retained_rows"))
      val flaggedU = pmod(col("user_id"), lit(RelQueries.PurgeUserMod)) ===
        RelQueries.PurgeUserRes
      val wdRow = spark.table(ruwT)
        .agg(coalesce(sum(when(flaggedU, 1L).otherwise(0L)), lit(0L))
          .cast("long").as("erased_rows"), count(lit(1)).as("total"))
        .select(lit("word_dict_users").as("artifact"), col("erased_rows"),
          (col("total") - col("erased_rows")).as("retained_rows"))
      val mcRow = spark.table(rmcT)
        .agg(coalesce(sum(when(QueryBase.erasedId(col("cent_id")), 1L)
            .otherwise(0L)), lit(0L)).cast("long").as("erased_rows"),
          count(lit(1)).as("total"))
        .select(lit("mm_cents_gen3").as("artifact"), col("erased_rows"),
          (col("total") - col("erased_rows")).as("retained_rows"))
      docAudit(rbT, "docs_bloom_layout")
        .unionByName(blobRow)
        .unionByName(wdRow)
        .unionByName(mcRow)
        .unionByName(docAudit(rmgT, "mm_codes_gen3"))
    }),

    // PIPELINE DROP ATTRIBUTION — the "why did my corpus shrink"
    // debugging readout over the q294 funnel: every document is
    // attributed to the FIRST stage that drops it (language → quality →
    // exact-dup → near-dup → kept), aggregated per (stage, predicted
    // language) with token mass and corpus share. q294's per-stage counts
    // say HOW MANY survived each gate; this says WHICH docs each gate
    // costs and in what language — the report a pipeline owner reads
    // before retuning a threshold, and the data-side EXPLAIN every
    // production corpus-prep run files next to its output. Stage
    // arithmetic IS q294's (the shared pipelineFeatures projection, the
    // shared gates, the same combinable-min survivor-key frames); the
    // survivor flags come back as two aggregation-keyed equi-joins on
    // doc_id (the q56 discipline — no windows, no doc×doc work), and the
    // report is one combinable aggregation over the bounded stage×lang
    // domain crossed with the broadcast 1-row total.
    "q318_pipeline_attribution" -> ((spark, dir) => {
      val feat = pipelineFeatures(spark, dir)
      val s2 = feat.where(pipeIsQual)
      val ek = tcache(
        s2.groupBy("h").agg(min("doc_id").as("doc_id")), "q318:ek")
      val s3 = s2.join(ek.select("doc_id"), Seq("doc_id"), "left_semi")
      val nk = s3.groupBy("simhash").agg(min("doc_id").as("doc_id"))
      val att = feat
        .join(ek.select(col("doc_id"), lit(1L).as("__ex")), Seq("doc_id"), "left")
        .join(nk.select(col("doc_id"), lit(1L).as("__nr")), Seq("doc_id"), "left")
        .withColumn("stage", attributionStageCol(pipeQualFail,
          col("__ex").isNotNull, col("__nr").isNotNull))
      attributionReport(att.select("stage", "pred_lang", "n_tokens"))
    }),

    // EPOCH SHARD PLAN — the step between curation and the trainer:
    // the kept corpus (q294/q318's survivor arithmetic, the SAME shared
    // frames) is dealt into a DETERMINISTIC seeded permutation per
    // training epoch (rank of md5(seed:doc_id) — a fresh reshuffle each
    // epoch, reproducible on any cluster shape with no shuffle service
    // or RNG state) and cut into balanced shards. The rank is
    // bucket-stitched (QueryBase.stitchedRowNumber — no corpus-sized
    // global window) and the shard is the exact ntile arithmetic over
    // it; the report is the manifest a trainer consumes: docs + token
    // mass per (epoch, shard) and the order signature Σ doc_id·rank
    // that pins the permutation itself (any rank drift moves it) —
    // epochs × shards bounded rows.
    "q319_epoch_shard_plan" -> ((spark, dir) => {
      val feat = pipelineFeatures(spark, dir)
      val s2 = feat.where(pipeIsQual)
      val ek = tcache(
        s2.groupBy("h").agg(min("doc_id").as("doc_id")), "q318:ek")
      val s3 = s2.join(ek.select("doc_id"), Seq("doc_id"), "left_semi")
      val nk = s3.groupBy("simhash").agg(min("doc_id").as("doc_id"))
      val kept = tcache(
        s3.join(nk.select("doc_id"), Seq("doc_id"), "left_semi")
          .select("doc_id", "n_tokens"), "q319:kept")
      EpochSeeds.map { seed =>
        // 60-bit permutation key, the q69/q47 md5-hex idiom (bit-equal
        // to the oracle's CAST(concat('0x', …) AS BIGINT))
        val pk = conv(substring(md5(concat(lit(seed + ":"),
          col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
        val (ranked, n) = QueryBase.stitchedRowNumber(
          kept, pk, col("doc_id"), 1L << 50, s"q319:rank:$seed", "rn")
        ranked
          .withColumn("shard", QueryBase.ntileOf("rn", n, EpochShards))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens").cast("long")).as("ws_tokens"),
            sum(col("doc_id") * col("rn")).cast("long").as("ord_sig"))
          .select(lit(seed).as("epoch"), col("shard"), col("n_docs"),
            col("ws_tokens"), col("ord_sig"))
      }.reduce(_ unionByName _)
    })
  )

  /** q319's epoch seeds and shard count — ONE definition, embedded into
    * the oracle SQL verbatim (the shared-constant invariant). */
  private[graft] val EpochSeeds: Seq[String] = Seq("e1", "e2")
  private[graft] val EpochShards: Int = 8

  /** q317's declared artifact labels (the [[EstateCoverage]] tie for the
    * `eraserem3` lifecycle key). */
  private[graft] val DocEstateRemediationClasses: Seq[String] = Seq(
    "docs_bloom_layout", "blob_store", "word_dict_users",
    "mm_cents_gen3", "mm_codes_gen3")

  /** The q317 remediated doc estate — the widened census's rewrite
    * policies executed, each in the artifact's original layout, fault
    * points between writes (the q314/q315 lifecycle). */
  private def remediatedDocEstateTables(spark: org.apache.spark.sql.SparkSession,
                                        dir: String): Seq[String] =
    AtRestTables.get(spark, s"eraserem3|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val (tombT, _, _) = erasureTextTables(spark, dir)
      // one tombstone scan feeds every anti join below (the q314 rule)
      val tombCached = spark.table(tombT).cache()
      val tomb = broadcast(tombCached)
      val retained = table(spark, dir, "documents")
        .join(tomb, Seq("doc_id"), "left_anti")
      val rbT = s"graft_rem_bloomed_$sfx"; val rbmT = s"graft_rem_bloomman_$sfx"
      buildBloomLayout(spark, retained, s"$base/bloomed", rbT,
        s"$base/bloomman", rbmT)
      AtRestTables.faultPoint("eraserem3:bloom")
      MultimodalQueries.writeBlobStore(retained, base)
      val rblobPtrT = s"graft_rem_blobptr_$sfx"
      import spark.implicits._
      Seq(java.nio.file.Paths.get(base, "blobs").toString)
        .toDF("blob_dir").coalesce(1)
        .write.mode("overwrite").option("path", s"$base/blobptr")
        .saveAsTable(rblobPtrT)
      AtRestTables.faultPoint("eraserem3:blob")
      val ruwT = s"graft_rem_uw_$sfx"; val rwcT = s"graft_rem_wc_$sfx"
      SaxQueries.writeRetainedWordDict(spark, dir, base, ruwT, rwcT)
      AtRestTables.faultPoint("eraserem3:wdict")
      val rmcT = s"graft_rem_mmg3_cents_$sfx"
      val rmgT = s"graft_rem_mmg3_codes_$sfx"
      MultimodalQueries.writeRetainedMmGen(spark, dir, base, rmcT, rmgT,
        () => AtRestTables.faultPoint("eraserem3:mmcents"))
      tombCached.unpersist()
      Seq(rbT, rbmT, rblobPtrT, ruwT, rwcT, rmcT, rmgT)
    }

  /** The q314 remediated estate: each rewrite-policy artifact rebuilt
    * minus its erasure cohort, in its ORIGINAL layout and format (the
    * remediated export must stay consumable by whatever read the
    * original — a JSONL export remediates to JSONL, the term-bucketed
    * positional index stays term-bucketed). Built once per (session,
    * dataset) with [[AtRestTables.faultPoint]]s between writes, so
    * AtRestFaultSpec's kill-window discipline applies. */
  private def remediatedEstateTables(spark: org.apache.spark.sql.SparkSession,
                                     dir: String): Seq[String] =
    AtRestTables.get(spark, s"eraserem|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val (tombT, _, _) = erasureTextTables(spark, dir)
      // ONE tombstone scan feeds all four anti-joined rewrites (the r17
      // verdict's #3): each write job builds its own broadcast, but from
      // the cached rows, not four parquet scans
      val tombCached = spark.table(tombT).cache()
      val tomb = broadcast(tombCached)
      val posT = positionalIndexTable(spark, dir)
      val (jT, cvT) = RelQueries.fileSourceTables(spark, dir)
      val orcT = RelQueries.orcSourceTable(spark, dir)
      val usT = RelQueries.upsertStateTable(spark, dir)
      val rPosT = s"graft_rem_ppos_$sfx"; val rJT = s"graft_rem_jsonl_$sfx"
      val rCvT = s"graft_rem_csv_$sfx"; val rOrcT = s"graft_rem_orc_$sfx"
      val rUsT = s"graft_rem_state_$sfx"
      spark.table(posT).join(tomb, Seq("doc_id"), "left_anti")
        .write.mode("overwrite").option("path", s"$base/pos")
        .bucketBy(PostingBuckets, "term").sortBy("term", "doc_id")
        .saveAsTable(rPosT)
      AtRestTables.faultPoint("eraserem:pos")
      spark.table(jT).join(tomb, Seq("doc_id"), "left_anti")
        .write.mode("overwrite").format("json")
        .option("path", s"$base/jsonl").saveAsTable(rJT)
      AtRestTables.faultPoint("eraserem:jsonl")
      spark.table(cvT).join(tomb, Seq("doc_id"), "left_anti")
        .write.mode("overwrite").format("csv").option("header", "true")
        .option("path", s"$base/csv").saveAsTable(rCvT)
      AtRestTables.faultPoint("eraserem:csv")
      spark.table(orcT).join(tomb, Seq("doc_id"), "left_anti")
        .write.mode("overwrite").format("orc")
        .option("path", s"$base/orc").saveAsTable(rOrcT)
      AtRestTables.faultPoint("eraserem:orc")
      spark.table(usT)
        .where(!(pmod(col("user_id"), lit(RelQueries.PurgeUserMod)) ===
          RelQueries.PurgeUserRes))
        .write.mode("overwrite").option("path", s"$base/state").saveAsTable(rUsT)
      tombCached.unpersist()
      Seq(rPosT, rJT, rCvT, rOrcT, rUsT)
    }

  /** THE ESTATE INVENTORY — q311's single source of truth: every ledger
    * artifact class with its declared erasure policy, as a plain value so
    * `EstateCoverageSpec` can structurally tie each [[AtRestTables]]
    * lifecycle key to a ledger row (or a named exemption) WITHOUT a
    * SparkSession — adding an at-rest artifact that escapes governance
    * reddens `sbt test` (the r17 verdict's #2). q311 constructs its frame
    * FROM this list and requires measure/class parity, so a drifted
    * inventory fails loudly instead of silently shrinking the census.
    * Policy vocabulary (each names the artifact's remediation contract):
    *   tombstone_mor / compacted_cow / retrained_forget — the q304/q308/
    *     q307 serving-index triad;
    *   compact_on_purge / rewrite_on_purge / recluster_on_purge /
    *     partition_rewrite — copies awaiting their rewrite epoch, in the
    *     original format/layout (q314 executes five of them);
    *   cdc_delete / decrement — keyed-state deletes and additive-MV
    *     subtraction (q306);
    *   snapshot_expiry_horizon — immutable snapshots expire past a
    *     bounded retention horizon instead of mutating (SnapshotSpec);
    *   rebuild_from_retained — non-subtractable artifacts (max-merged HLL
    *     registers; index centroids) rebuilt from the retained corpus;
    *   retire_on_swap — blue/superseded index generations retired
    *     wholesale by the q312 pointer swap;
    *   retire_after_compaction — erasure-control state (tombstone stores,
    *     the deletion vector) that itself lists personal identifiers,
    *     retired once every dependent rewrite lands (ErasureRetirementSpec
    *     proves the text/ANN legs). */
  private[graft] val EstateLedgerClasses: Seq[(String, String)] = Seq(
    "postings_mor" -> "tombstone_mor",
    "postings_compacted" -> "compacted_cow",
    "doclen_mor" -> "tombstone_mor",
    "doclen_compacted" -> "compacted_cow",
    "postings_positional" -> "compact_on_purge",
    "docs_jsonl" -> "rewrite_on_purge",
    "docs_csv" -> "rewrite_on_purge",
    "docs_orc" -> "rewrite_on_purge",
    "docs_bloom_layout" -> "recluster_on_purge",
    "blob_store" -> "rewrite_on_purge",
    "word_dict_users" -> "rewrite_on_purge",
    "ivf_codes_blue" -> "tombstone_mor",
    "ivf_codes_green" -> "retrained_forget",
    "ivf_cents_blue" -> "retire_on_swap",
    "ivf_cents_green" -> "retrained_forget",
    "ivf_cents_incr" -> "retire_on_swap",
    "mm_codes" -> "tombstone_mor",
    "mm_cents" -> "rebuild_from_retained",
    "mm_cents_gen" -> "rebuild_from_retained",
    "mm_codes_gen1" -> "rewrite_on_purge",
    "mm_codes_gen2" -> "rewrite_on_purge",
    "events_by_day" -> "partition_rewrite",
    "events_zorder" -> "recluster_on_purge",
    "events_ranged" -> "recluster_on_purge",
    "events_schema_gens" -> "rewrite_on_purge",
    "upsert_state" -> "cdc_delete",
    "agg_mv_groups" -> "decrement",
    "snapshot_v1_groups" -> "snapshot_expiry_horizon",
    "snapshot_v2_groups" -> "snapshot_expiry_horizon",
    "purge_deletion_vector" -> "retire_after_compaction",
    "erase_tomb_text" -> "retire_after_compaction",
    "erase_tomb_postings" -> "retire_after_compaction",
    "erase_tomb_ann" -> "retire_after_compaction",
    "erase_tomb_mm" -> "retire_after_compaction",
    "hll_mv_registers" -> "rebuild_from_retained")

  /** q314's audited artifact labels, declared for the same structural
    * coverage tie (the remediated-estate key maps here, not to q311). */
  private[graft] val RemediatedEstateClasses: Seq[String] =
    Seq("postings_positional", "docs_jsonl", "docs_csv", "docs_orc",
      "upsert_state")

  /** One measure per [[EstateLedgerClasses]] label — each from the
    * PERSISTED artifact's own bytes (never from the raw corpus; the
    * oracle independently re-derives every expected count from raw, so a
    * mismatch is a physical leak). Kept beside the inventory so the two
    * lists are reviewed together.
    *
    * Returns (rowMeasures, aggMeasures): rowMeasures are UNAGGREGATED
    * leak-row frames (one row per leaked row, any columns) that q311
    * fuses into ONE union + ONE count aggregation — the former shape ran
    * ~30 independent global aggregates, each its own partial/final AQE
    * stage pair (~70 tiny scheduler-bound stages at any SF; r19 floor
    * audit). aggMeasures stay pre-aggregated 1-row `erased_rows` frames:
    * the co-bucketed postings audit (its zero-shuffle SMJ shape is
    * plan-pinned) and the HLL contamination count (itself an aggregate
    * over register recomputes). Counting rows after the union is the
    * same count(1) arithmetic per label, so the ledger values are
    * bit-identical. */
  private def estateMeasures(spark: org.apache.spark.sql.SparkSession,
                             dir: String)
      : (Map[String, org.apache.spark.sql.DataFrame],
         Map[String, org.apache.spark.sql.DataFrame]) = {
    val (pT, _, dlT) = invertedIndexTables(spark, dir)
    val (tombT, _, _) = erasureTextTables(spark, dir)
    val (cpT, _, cdT, _) = compactedIndexTables(spark, dir)
    val posT = positionalIndexTable(spark, dir)
    val (jT, cvT) = RelQueries.fileSourceTables(spark, dir)
    val orcT = RelQueries.orcSourceTable(spark, dir)
    val (bloomT, _) = bloomDocsTables(spark, dir)
    val blobDir = MultimodalQueries.binaryFilesDir(spark, dir)
    val (uwT, _) = SaxQueries.wordDictTables(spark, dir)
    val (ivfCentT, _, ivfCodesT) = VectorQueries.ivfIndexTables(spark, dir)
    val (greenCentT, _, greenCodesT) = VectorQueries.retainedIvfTables(spark, dir)
    val (incrCentT, _) = VectorQueries.ivfIncrTables(spark, dir)
    val annTombT = VectorQueries.annTombstoneTable(spark, dir)
    val (mmCentT, mmCodesT) = MultimodalQueries.mmIndexTables(spark, dir)
    val (mmgCentT, mmg1T, mmg2T) = MultimodalQueries.mmGenTables(spark, dir)
    val mmTombT = MultimodalQueries.mmTombstoneTable(spark, dir)
    val (peT, _) = RelQueries.partitionedEventsTable(spark, dir)
    val (zT, _) = RelQueries.zorderedEventsTables(spark, dir)
    val (rT, _) = RelQueries.rangedEventsTables(spark, dir)
    val (g1T, g2T) = RelQueries.schemaEvoTables(spark, dir)
    val usT = RelQueries.upsertStateTable(spark, dir)
    val mvT = RelQueries.aggBaseTable(spark, dir)
    val (v1T, v2T) = RelQueries.mvSnapshotTables(spark, dir)
    val (_, dvT) = RelQueries.purgedLayoutTables(spark, dir)
    val tomb = broadcast(spark.table(tombT))
    // row measures: the LEAKED ROWS themselves (projected to one cheap
    // column so nothing wide rides the fused union)
    def docLeak(t: String) =
      spark.table(t).join(tomb, Seq("doc_id"), "left_semi").select("doc_id")
    def idLeak(t: String, idCol: String) =
      spark.table(t).where(QueryBase.erasedId(col(idCol)))
        .select(col(idCol).as("doc_id"))
    val flaggedU = pmod(col("user_id"), lit(RelQueries.PurgeUserMod)) ===
      RelQueries.PurgeUserRes
    def userLeak(t: String) = spark.table(t).where(flaggedU)
      .select(col("user_id").as("doc_id"))
    // contaminated (day, type) groups: the cohort's own partials give
    // the group keys (O(|cohort|), the q306 discipline), semi-joined
    // into the persisted MV/snapshot bytes
    def groupsOf(ingestedOnly: Boolean) = {
      val ev = table(spark, dir, "events").where(flaggedU)
      RelQueries.dayTypePartials(
        if (ingestedOnly) ev.where(col("event_id") % 10 =!= 0) else ev)
        .select("day", "event_type")
    }
    def groupLeak(t: String, ingestedOnly: Boolean) =
      spark.table(t).join(broadcast(groupsOf(ingestedOnly)),
        Seq("day", "event_type"), "left_semi")
        .select(col("day").cast("long").as("doc_id"))
    // the blob store is files, not a table: the measure parses each
    // persisted file's NAME (the doc_NNNNN.bin layout contract) — content
    // is never read, so column pruning keeps the scan metadata-only
    val blobLeak = spark.read.format("binaryFile").load(blobDir)
      .select(regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
        .cast("long").as("doc_id"))
      .where(QueryBase.erasedId(col("doc_id")))
    val rowMeasures = Map(
      "postings_compacted" -> docLeak(cpT),
      "doclen_mor" -> docLeak(dlT),
      "doclen_compacted" -> docLeak(cdT),
      "postings_positional" -> docLeak(posT),
      "docs_jsonl" -> docLeak(jT),
      "docs_csv" -> docLeak(cvT),
      "docs_orc" -> docLeak(orcT),
      "docs_bloom_layout" -> docLeak(bloomT),
      "blob_store" -> blobLeak,
      "word_dict_users" -> userLeak(uwT),
      "ivf_codes_blue" -> spark.table(ivfCodesT)
        .where(QueryBase.erasedId(col("vec_id")))
        .select("vec_id").distinct(),
      "ivf_codes_green" -> spark.table(greenCodesT)
        .where(QueryBase.erasedId(col("vec_id")))
        .select("vec_id").distinct(),
      // centroid tables hold SAMPLED RAW EMBEDDINGS under their source
      // ids — personal data the code-table rows don't cover
      "ivf_cents_blue" -> idLeak(ivfCentT, "cent_id"),
      "ivf_cents_green" -> idLeak(greenCentT, "cent_id"),
      "ivf_cents_incr" -> idLeak(incrCentT, "cent_id"),
      "mm_codes" -> docLeak(mmCodesT),
      "mm_cents" -> idLeak(mmCentT, "cent_id"),
      "mm_cents_gen" -> idLeak(mmgCentT, "cent_id"),
      "mm_codes_gen1" -> docLeak(mmg1T),
      "mm_codes_gen2" -> docLeak(mmg2T),
      "events_by_day" -> userLeak(peT),
      "events_zorder" -> userLeak(zT),
      "events_ranged" -> userLeak(rT),
      "events_schema_gens" -> spark.table(g1T).select("user_id")
        .unionByName(spark.table(g2T).select("user_id")).where(flaggedU),
      "upsert_state" -> userLeak(usT),
      "agg_mv_groups" -> groupLeak(mvT, ingestedOnly = true),
      "snapshot_v1_groups" -> groupLeak(v1T, ingestedOnly = true),
      "snapshot_v2_groups" -> groupLeak(v2T, ingestedOnly = false),
      "purge_deletion_vector" -> spark.table(dvT),
      // the erasure-control state itself lists personal identifiers
      "erase_tomb_text" -> spark.table(tombT),
      "erase_tomb_postings" -> spark.table(erasedPostingsTable(spark, dir)),
      "erase_tomb_ann" -> spark.table(annTombT),
      "erase_tomb_mm" -> spark.table(mmTombT))
    val aggMeasures = Map(
      // the largest artifact audits through the PRODUCTION purge-batch
      // shape: the co-bucketed tombstone-postings SMJ (zero Exchange on
      // the artifact side, plan-pinned) instead of the broadcast semi
      // that rides the test cohort's size
      "postings_mor" -> cobucketedPostingsAudit(spark, dir),
      // the sketch class: max-merged HLL registers are not subtractable,
      // so the measure is CONTAMINATED REGISTERS (persisted rows that
      // change under a retained-only recompute)
      "hll_mv_registers" ->
        DedupQueries.hllContaminationCount(spark, dir, flaggedU)
          .select(col("erased_rows")))
    (rowMeasures, aggMeasures)
  }

  /** The q304 erased-BM25 serve over a caller-supplied erasure store
    * (tombstone doc set; per-term df decrements; retained one-row
    * (n_docs, sum_dl) stats) — ONE definition shared by the q304 at-rest
    * path and [[graft.streaming.StreamingErasure]]'s replay proof (the
    * encodeAgainstIndex discipline applied to forgetting), so the
    * stream-maintained erasure state cannot drift from the batch purge.
    * Serving shape: query terms tokenize ONLY the query docs (retained by
    * the EraseProtect floor, so the workload survives its own purge),
    * posting/lexicon/decrement scans prune to the ≤ queries·terms literal
    * term set, tombstones drop candidates via a broadcast anti join, df
    * comes from the full lexicon MINUS the decrements, and the length
    * norm uses the retained stats row (stale avgdl is the subtle bug this
    * query exists to catch). */
  private[graft] def erasedBm25Serve(spark: org.apache.spark.sql.SparkSession,
      dir: String, tomb: org.apache.spark.sql.DataFrame,
      dec0: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val (pT, tT, dlT) = invertedIndexTables(spark, dir)
    val (qterms, terms) = eraseQueryTerms(spark, dir)
    val post0 =
      if (terms.isEmpty) spark.table(pT).limit(0)
      else spark.table(pT).where(col("term").isin(terms: _*))
    val post = post0.join(broadcast(tomb), Seq("doc_id"), "left_anti")
    val dec = dec0.where(col("term").isin(terms: _*))
    val lex = spark.table(tT).where(col("term").isin(terms: _*))
      .join(broadcast(dec), Seq("term"), "left")
      .select(col("term"),
        (col("df") - coalesce(col("ddf"), lit(0L))).as("df"))
      .where(col("df") > 0L)
    bm25Tail(qterms, post, lex, spark.table(dlT), stats)
  }

  /** The q304/q308 query-term derivation: the top-[[EraseQTerms]] terms
    * of each query doc (ids < [[EraseQueries]], retained by the
    * EraseProtect floor), tokenized from the query docs only; the term
    * strings come back driver-side (≤ queries·terms rows, the q148
    * literal idiom) so every store scan bucket-prunes. */
  private def eraseQueryTerms(spark: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, Seq[String]) = {
    val toksC = toksCol
    val qtf = table(spark, dir, "documents")
      .where(col("doc_id") < EraseQueries)
      .select(col("doc_id"), explode(toksC).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val wq = Window.partitionBy("doc_id").orderBy(desc("tf"), col("term"))
    val qterms = qtf.withColumn("rn", row_number().over(wq))
      .where(col("rn") <= EraseQTerms)
      .select(col("doc_id").as("query_id"), col("term"))
    val terms = qterms.select("term").distinct()
      .collect().map(_.getString(0)).sorted.toIndexedSeq
    (qterms, terms)
  }

  /** The BM25 scoring + salted rank tail over whichever (post, lex, dl,
    * stats) frames serve — ONE arithmetic for the q304 tombstone path
    * and the q308 compacted path, so the two erasure styles cannot
    * drift. All inputs except `dl` are bounded (term-pruned / one row)
    * and broadcast; `dl` is the docs-sized side its candidates broadcast
    * into. */
  private def bm25Tail(qterms: org.apache.spark.sql.DataFrame,
      post: org.apache.spark.sql.DataFrame,
      lex: org.apache.spark.sql.DataFrame,
      dl: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val idfR = pround(log(
      ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)) + lit(1.0)), 6)
    val tnorm = (col("tf").cast("double") * lit(K1p1)) /
      (col("tf").cast("double") +
        lit(K1) * (lit(OneMinusB) + lit(B) * (col("dl").cast("double") / avgdl)))
    val cand = post.join(broadcast(qterms), Seq("term"))
      .where(col("doc_id") =!= col("query_id"))
      .join(broadcast(lex), Seq("term"))
    saltedTopK(
      dl.join(broadcast(cand), Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("query_id"), col("doc_id"), pround(idfR * tnorm, 6).as("s"))
        .groupBy("query_id", "doc_id").agg(xsum(col("s"), 6).as("sc")),
      Seq("query_id"), Seq(desc("sc"), col("doc_id")),
      col("doc_id"), EraseDepth, "rnk")
      .select(col("query_id"), col("doc_id"), col("sc"), col("rnk"))
  }

  /** q294/q295's 3-row split aggregate, factored out (r19) so the
    * survivor total (`after_near` = Σ n_docs) can be RE-AGGREGATED from
    * these 3 rows instead of a second full pass over the cached survivor
    * frame — count(s4) == sum of the per-split counts exactly. */
  private def pipelineSplits(s4: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    s4.withColumn("split",
        when(col("bkt") < 80, "train")
          .when(col("bkt") < 90, "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("ws_tokens"))

  /** q294/q295's shared per-split report tail: the 3-row split aggregate
    * crossed with the broadcast funnel/extra 1-row frames. */
  private def pipelineReport(splits: org.apache.spark.sql.DataFrame,
                             funnel: org.apache.spark.sql.DataFrame,
                             extra: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    splits.crossJoin(broadcast(funnel)).crossJoin(broadcast(extra))

  /** The q294/q295 shared language gate... */
  private def pipeIsLang: org.apache.spark.sql.Column =
    col("pred_lang") =!= "und"

  /** ...and quality gate (threshold shared with the oracle via dlit).
    * `private[graft]` so [[graft.streaming.StreamingAttribution]]'s live
    * twin admits docs through the SAME gate the batch funnel uses. */
  private[graft] def pipeIsQual: org.apache.spark.sql.Column =
    pipeIsLang && col("quality") >= lit(PipelineQualityFloor)

  /** q294/q295's quality admission floor — ONE definition, embedded into
    * both oracles via dlit. */
  private val PipelineQualityFloor = 0.5

  /** q294/q295's shared per-doc feature frame: ONE projection off the
    * documents scan computes every pipeline signal (tokens, q36 quality
    * ingredients, q35 language scores, the q30/q56 normalized-text md5,
    * the codegen'd q33 simhash, the q47 split bucket) — no doc-sized
    * joins to recover signals, cached once for the funnel + stages. */
  private def pipelineFeatures(spark: org.apache.spark.sql.SparkSession,
                               dir: String): org.apache.spark.sql.DataFrame =
    tcache(pipelineFeatureFrame(spread(table(spark, dir, "documents"))),
      "q294:feat")

  /** The projection itself over an arbitrary (doc_id, text) frame —
    * factored from [[pipelineFeatures]] so
    * [[graft.streaming.StreamingAttribution]] computes per-arriving-doc
    * signals through the IDENTICAL column expressions (same normalize,
    * same simhash, same quality/language arithmetic) the batch funnel
    * caches over the corpus scan. */
  private[graft] def pipelineFeatureFrame(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toks = toksCol
    val norm = trim(regexp_replace(regexp_replace(
      lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 100).cast("int")
    docs.select(col("doc_id"), col("text"), toks.as("toks"))
      .select(Seq(col("doc_id"),
        md5(norm).as("h"),
        graft.functions.TextFunctions.doc_simhash(col("text")).as("simhash"),
        bucket.as("bkt")) ++
        qualityIngredientCols(col("toks"), col("text")) ++
        langScoreCols(col("toks")): _*)
      .withColumn("pred_lang", predLangCol)
      .withColumn("quality", qualityCol)
      .select("doc_id", "n_tokens", "h", "simhash", "bkt",
        "pred_lang", "quality")
  }

  /** q318's first-failing-gate attribution — ONE when-chain shared by the
    * batch report and [[graft.streaming.StreamingAttribution]]'s live
    * readout, so the arm order can never drift between the two surfaces.
    * `qualFail`: the quality-gate failure for this row's frame (the raw
    * `quality < floor` over a [[pipelineFeatureFrame]]; `!qpass` over
    * stored attribution rows — equivalent under the arm order, which
    * tests the language arm first). `exCanon`/`nrCanon`: is this doc the
    * elected exact/near-dup canonical of its content-hash / simhash
    * group. */
  private[graft] def attributionStageCol(qualFail: org.apache.spark.sql.Column,
                                         exCanon: org.apache.spark.sql.Column,
                                         nrCanon: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(col("pred_lang") === "und", "1_language")
      .when(qualFail, "2_quality")
      .when(!exCanon, "3_exact_dup")
      .when(!nrCanon, "4_near_dup")
      .otherwise("5_kept")

  /** The `qualFail` arm as the batch surfaces evaluate it (the floor
    * shared with the oracle via dlit). */
  private[graft] def pipeQualFail: org.apache.spark.sql.Column =
    col("quality") < lit(PipelineQualityFloor)

  /** q318's report aggregation over per-doc attribution rows
    * `(stage, pred_lang, n_tokens)` — shared with the streaming readout.
    * `docs_in` is the attribution row count itself (exactly one row per
    * document by construction on both surfaces), broadcast as the 1-row
    * denominator frame. */
  private[graft] def attributionReport(att: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tot = att.agg(count(lit(1)).as("docs_in"))
    att.groupBy("stage", "pred_lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("ws_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("stage"), col("pred_lang"), col("n_docs"),
        col("ws_tokens"),
        pround(col("n_docs").cast("double") / col("docs_in").cast("double"),
          6).as("share"))
  }

  /** q281's McNemar arithmetic on a paired (pa, pb) boolean frame —
    * factored so the spec can drive hand-computable discordant counts
    * through the exact production algebra. */
  private[graft] def mcnemarOf(
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    d.agg(count(lit(1)).as("n"),
        sum(when(col("pa") && col("pb"), 1L).otherwise(0L)).as("n_both"),
        sum(when(!col("pa") && !col("pb"), 1L).otherwise(0L)).as("n_neither"),
        sum(when(col("pa") && !col("pb"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("pa") && col("pb"), 1L).otherwise(0L)).as("c"))
      .select(col("n"), col("n_both"), col("n_neither"), col("b"), col("c"),
        when(col("b") + col("c") > 0L,
          pround(((abs(col("b") - col("c")) - 1) *
            (abs(col("b") - col("c")) - 1)).cast("double") /
            (col("b") + col("c")).cast("double"), 6))
          .otherwise(lit(0.0)).as("chi2"))

  /** q281's paired-filter thresholds — char-length and whitespace-token
    * floors chosen to sit on the corpus's length/token correlation edge
    * (both discordant cells populated at the test SFs). ONE definition
    * each, embedded into the oracle SQL. */
  private val McnCharMin = 300
  private val McnTokMin = 56

  /** q288's coverage cut points — top-k vocabulary sizes probed. ONE
    * definition, embedded into the oracle SQL. */
  private val CoverageKs = Seq(10, 100, 1000)

  /** q200's vocabulary cut — top terms by (freq DESC, token); ONE place,
    * embedded into the oracle SQL. */
  private val ZipfTop = 100

  val oracles: Map[String, String] = Map(
    // the same md5 draws + self-bump + metadata join serially
    "q186_negative_sampling" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |x AS (SELECT doc_id, i,
        |             CAST(concat('0x', substr(md5(doc_id || ':' || i), 1, 15)) AS BIGINT) AS h
        |      FROM documents CROSS JOIN (SELECT unnest(range(0, 4)) AS i) ii),
        |g AS (SELECT doc_id, i,
        |             CASE WHEN h % n_docs = doc_id THEN (h % n_docs + 1) % n_docs
        |                  ELSE h % n_docs END AS neg_id
        |      FROM x CROSS JOIN n)
        |SELECT g.doc_id, CAST(g.i AS INT) AS i, g.neg_id, d.lang AS neg_lang
        |FROM g JOIN documents d ON d.doc_id = g.neg_id""".stripMargin,

    "q125_prep_pipeline_v2" -> {
      val in = ScrubTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH t0 AS (SELECT doc_id, lang, $toksSqlD AS toks FROM documents),
         |tx AS (SELECT doc_id, unnest(toks) AS t FROM t0),
         |tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf FROM tx GROUP BY doc_id, t),
         |n AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n FROM tf GROUP BY doc_id),
         |cc AS (SELECT tf.doc_id, n.n,
         |              tf.tf::DOUBLE * ${sround("ln(tf.tf::DOUBLE / n.n)", 6)} AS c
         |       FROM tf JOIN n USING (doc_id)),
         |ent AS (SELECT doc_id, ${sround(s"-(${xsumSql("c", 6)}) / n", 6)} AS ent
         |        FROM cc GROUP BY doc_id, n),
         |sc0 AS (SELECT doc_id, lang,
         |               list_transform(toks, t ->
         |                 CASE WHEN t IN ($in) THEN '<redacted>'
         |                      WHEN regexp_matches(t, '$ScrubRegex') THEN '<redacted>'
         |                      ELSE t END) AS red
         |        FROM t0),
         |sc AS (SELECT doc_id, lang,
         |              CAST(len(list_filter(red, t -> t <> '<redacted>')) AS BIGINT) AS clean_tokens,
         |              md5(array_to_string(red, ' ')) AS h
         |       FROM sc0),
         |gated AS (SELECT sc.*, ent.ent FROM sc JOIN ent USING (doc_id)
         |          WHERE ent.ent >= ${dlit(EntropyFloor)}),
         |canon AS (SELECT h, min(doc_id) AS canonical_id FROM gated GROUP BY h)
         |SELECT g.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(g.clean_tokens) AS BIGINT) AS sum_clean_tokens,
         |       ${sround(xsumSql("g.ent", 6) + " / count(*)", 6)} AS avg_entropy
         |FROM gated g JOIN canon c ON g.h = c.h AND g.doc_id = c.canonical_id
         |GROUP BY g.lang""".stripMargin
    },

    // the q50/q88 log discipline: ln quantized per distinct (doc, token)
    "q124_token_entropy" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSqlD) AS t FROM documents),
         |tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY doc_id, t),
         |n AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_types
         |      FROM tf GROUP BY doc_id),
         |c AS (SELECT tf.doc_id, n.n, n.n_types,
         |             tf.tf::DOUBLE * ${sround("ln(tf.tf::DOUBLE / n.n)", 6)} AS c
         |      FROM tf JOIN n USING (doc_id))
         |SELECT doc_id, n AS n_tokens, n_types,
         |       ${sround(s"-(${xsumSql("c", 6)}) / n", 6)} AS entropy_nats
         |FROM c GROUP BY doc_id, n, n_types""".stripMargin,

    "q115_blocklist_scrub" -> {
      val in = ScrubTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, $toksSqlD AS toks FROM documents)
         |SELECT doc_id,
         |       CAST(len(toks) AS BIGINT) AS n_tokens,
         |       CAST(len(list_filter(toks, t -> t IN ($in))) AS BIGINT) AS n_term_hits,
         |       CAST(len(list_filter(toks, t -> NOT (t IN ($in)) AND regexp_matches(t, '$ScrubRegex'))) AS BIGINT) AS n_regex_hits,
         |       md5(array_to_string(list_transform(toks, t ->
         |         CASE WHEN t IN ($in) THEN '<redacted>'
         |              WHEN regexp_matches(t, '$ScrubRegex') THEN '<redacted>'
         |              ELSE t END), ' ')) AS red_fp
         |FROM t""".stripMargin
    },

    // range(1, len) is end-exclusive = Spark's sequence(1, len-1)
    "q114_bpe_merge" ->
      s"""WITH w0 AS (SELECT unnest(list_filter(string_split(${graft.sql.TextSql.norm}, ' '), t -> t <> '')) AS word
         |            FROM documents),
         |w AS (SELECT word, count(*) AS wf FROM w0 GROUP BY word HAVING len(word) >= 2),
         |p0 AS (SELECT wf, unnest(list_transform(range(1, len(word)), i -> substr(word, i, 2))) AS pair FROM w),
         |p AS (SELECT pair, CAST(sum(wf) AS BIGINT) AS cnt FROM p0 GROUP BY pair)
         |SELECT CAST(rk AS INT) AS rk, pair, cnt FROM (
         |  SELECT pair, cnt, row_number() OVER (ORDER BY cnt DESC, pair) AS rk FROM p)
         |WHERE rk <= 20""".stripMargin,

    "q35_lang_id" ->
      s"""WITH t AS (SELECT doc_id, $toksSqlD AS toks FROM documents),
         |s AS (SELECT doc_id, ${langScoresSql("toks")} FROM t)
         |SELECT doc_id, $langCaseSql AS pred_lang FROM s""".stripMargin,

    // the same q36 quality arithmetic + fixed band cuts serially
    "q255_training_mix" ->
      s"""WITH t AS (SELECT doc_id, lang, text, $toksSqlD AS toks FROM documents),
         |d AS (SELECT doc_id, lang,
         |        ${qualityIngredientsSql("toks", "text")}
         |      FROM t),
         |q AS (SELECT doc_id, lang, n_tokens,
         |        $qualitySql AS quality
         |      FROM d),
         |b AS (SELECT lang,
         |        CASE WHEN quality < 0.25 THEN 'q1'
         |             WHEN quality < 0.5  THEN 'q2'
         |             WHEN quality < 0.75 THEN 'q3'
         |             ELSE 'q4' END AS band,
         |        n_tokens
         |      FROM q),
         |g AS (SELECT lang, band, CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(sum(CAST(n_tokens AS BIGINT)) AS BIGINT) AS n_tokens
         |      FROM b GROUP BY lang, band),
         |tt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM g)
         |SELECT lang, band, n_docs, n_tokens,
         |       ${sround("CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)", 6)} AS token_share
         |FROM g CROSS JOIN tt""".stripMargin,

    "q36_quality_score" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSqlD AS toks FROM documents),
         |d AS (SELECT doc_id,
         |        ${qualityIngredientsSql("toks", "text")}
         |      FROM t)
         |SELECT doc_id, n_tokens,
         |  ${sround("n_types::DOUBLE / n_tokens", 6)} AS ttr,
         |  ${sround("n_punct::DOUBLE / n_chars", 6)} AS punct_ratio,
         |  ${sround("n_stop::DOUBLE / n_tokens", 6)} AS stop_ratio,
         |  $qualitySql AS quality
         |FROM d""".stripMargin,

    "q37_token_count" ->
      """SELECT doc_id,
        |       CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS INT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS subword_tokens
        |FROM documents""".stripMargin,

    "q39_chunking" ->
      s"""WITH t AS (SELECT doc_id, $toksSqlD AS toks FROM documents),
         |n AS (SELECT doc_id, toks,
         |             greatest(0, CAST(ceil((len(toks) - 20) / 15.0) AS INT)) AS nc
         |      FROM t),
         |c AS (SELECT doc_id, toks, unnest(range(0, nc + 1)) AS ci FROM n)
         |SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
         |       array_to_string(toks[ci*15+1 : ci*15+20], ' ') AS chunk,
         |       CAST(len(toks[ci*15+1 : ci*15+20]) AS INT) AS chunk_tokens
         |FROM c WHERE len(toks[ci*15+1 : ci*15+20]) > 0""".stripMargin,

    "q47_hash_split" ->
      """SELECT doc_id,
        |       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |             CAST(CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) % 100 AS INT) AS b
        |      FROM documents)""".stripMargin,

    "q58_stratified_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |         CAST(CAST(concat('0x', substr(md5('sample:' || doc_id::VARCHAR), 1, 15)) AS BIGINT) % 100 AS INT) AS b
        |  FROM documents)
        |WHERE lang <> 'en' OR b < 50""".stripMargin,

    // mirrors q106: one (lang) aggregation, dictionary-side windows,
    // sqrt for the α=0.5 power (IEEE-exact on both engines), xsum'd
    // renormalization
    "q106_lang_mixture" ->
      s"""WITH t AS (SELECT lang,
         |                  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS nt
         |           FROM documents),
         |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens
         |      FROM t GROUP BY lang),
         |w AS (SELECT *, sum(n_tokens) OVER () AS total FROM g),
         |x AS (SELECT *, ${sround("CAST(n_tokens AS DOUBLE) / total", 6)} AS p FROM w),
         |y AS (SELECT *, ${sround("sqrt(p)", 6)} AS qr FROM x),
         |z AS (SELECT *, sum(floor(qr * 1000000.0 + 0.5)) OVER () / 1000000.0 AS qsum FROM y),
         |f AS (SELECT *, ${sround("qr / qsum", 6)} AS q FROM z)
         |SELECT lang, n_docs, n_tokens, p, q, ${sround("q / p", 6)} AS upsample
         |FROM f""".stripMargin,

    "q97_weighted_sample" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toksSqlD) + 1 AS BIGINT) AS w,
         |             (CAST(concat('0x', substr(md5('wsamp:' || doc_id::VARCHAR), 1, 15)) AS BIGINT) + 1)::DOUBLE
         |               / ${dlit(math.pow(2, 60))} AS u
         |      FROM documents),
         |k AS (SELECT doc_id, w, ${sround("ln(u) / (w::DOUBLE)", 6)} AS k FROM t)
         |SELECT doc_id, w, k FROM (
         |  SELECT *, row_number() OVER (ORDER BY k DESC, doc_id) AS rn FROM k)
         |WHERE rn <= 20""".stripMargin,

    "q60_pipeline_e2e" ->
      s"""WITH t AS (SELECT doc_id, lang, text, $toksSqlD AS toks FROM documents),
         |d AS (SELECT doc_id, lang, text,
         |        CAST(len(toks) AS INT) AS n_tokens,
         |        CAST(len(list_distinct(toks)) AS INT) AS n_types,
         |        CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS INT) AS n_punct,
         |        CAST(length(text) AS INT) AS n_chars,
         |        CAST(len(list_filter(toks, t -> t IN (${Stopwords.map(w => s"'$w'").mkString(", ")}))) AS INT) AS n_stop
         |      FROM t),
         |q AS (SELECT *, ${sround("n_types::DOUBLE / n_tokens * 0.5 + (1.0 - n_punct::DOUBLE / n_chars) * 0.3 + (1.0 - n_stop::DOUBLE / n_tokens) * 0.2", 6)} AS quality FROM d),
         |kept AS (SELECT * FROM q
         |         WHERE quality >= ${dlit(QualityCut)}
         |           AND (lang <> 'en' OR CAST(CAST(concat('0x', substr(md5('sample:' || doc_id::VARCHAR), 1, 15)) AS BIGINT) % 100 AS INT) < 50)),
         |h AS (SELECT *, md5(${graft.sql.TextSql.norm}) AS h FROM kept),
         |c AS (SELECT h, min(doc_id) AS canonical_id FROM h GROUP BY h),
         |surv AS (SELECT h.* FROM h JOIN c USING (h) WHERE doc_id = canonical_id)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |       ${sround(xsumSql("quality", 6) + " / count(*)", 6)} AS avg_quality
         |FROM surv GROUP BY lang""".stripMargin,

    "q69_sequence_packing" ->
      s"""WITH t AS (SELECT doc_id,
         |             CAST(CAST(concat('0x', substr(md5('pack:' || doc_id::VARCHAR), 1, 15)) AS BIGINT) % 8 AS INT) AS shard,
         |             CAST(len($toksSqlD) AS BIGINT) AS n_tokens
         |           FROM documents),
         |c AS (SELECT doc_id, shard, n_tokens,
         |             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM t)
         |SELECT shard, CAST((cum - n_tokens) // 512 AS BIGINT) AS bin,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM c GROUP BY shard, bin""".stripMargin,

    "q48_vocab" ->
      s"""SELECT token, CAST(count(*) AS BIGINT) AS freq
         |FROM (SELECT unnest($toksSqlD) AS token FROM documents)
         |GROUP BY token ORDER BY freq DESC, token LIMIT 50""".stripMargin,

    "q67_intradoc_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSqlD AS toks FROM documents),
         |g AS (SELECT doc_id,
         |        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         |             ELSE list_transform(range(1, len(toks) - 1),
         |                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS grams
         |      FROM t)
         |SELECT doc_id, CAST(len(grams) AS INT) AS n_grams,
         |       CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
         |       ${sround("1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)", 6)} AS rep_frac
         |FROM g""".stripMargin,

    "q76_unigram_logprob" -> {
      val logp = sround("ln(freq::DOUBLE / n_total)", 6)
      s"""WITH t AS (SELECT doc_id, $toksSqlD AS toks FROM documents),
         |p AS (SELECT doc_id, unnest(toks) AS token FROM t),
         |f AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM p GROUP BY token),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM p),
         |s AS (SELECT doc_id, $logp AS lp FROM p JOIN f USING (token) CROSS JOIN n)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       ${sround(xsumSql("lp", 6) + " / count(*)", 6)} AS avg_logprob
         |FROM s GROUP BY doc_id""".stripMargin
    },

    "q85_token_burstiness" -> {
      val hapax = "sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)"
      s"""WITH t AS (SELECT doc_id, $toksSqlD AS toks FROM documents),
         |ex AS (SELECT doc_id, unnest(toks) AS token FROM t),
         |tf AS (SELECT doc_id, token, count(*) AS cnt FROM ex GROUP BY doc_id, token)
         |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |       CAST(count(*) AS BIGINT) AS n_types,
         |       CAST($hapax AS BIGINT) AS n_hapax,
         |       ${sround(s"CAST($hapax AS DOUBLE) / count(*)", 6)} AS hapax_frac,
         |       ${sround("CAST(max(cnt) AS DOUBLE) / sum(cnt)", 6)} AS top_tok_frac
         |FROM tf GROUP BY doc_id""".stripMargin
    },

    "q86_length_gate" ->
      s"""WITH h AS (SELECT n_chars, count(*) AS cnt FROM documents GROUP BY n_chars),
         |c AS (SELECT n_chars, sum(cnt) OVER (ORDER BY n_chars) AS cum FROM h),
         |t AS (SELECT count(*) AS n FROM documents),
         |thr AS (SELECT min(CASE WHEN cum >= floor(${dlit(0.1)} * (n - 1)) + 1 THEN n_chars END) AS lo,
         |               min(CASE WHEN cum >= floor(${dlit(0.9)} * (n - 1)) + 1 THEN n_chars END) AS hi
         |        FROM c CROSS JOIN t)
         |SELECT doc_id, n_chars, lo, hi FROM documents CROSS JOIN thr
         |WHERE n_chars BETWEEN lo AND hi""".stripMargin,

    "q88_bigram_logprob" -> {
      val seen = sround("ln((bc::DOUBLE) / ucv)", 6)
      val frac = s"(${dlit(0.4)} * (coalesce(ucw, 0)::DOUBLE + ${dlit(1.0)})) / ((t_total + vocab)::DOUBLE)"
      val backoff = sround(s"ln($frac)", 6)
      s"""WITH t AS (SELECT doc_id,
         |             CAST(CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) % 100 AS INT) AS b,
         |             $toksSqlD AS toks FROM documents),
         |bg AS (SELECT doc_id, b, unnest(list_transform(range(1, len(toks)),
         |                i -> {'v': toks[i], 'w': toks[i+1]})) AS g
         |       FROM t WHERE len(toks) >= 2),
         |bg2 AS (SELECT doc_id, b, g.v AS v, g.w AS w FROM bg),
         |tr AS (SELECT unnest(toks) AS tok FROM t WHERE b < 80),
         |bc AS (SELECT v, w, CAST(count(*) AS BIGINT) AS bc FROM bg2 WHERE b < 80 GROUP BY v, w),
         |uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS uc FROM tr GROUP BY tok),
         |tv AS (SELECT CAST(count(*) AS BIGINT) AS t_total,
         |              CAST(count(DISTINCT tok) AS BIGINT) AS vocab FROM tr),
         |test AS (SELECT doc_id, v, w FROM bg2 WHERE b >= 90),
         |s AS (SELECT test.doc_id,
         |        CASE WHEN bc.bc IS NOT NULL THEN $seen ELSE $backoff END AS lp
         |      FROM test
         |      LEFT JOIN bc USING (v, w)
         |      LEFT JOIN (SELECT tok AS v, uc AS ucv FROM uc) uv USING (v)
         |      LEFT JOIN (SELECT tok AS w, uc AS ucw FROM uc) uw USING (w)
         |      CROSS JOIN tv)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |       ${sround(xsumSql("lp", 6) + " / count(*)", 6)} AS avg_logprob
         |FROM s GROUP BY doc_id""".stripMargin
    },

    "q93_trigram_logprob" -> {
      val tri = sround("ln((tc::DOUBLE) / bvw)", 6)
      val bi = sround(s"ln((${dlit(0.4)} * (bwx::DOUBLE)) / ucw)", 6)
      val uni = sround(s"ln((${dlit(0.4 * 0.4)} * (coalesce(ucx, 0)::DOUBLE + ${dlit(1.0)})) / ((t_total + vocab)::DOUBLE))", 6)
      s"""WITH t AS (SELECT doc_id,
         |             CAST(CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) % 100 AS INT) AS b,
         |             $toksSqlD AS toks FROM documents),
         |tg AS (SELECT doc_id, b, unnest(list_transform(range(1, len(toks) - 1),
         |                i -> {'v': toks[i], 'w': toks[i+1], 'x': toks[i+2]})) AS g
         |       FROM t WHERE len(toks) >= 3),
         |tg2 AS (SELECT doc_id, b, g.v AS v, g.w AS w, g.x AS x FROM tg),
         |bg AS (SELECT b, unnest(list_transform(range(1, len(toks)),
         |                i -> {'v': toks[i], 'w': toks[i+1]})) AS g
         |       FROM t WHERE len(toks) >= 2),
         |bg2 AS (SELECT b, g.v AS v, g.w AS w FROM bg),
         |tr AS (SELECT unnest(toks) AS tok FROM t WHERE b < 80),
         |tc AS (SELECT v, w, x, CAST(count(*) AS BIGINT) AS tc FROM tg2 WHERE b < 80 GROUP BY v, w, x),
         |bc AS (SELECT v, w, CAST(count(*) AS BIGINT) AS bc FROM bg2 WHERE b < 80 GROUP BY v, w),
         |uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS uc FROM tr GROUP BY tok),
         |tv AS (SELECT CAST(count(*) AS BIGINT) AS t_total,
         |              CAST(count(DISTINCT tok) AS BIGINT) AS vocab FROM tr),
         |test AS (SELECT doc_id, v, w, x FROM tg2 WHERE b >= 90),
         |s AS (SELECT test.doc_id,
         |        CASE WHEN tc.tc IS NOT NULL THEN $tri
         |             WHEN bwx IS NOT NULL THEN $bi
         |             ELSE $uni END AS lp
         |      FROM test
         |      LEFT JOIN tc USING (v, w, x)
         |      LEFT JOIN (SELECT v, w, bc AS bvw FROM bc) cvw USING (v, w)
         |      LEFT JOIN (SELECT v AS w, w AS x, bc AS bwx FROM bc) cwx USING (w, x)
         |      LEFT JOIN (SELECT tok AS w, uc AS ucw FROM uc) uw USING (w)
         |      LEFT JOIN (SELECT tok AS x, uc AS ucx FROM uc) ux USING (x)
         |      CROSS JOIN tv)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
         |       ${sround(xsumSql("lp", 6) + " / count(*)", 6)} AS avg_logprob
         |FROM s GROUP BY doc_id""".stripMargin
    },

    "q38_fingerprint" -> {
      val norm = graft.sql.TextSql.norm
      val sh = graft.sql.TextSql.shingles
      s"""WITH t AS (SELECT doc_id, text, $toksSqlD AS toks FROM documents),
         |s AS (SELECT doc_id, text, $sh AS sh FROM t)
         |SELECT doc_id, md5($norm) AS fp,
         |       list_aggregate(list_transform(sh, x -> md5(x)), 'min') AS min_shingle
         |FROM s""".stripMargin
    },

    "q50_tfidf" -> {
      val idf = sround(s"ln((${dlit(1.0)} + n_docs) / (${dlit(1.0)} + df)) + ${dlit(1.0)}", 6)
      s"""WITH t AS (SELECT doc_id, $toksSqlD AS toks FROM documents),
         |p AS (SELECT doc_id, unnest(toks) AS token FROM t),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM p GROUP BY doc_id, token),
         |dfq AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM p GROUP BY token),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |s AS (SELECT doc_id, token, ${sround(s"tf::DOUBLE * ($idf)", 6)} AS tfidf
         |      FROM tf JOIN dfq USING (token) CROSS JOIN nd)
         |SELECT doc_id, token, tfidf FROM (
         |  SELECT s.*, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn FROM s) z
         |WHERE rn <= 5""".stripMargin
    },

    "q51_bm25" -> {
      val idf = sround(
        s"ln((CAST(n_docs - df AS DOUBLE) + ${dlit(0.5)}) / (CAST(df AS DOUBLE) + ${dlit(0.5)}) + ${dlit(1.0)})", 6)
      val avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
      val tnorm = s"(tf::DOUBLE * ${dlit(K1p1)}) / (tf::DOUBLE + ${dlit(K1)} * (${dlit(OneMinusB)} + ${dlit(B)} * (dl::DOUBLE / $avgdl)))"
      s"""WITH t AS (SELECT doc_id, $toksSqlD AS toks FROM documents),
         |d AS (SELECT doc_id, CAST(len(toks) AS INT) AS dl FROM t),
         |p AS (SELECT doc_id, unnest(toks) AS token FROM t),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM p GROUP BY doc_id, token),
         |dfq AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM p GROUP BY token),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
         |q AS (SELECT token FROM (SELECT token, count(*) AS freq FROM p GROUP BY token
         |                         ORDER BY freq DESC, token LIMIT $QueryTerms)),
         |s AS (SELECT tf.doc_id, ${sround(s"($idf) * ($tnorm)", 6)} AS s
         |      FROM tf JOIN q USING (token) JOIN dfq USING (token)
         |      JOIN d ON tf.doc_id = d.doc_id CROSS JOIN st)
         |SELECT doc_id, ${xsumSql("s", 6)} AS bm25 FROM s GROUP BY doc_id
         |ORDER BY bm25 DESC, doc_id LIMIT $TopDocs""".stripMargin
    },

    // tokenize → postings → rarest-3 → conjunction replayed from raw
    // parquet — equality proves the at-rest index lossless and the
    // bucket-pruned conjunction exact. HAVING count(*) = |q| is the same
    // all-terms-matched test as the Spark side's n_terms === |q| (both
    // sides' postings are distinct per (term, doc)).
    "q148_inverted_search" ->
      s"""WITH tk AS (SELECT doc_id, unnest($toksSqlD) AS term FROM documents),
         |tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
         |       FROM tk GROUP BY term, doc_id),
         |lex AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |q AS (SELECT term FROM lex ORDER BY df ASC, term ASC LIMIT $SearchTerms),
         |hits AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS sum_tf
         |         FROM tf WHERE term IN (SELECT term FROM q)
         |         GROUP BY doc_id
         |         HAVING count(*) = (SELECT count(*) FROM q))
         |SELECT d.doc_id, d.lang, d.n_chars, h.sum_tf
         |FROM documents d JOIN hits h USING (doc_id)""".stripMargin,

    // the same commonest-pair adjacency replayed positionally from raw
    // parquet (1-based positions, the q87 unnest(range(...)) idiom)
    "q261_phrase_search" ->
      s"""WITH t AS (SELECT doc_id, $toksSqlD AS toks FROM documents),
         |tok AS (SELECT doc_id, i AS pos, toks[CAST(i AS INT)] AS term
         |        FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t)),
         |lex AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |        FROM tok GROUP BY term),
         |ph AS (SELECT max(CASE WHEN rn = 1 THEN term END) AS w1,
         |              max(CASE WHEN rn = 2 THEN term END) AS w2
         |       FROM (SELECT term, row_number() OVER (ORDER BY df DESC, term ASC) AS rn
         |             FROM lex) WHERE rn <= 2),
         |occ AS (SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_occ
         |        FROM tok a JOIN ph ON a.term = ph.w1
         |        JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |                  AND b.term = ph.w2
         |        GROUP BY a.doc_id)
         |SELECT d.doc_id, d.lang, o.n_occ
         |FROM documents d JOIN occ o USING (doc_id)""".stripMargin,

    // the same budget split over raw parquet (DuckDB // floors, Spark div
    // truncates — equal on these non-negative token masses)
    "q147_source_mixing" ->
      s"""WITH d AS (SELECT source,
         |             CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS BIGINT) AS ntok
         |           FROM documents),
         |per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |               CAST(sum(ntok) AS BIGINT) AS n_tokens
         |        FROM d GROUP BY source),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |               CAST(count(*) AS BIGINT) AS n_sources FROM per)
         |SELECT source, n_docs, n_tokens,
         |       ${sround("CAST(n_tokens AS DOUBLE) / total_tokens", 6)} AS share,
         |       CAST((total_tokens // 2) // n_sources AS BIGINT) AS alloc_tokens,
         |       ${sround("CAST((total_tokens // 2) // n_sources AS DOUBLE) / n_tokens", 6)} AS mix_factor
         |FROM per, tot""".stripMargin,

    // the same quantized-log integer moments and closed form serially
    "q200_zipf_fit" ->
      s"""WITH v AS (SELECT t AS token, CAST(count(*) AS BIGINT) AS freq
         |           FROM (SELECT unnest($toksSqlD) AS t FROM documents)
         |           GROUP BY t),
         |r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rank FROM v),
         |qq AS (SELECT
         |         CAST(floor(ln(CAST(rank AS DOUBLE)) * ${dlit(1.0e6)} + ${dlit(0.5)}) AS BIGINT) AS qx,
         |         CAST(floor(ln(CAST(freq AS DOUBLE)) * ${dlit(1.0e6)} + ${dlit(0.5)}) AS BIGINT) AS qy
         |       FROM r WHERE rank <= $ZipfTop),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
         |             CAST(sum(qx) AS BIGINT) AS sx, CAST(sum(qy) AS BIGINT) AS sy,
         |             CAST(sum(qx * qy) AS BIGINT) AS sxy,
         |             CAST(sum(qx * qx) AS BIGINT) AS sxx
         |      FROM qq),
         |sl AS (SELECT *,
         |         ${sround("CAST(n_terms * sxy - sx * sy AS DOUBLE) / CAST(n_terms * sxx - sx * sx AS DOUBLE)", 6)} AS slope
         |       FROM m)
         |SELECT n_terms, slope,
         |       ${sround(s"(CAST(sy AS DOUBLE) / ${dlit(1.0e6)} - slope * (CAST(sx AS DOUBLE) / ${dlit(1.0e6)})) / CAST(n_terms AS DOUBLE)", 6)} AS intercept
         |FROM sl""".stripMargin,

    // the same rarest-needle occurrence report over RAW parquet — equality
    // proves the bloom-clustered layout lossless and the pruning complete
    // (no false negatives)
    "q212_bloom_file_skip" ->
      s"""WITH toks AS (SELECT doc_id, n_chars, $toksSqlD AS toks FROM documents),
         |needle AS (SELECT t AS needle FROM (SELECT unnest(toks) AS t FROM toks) tt
         |           GROUP BY t ORDER BY count(*), t LIMIT 1),
         |m AS (SELECT n_chars, len(list_filter(toks, x -> x = needle.needle)) AS occ
         |      FROM toks CROSS JOIN needle)
         |SELECT (SELECT needle FROM needle) AS needle,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(occ) AS BIGINT) AS n_occurrences,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM m WHERE occ > 0""".stripMargin,

    // the same discordant counts and continuity-corrected χ² serially
    "q281_mcnemar" ->
      s"""WITH t AS (SELECT length(text) >= $McnCharMin AS pa,
         |    len($toksSqlD) >= $McnTokMin AS pb
         |  FROM documents),
         |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(CASE WHEN pa AND pb THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         |             CAST(sum(CASE WHEN NOT pa AND NOT pb THEN 1 ELSE 0 END) AS BIGINT) AS n_neither,
         |             CAST(sum(CASE WHEN pa AND NOT pb THEN 1 ELSE 0 END) AS BIGINT) AS b,
         |             CAST(sum(CASE WHEN NOT pa AND pb THEN 1 ELSE 0 END) AS BIGINT) AS c
         |      FROM t)
         |SELECT n, n_both, n_neither, b, c,
         |       CASE WHEN b + c > 0
         |            THEN ${sround("CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE) / CAST(b + c AS DOUBLE)", 6)}
         |            ELSE ${dlit(0.0)} END AS chi2
         |FROM g""".stripMargin,

    // the same vowel-group/terminal-punctuation counts and score
    // arithmetic serially
    "q287_readability" ->
      s"""WITH d AS (SELECT source,
         |    CAST(len($toksSqlD) AS BIGINT) AS words,
         |    greatest(CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT), 1) AS sents,
         |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS sylls
         |  FROM documents),
         |s AS (SELECT source, words,
         |        CASE WHEN words > 0
         |             THEN ${sround(s"${dlit(206.835)} - ${dlit(1.015)} * (CAST(words AS DOUBLE) / CAST(sents AS DOUBLE)) - ${dlit(84.6)} * (CAST(sylls AS DOUBLE) / CAST(words AS DOUBLE))", 4)}
         |             ELSE ${dlit(0.0)} END AS score
         |      FROM d)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(words) AS BIGINT) AS n_words,
         |       ${sround(s"(${xsumSql("score", 4)}) / CAST(count(*) AS DOUBLE)", 4)} AS mean_score
         |FROM s GROUP BY source""".stripMargin,

    // the same deterministic rank order and prefix sums serially
    "q288_vocab_coverage" ->
      s"""WITH tv AS (SELECT t AS token, CAST(count(*) AS BIGINT) AS freq
         |            FROM (SELECT unnest($toksSqlD) AS t FROM documents)
         |            GROUP BY t),
         |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS t_total,
         |               CAST(count(*) AS BIGINT) AS vocab_total
         |        FROM tv),
         |rk AS (SELECT token, freq,
         |              row_number() OVER (ORDER BY freq DESC, token) AS rk
         |       FROM tv),
         |ks AS (SELECT unnest([${CoverageKs.mkString(", ")}]) AS k)
         |SELECT k, CAST(count(*) AS BIGINT) AS vocab_used,
         |       CAST(max(vocab_total) AS BIGINT) AS vocab_total,
         |       CAST(sum(freq) AS BIGINT) AS covered,
         |       CAST(max(t_total) AS BIGINT) AS t_total,
         |       ${sround("CAST(sum(freq) AS DOUBLE) / CAST(max(t_total) AS DOUBLE)", 6)} AS share
         |FROM rk CROSS JOIN tot CROSS JOIN ks
         |WHERE rk <= k GROUP BY k""".stripMargin,

    // the q294 funnel replays every stage's PROVEN oracle arithmetic in
    // one CTE chain: DedupQueries.simhashOracle supplies the shared
    // toks/simhash CTEs, pipelineOracleHead the q35 scores/CASE chain,
    // q36 quality with sround, q30/q56 md5(norm), q47 bucket CASE
    "q294_training_pipeline" -> graft.queries.DedupQueries.simhashOracle(
      s"""$pipelineOracleHead,
         |ek AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY h),
         |s3 AS (SELECT * FROM s2 WHERE doc_id IN (SELECT doc_id FROM ek)),
         |nk AS (SELECT min(doc_id) AS doc_id FROM s3 GROUP BY simhash),
         |s4 AS (SELECT * FROM s3 WHERE doc_id IN (SELECT doc_id FROM nk)),
         |funnel AS (SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents) AS docs_in,
         |    (SELECT CAST(count(*) AS BIGINT) FROM lang WHERE pred_lang <> 'und') AS after_lang,
         |    (SELECT CAST(count(*) AS BIGINT) FROM s2) AS after_quality,
         |    (SELECT CAST(count(DISTINCT h) AS BIGINT) FROM s2) AS after_exact,
         |    (SELECT CAST(count(*) AS BIGINT) FROM s4) AS after_near)
         |SELECT sp.split, sp.n_docs, sp.ws_tokens, f.docs_in, f.after_lang,
         |       f.after_quality, f.after_exact, f.after_near
         |FROM ($pipelineOracleSplit) sp CROSS JOIN funnel f""".stripMargin,
      withCte = true),

    // q295 replays the INCREMENTAL formulation itself (base/delta split
    // at T, delta stages anti-joined against the base survivor key sets)
    // — IncrementalPipelineSpec separately proves it equals the full
    // q294 rerun row-for-row on the shared columns
    "q295_pipeline_delta" -> graft.queries.DedupQueries.simhashOracle(
      s"""$pipelineOracleHead,
         |tt AS (SELECT max(doc_id) * 4 // 5 AS t FROM feat),
         |s2b AS (SELECT * FROM s2 WHERE doc_id < (SELECT t FROM tt)),
         |s2d AS (SELECT * FROM s2 WHERE doc_id >= (SELECT t FROM tt)),
         |ekb AS (SELECT h, min(doc_id) AS doc_id FROM s2b GROUP BY h),
         |s3b AS (SELECT * FROM s2b WHERE doc_id IN (SELECT doc_id FROM ekb)),
         |ekd AS (SELECT min(doc_id) AS doc_id FROM s2d
         |        WHERE h NOT IN (SELECT h FROM ekb) GROUP BY h),
         |s3d AS (SELECT * FROM s2d WHERE doc_id IN (SELECT doc_id FROM ekd)),
         |nkb AS (SELECT min(doc_id) AS doc_id FROM s3b GROUP BY simhash),
         |s4b AS (SELECT * FROM s3b WHERE doc_id IN (SELECT doc_id FROM nkb)),
         |nkd AS (SELECT min(doc_id) AS doc_id FROM s3d
         |        WHERE simhash NOT IN (SELECT simhash FROM s3b) GROUP BY simhash),
         |s4d AS (SELECT * FROM s3d WHERE doc_id IN (SELECT doc_id FROM nkd)),
         |s4 AS (SELECT * FROM s4b UNION ALL SELECT * FROM s4d),
         |funnel AS (SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents) AS docs_in,
         |    (SELECT CAST(count(*) AS BIGINT) FROM lang WHERE pred_lang <> 'und') AS after_lang,
         |    (SELECT CAST(count(*) AS BIGINT) FROM s2) AS after_quality,
         |    (SELECT (SELECT CAST(count(*) AS BIGINT) FROM s3b)
         |           + (SELECT CAST(count(*) AS BIGINT) FROM s3d)) AS after_exact,
         |    (SELECT CAST(count(*) AS BIGINT) FROM s4) AS after_near,
         |    (SELECT CAST(count(*) AS BIGINT) FROM s4d) AS delta_kept,
         |    (SELECT CAST(t AS BIGINT) FROM tt) AS t_split)
         |SELECT sp.split, sp.n_docs, sp.ws_tokens, f.docs_in, f.after_lang,
         |       f.after_quality, f.after_exact, f.after_near,
         |       f.delta_kept, f.t_split
         |FROM ($pipelineOracleSplit) sp CROSS JOIN funnel f""".stripMargin,
      withCte = true),

    // the FULL rebuild over the retained corpus (the erasure predicate
    // inverted in ONE WHERE) — postings, lexicon, stats, BM25, rank all
    // recomputed from scratch; equality proves the Spark side's
    // tombstone + decrement serve reconstructs it exactly. q308 shares
    // this text VERBATIM (the purgeOracleSql idiom): merge-on-read and
    // the compacted rewrite must answer the same truth.
    "q304_erasure_text_serve" -> erasureOracleSql,
    "q308_erasure_compaction" -> erasureOracleSql,

    // the expected compliance ledger from the raw corpus: MoR bytes hold
    // exactly the erased docs' postings / doc rows, compacted bytes hold
    // zero — the Spark side measures the PERSISTED tables, so a green
    // row proves the physical state matches the ledger
    "q309_erasure_audit" ->
      s"""WITH er AS (SELECT doc_id, $toksSqlD AS toks FROM documents
         |            WHERE ${QueryBase.erasedSql("doc_id")}),
         |pm AS (SELECT CAST(count(*) AS BIGINT) AS c FROM (
         |  SELECT DISTINCT doc_id, term FROM (
         |    SELECT doc_id, unnest(toks) AS term FROM er))),
         |dm AS (SELECT CAST(count(*) AS BIGINT) AS c FROM er)
         |SELECT 'postings_mor_bytes' AS artifact, c AS erased_rows FROM pm
         |UNION ALL SELECT 'postings_compacted', CAST(0 AS BIGINT) FROM pm
         |UNION ALL SELECT 'doclen_mor_bytes', c FROM dm
         |UNION ALL SELECT 'doclen_compacted', CAST(0 AS BIGINT) FROM dm""".stripMargin,

    // the expected full-estate ledger from the raw corpus: every count
    // re-derived independently of the persisted artifacts the Spark side
    // measures — document-cohort counts from documents/embeddings, user-
    // cohort counts from events (flagged users; contaminated (day, type)
    // groups for the MV/snapshot rows; the q161 cutoff rule for the
    // deletion vector)
    "q311_erasure_estate_ledger" ->
      s"""WITH er AS (SELECT doc_id, $toksSqlD AS toks FROM documents
         |            WHERE ${QueryBase.erasedSql("doc_id")}),
         |pm AS (SELECT CAST(count(*) AS BIGINT) AS c FROM (
         |  SELECT DISTINCT doc_id, term FROM (
         |    SELECT doc_id, unnest(toks) AS term FROM er))),
         |dm AS (SELECT CAST(count(*) AS BIGINT) AS c FROM er),
         |ps AS (SELECT CAST(coalesce(sum(len(toks)), 0) AS BIGINT) AS c FROM er),
         |vm AS (SELECT CAST(count(*) AS BIGINT) AS c FROM embeddings
         |       WHERE ${QueryBase.erasedSql("vec_id")}),
         |bl AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents
         |       WHERE ${QueryBase.erasedSql("doc_id")}
         |         AND doc_id < ${MultimodalQueries.BinFileDocs}),
         |wd AS (${SaxQueries.wordDictCohortSql}),
         |icb AS (SELECT CAST(count(*) AS BIGINT) AS c FROM embeddings
         |        WHERE ${QueryBase.erasedSql("vec_id")} AND vec_id %
         |          (SELECT greatest(1, count(*) // ${VectorQueries.CentroidBudget})
         |           FROM embeddings) = 0),
         |ici AS (SELECT CAST(count(*) AS BIGINT) AS c FROM embeddings
         |        WHERE ${QueryBase.erasedSql("vec_id")}
         |          AND vec_id % ${VectorQueries.IncrMod} <> ${VectorQueries.IncrMod - 1}
         |          AND vec_id %
         |          (SELECT greatest(1, count(*) // ${VectorQueries.CentroidBudget})
         |           FROM embeddings
         |           WHERE vec_id % ${VectorQueries.IncrMod} <> ${VectorQueries.IncrMod - 1}) = 0),
         |mcs AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents
         |        WHERE ${QueryBase.erasedSql("doc_id")} AND doc_id %
         |          (SELECT greatest(1, count(*) // ${MultimodalQueries.MmCentroidBudget})
         |           FROM documents) = 0),
         |mcg AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents
         |        WHERE ${QueryBase.erasedSql("doc_id")}
         |          AND doc_id % ${MultimodalQueries.MmIncrMod} <> ${MultimodalQueries.MmIncrRes}
         |          AND doc_id %
         |          (SELECT greatest(1, count(*) // ${MultimodalQueries.MmCentroidBudget})
         |           FROM documents
         |           WHERE doc_id % ${MultimodalQueries.MmIncrMod} <> ${MultimodalQueries.MmIncrRes}) = 0),
         |mg1 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents
         |        WHERE ${QueryBase.erasedSql("doc_id")}
         |          AND doc_id % ${MultimodalQueries.MmIncrMod} <> ${MultimodalQueries.MmIncrRes}),
         |ue AS (SELECT user_id, event_type, event_id,
         |              epoch_us(ts) // ${RelQueries.DayUs} AS day FROM events),
         |fu AS (SELECT * FROM ue
         |       WHERE user_id % ${RelQueries.PurgeUserMod} = ${RelQueries.PurgeUserRes}),
         |fa AS (SELECT CAST(count(*) AS BIGINT) AS c FROM fu),
         |fi AS (SELECT * FROM fu WHERE event_id % 10 <> 0),
         |us AS (SELECT CAST(count(*) AS BIGINT) AS c FROM (
         |  SELECT DISTINCT user_id, event_type FROM fi)),
         |g1 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM (
         |  SELECT DISTINCT day, event_type FROM fi)),
         |g2 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM (
         |  SELECT DISTINCT day, event_type FROM fu)),
         |ct AS (SELECT min(day) + ${RelQueries.PurgeDays} AS cutoff FROM ue),
         |dv AS (SELECT CAST(count(*) AS BIGINT) AS c FROM fu, ct
         |       WHERE day < cutoff),
         |${DedupQueries.hllContaminationSql}
         |SELECT 'postings_mor' AS artifact, 'tombstone_mor' AS policy, c AS erased_rows FROM pm
         |UNION ALL SELECT 'postings_compacted', 'compacted_cow', CAST(0 AS BIGINT) FROM pm
         |UNION ALL SELECT 'doclen_mor', 'tombstone_mor', c FROM dm
         |UNION ALL SELECT 'doclen_compacted', 'compacted_cow', CAST(0 AS BIGINT) FROM dm
         |UNION ALL SELECT 'postings_positional', 'compact_on_purge', c FROM ps
         |UNION ALL SELECT 'docs_jsonl', 'rewrite_on_purge', c FROM dm
         |UNION ALL SELECT 'docs_csv', 'rewrite_on_purge', c FROM dm
         |UNION ALL SELECT 'docs_orc', 'rewrite_on_purge', c FROM dm
         |UNION ALL SELECT 'docs_bloom_layout', 'recluster_on_purge', c FROM dm
         |UNION ALL SELECT 'blob_store', 'rewrite_on_purge', c FROM bl
         |UNION ALL SELECT 'word_dict_users', 'rewrite_on_purge', c FROM wd
         |UNION ALL SELECT 'ivf_codes_blue', 'tombstone_mor', c FROM vm
         |UNION ALL SELECT 'ivf_codes_green', 'retrained_forget', CAST(0 AS BIGINT) FROM vm
         |UNION ALL SELECT 'ivf_cents_blue', 'retire_on_swap', c FROM icb
         |UNION ALL SELECT 'ivf_cents_green', 'retrained_forget', CAST(0 AS BIGINT) FROM icb
         |UNION ALL SELECT 'ivf_cents_incr', 'retire_on_swap', c FROM ici
         |UNION ALL SELECT 'mm_codes', 'tombstone_mor', c FROM dm
         |UNION ALL SELECT 'mm_cents', 'rebuild_from_retained', c FROM mcs
         |UNION ALL SELECT 'mm_cents_gen', 'rebuild_from_retained', c FROM mcg
         |UNION ALL SELECT 'mm_codes_gen1', 'rewrite_on_purge', c FROM mg1
         |UNION ALL SELECT 'mm_codes_gen2', 'rewrite_on_purge', c FROM dm
         |UNION ALL SELECT 'events_by_day', 'partition_rewrite', c FROM fa
         |UNION ALL SELECT 'events_zorder', 'recluster_on_purge', c FROM fa
         |UNION ALL SELECT 'events_ranged', 'recluster_on_purge', c FROM fa
         |UNION ALL SELECT 'events_schema_gens', 'rewrite_on_purge', c FROM fa
         |UNION ALL SELECT 'upsert_state', 'cdc_delete', c FROM us
         |UNION ALL SELECT 'agg_mv_groups', 'decrement', c FROM g1
         |UNION ALL SELECT 'snapshot_v1_groups', 'snapshot_expiry_horizon', c FROM g1
         |UNION ALL SELECT 'snapshot_v2_groups', 'snapshot_expiry_horizon', c FROM g2
         |UNION ALL SELECT 'purge_deletion_vector', 'retire_after_compaction', c FROM dv
         |UNION ALL SELECT 'erase_tomb_text', 'retire_after_compaction', c FROM dm
         |UNION ALL SELECT 'erase_tomb_postings', 'retire_after_compaction', c FROM pm
         |UNION ALL SELECT 'erase_tomb_ann', 'retire_after_compaction', c FROM vm
         |UNION ALL SELECT 'erase_tomb_mm', 'retire_after_compaction', c FROM dm
         |UNION ALL SELECT 'hll_mv_registers', 'rebuild_from_retained', c FROM hc""".stripMargin,

    // the expected lifecycle frame from the raw corpus: pre-purge the
    // cohort's postings are present and served; tombstoned they are
    // present but NOT served, carried by |cohort| tombstones; compacted
    // everything is zero — the Spark side measures all nine cells from
    // the persisted/served relations
    "q313_erasure_governance_transition" ->
      s"""WITH er AS (SELECT doc_id, $toksSqlD AS toks FROM documents
         |            WHERE ${QueryBase.erasedSql("doc_id")}),
         |pm AS (SELECT CAST(count(*) AS BIGINT) AS c FROM (
         |  SELECT DISTINCT doc_id, term FROM (
         |    SELECT doc_id, unnest(toks) AS term FROM er))),
         |dm AS (SELECT CAST(count(*) AS BIGINT) AS c FROM er)
         |SELECT 'a_pre_purge' AS stage, pm.c AS physical_rows,
         |       pm.c AS served_rows, CAST(0 AS BIGINT) AS tombstones_live
         |FROM pm
         |UNION ALL SELECT 'b_tombstoned_mor', pm.c, CAST(0 AS BIGINT), dm.c
         |FROM pm, dm
         |UNION ALL SELECT 'c_compacted_cow', CAST(0 AS BIGINT),
         |       CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM pm""".stripMargin,

    // the expected remediated estate from the raw corpus: zero erased
    // rows everywhere, and the retained counts the rewrites must land —
    // token occurrences of retained docs (positional), retained doc
    // counts (the three exports), distinct retained-user (user, type)
    // pairs over the ingested subset (the CDC state)
    "q314_erasure_estate_remediation" ->
      s"""WITH rd AS (SELECT doc_id, $toksSqlD AS toks FROM documents
         |            WHERE NOT ${QueryBase.erasedSql("doc_id")}),
         |ps AS (SELECT CAST(coalesce(sum(len(toks)), 0) AS BIGINT) AS c FROM rd),
         |dm AS (SELECT CAST(count(*) AS BIGINT) AS c FROM rd),
         |us AS (SELECT CAST(count(*) AS BIGINT) AS c FROM (
         |  SELECT DISTINCT user_id, event_type FROM events
         |  WHERE event_id % 10 <> 0
         |    AND NOT user_id % ${RelQueries.PurgeUserMod} = ${RelQueries.PurgeUserRes}))
         |SELECT 'postings_positional' AS artifact,
         |       CAST(0 AS BIGINT) AS erased_rows, c AS retained_rows FROM ps
         |UNION ALL SELECT 'docs_jsonl', CAST(0 AS BIGINT), c FROM dm
         |UNION ALL SELECT 'docs_csv', CAST(0 AS BIGINT), c FROM dm
         |UNION ALL SELECT 'docs_orc', CAST(0 AS BIGINT), c FROM dm
         |UNION ALL SELECT 'upsert_state', CAST(0 AS BIGINT), c FROM us""".stripMargin,

    // the expected remediated doc estate from raw: zero erased rows
    // everywhere, and the retained counts per artifact — retained docs
    // (bloom layout + gen-3 codes), retained blobs under the extent
    // bound, the retained word dictionary (full window-encode replay),
    // and the retained-stride centroid sample
    "q317_doc_estate_remediation" ->
      s"""WITH rd AS (SELECT doc_id FROM documents
         |            WHERE NOT ${QueryBase.erasedSql("doc_id")}),
         |dm AS (SELECT CAST(count(*) AS BIGINT) AS c FROM rd),
         |bl AS (SELECT CAST(count(*) AS BIGINT) AS c FROM rd
         |       WHERE doc_id < ${MultimodalQueries.BinFileDocs}),
         |wdr AS (${SaxQueries.wordDictRetainedSql}),
         |mc AS (SELECT CAST(count(*) AS BIGINT) AS c FROM rd
         |       WHERE doc_id %
         |         (SELECT greatest(1, count(*) // ${MultimodalQueries.MmCentroidBudget})
         |          FROM rd) = 0)
         |SELECT 'docs_bloom_layout' AS artifact,
         |       CAST(0 AS BIGINT) AS erased_rows, c AS retained_rows FROM dm
         |UNION ALL SELECT 'blob_store', CAST(0 AS BIGINT), c FROM bl
         |UNION ALL SELECT 'word_dict_users', CAST(0 AS BIGINT), c FROM wdr
         |UNION ALL SELECT 'mm_cents_gen3', CAST(0 AS BIGINT), c FROM mc
         |UNION ALL SELECT 'mm_codes_gen3', CAST(0 AS BIGINT), c FROM dm""".stripMargin,

    // q318 replays the q294 stage chain per-doc and attributes each doc
    // to its first failing gate — the CASE arm order and every threshold
    // literal are the SAME fragments the q294 oracle embeds
    "q318_pipeline_attribution" -> graft.queries.DedupQueries.simhashOracle(
      s"""$pipelineOracleHead,
         |ek AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY h),
         |s3 AS (SELECT * FROM s2 WHERE doc_id IN (SELECT doc_id FROM ek)),
         |nk AS (SELECT min(doc_id) AS doc_id FROM s3 GROUP BY simhash),
         |att AS (SELECT l.doc_id, l.n_tokens, l.pred_lang,
         |        CASE WHEN l.pred_lang = 'und' THEN '1_language'
         |             WHEN l.quality < ${dlit(PipelineQualityFloor)} THEN '2_quality'
         |             WHEN l.doc_id NOT IN (SELECT doc_id FROM ek) THEN '3_exact_dup'
         |             WHEN l.doc_id NOT IN (SELECT doc_id FROM nk) THEN '4_near_dup'
         |             ELSE '5_kept' END AS stage
         |        FROM lang l),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS docs_in FROM documents)
         |SELECT stage, pred_lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CAST(n_tokens AS BIGINT)) AS BIGINT) AS ws_tokens,
         |       ${sround("CAST(count(*) AS DOUBLE) / CAST(max(docs_in) AS DOUBLE)", 6)} AS share
         |FROM att CROSS JOIN tot
         |GROUP BY stage, pred_lang""".stripMargin,
      withCte = true),

    // q319: the same kept-corpus derivation, then a per-epoch seeded
    // permutation (the q69 md5-hex-to-BIGINT idiom) ranked and ntile-cut
    // — DuckDB's native ntile over (pk, doc_id) is bit-identical to the
    // stitched-rank ntileOf arithmetic (the q197-proven pairing)
    "q319_epoch_shard_plan" -> graft.queries.DedupQueries.simhashOracle(
      s"""$pipelineOracleHead,
         |ek AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY h),
         |s3 AS (SELECT * FROM s2 WHERE doc_id IN (SELECT doc_id FROM ek)),
         |nk AS (SELECT min(doc_id) AS doc_id FROM s3 GROUP BY simhash),
         |kept AS (SELECT doc_id, n_tokens FROM s3
         |         WHERE doc_id IN (SELECT doc_id FROM nk)),
         |perm AS (SELECT e.epoch, k.doc_id, k.n_tokens,
         |         CAST(concat('0x', substr(md5(e.epoch || ':' || k.doc_id::VARCHAR), 1, 15)) AS BIGINT) AS pk
         |         FROM kept k CROSS JOIN
         |           (SELECT unnest([${EpochSeeds.map(s => s"'$s'").mkString(", ")}]) AS epoch) e),
         |r AS (SELECT epoch, doc_id, n_tokens,
         |             row_number() OVER (PARTITION BY epoch ORDER BY pk, doc_id) AS rn,
         |             CAST(ntile($EpochShards) OVER (PARTITION BY epoch ORDER BY pk, doc_id) AS INT) AS shard
         |      FROM perm)
         |SELECT epoch, shard, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CAST(n_tokens AS BIGINT)) AS BIGINT) AS ws_tokens,
         |       CAST(sum(CAST(doc_id AS BIGINT) * rn) AS BIGINT) AS ord_sig
         |FROM r GROUP BY epoch, shard""".stripMargin,
      withCte = true)
  )

  private def erasureOracleSql: String = {
      val idf = sround(
        s"ln((CAST(n_docs - df AS DOUBLE) + ${dlit(0.5)}) / (CAST(df AS DOUBLE) + ${dlit(0.5)}) + ${dlit(1.0)})", 6)
      val avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
      val tnorm = s"(tf::DOUBLE * ${dlit(K1p1)}) / (tf::DOUBLE + ${dlit(K1)} * (${dlit(OneMinusB)} + ${dlit(B)} * (dl::DOUBLE / $avgdl)))"
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         |              WHERE NOT ${QueryBase.erasedSql("doc_id")}),
         |tdoc AS (SELECT doc_id, $toksSqlD AS toks FROM docs),
         |dld AS (SELECT doc_id, CAST(len(toks) AS INT) AS dl FROM tdoc),
         |pp AS (SELECT doc_id, unnest(toks) AS term FROM tdoc),
         |tfp AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM pp GROUP BY term, doc_id),
         |stt AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dld),
         |qt AS (SELECT doc_id AS query_id, term FROM (
         |    SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS rn
         |    FROM tfp WHERE doc_id < $EraseQueries) WHERE rn <= $EraseQTerms),
         |lexq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfp
         |         WHERE term IN (SELECT term FROM qt) GROUP BY term),
         |sbm AS (SELECT qt.query_id, tfp.doc_id, ${sround(s"($idf) * ($tnorm)", 6)} AS s
         |        FROM tfp JOIN qt USING (term) JOIN lexq USING (term)
         |        JOIN dld ON tfp.doc_id = dld.doc_id CROSS JOIN stt
         |        WHERE tfp.doc_id <> qt.query_id),
         |spq AS (SELECT query_id, doc_id, ${xsumSql("s", 6)} AS sc
         |        FROM sbm GROUP BY query_id, doc_id)
         |SELECT query_id, doc_id, sc, CAST(rnk AS INT) AS rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sc DESC, doc_id) AS rnk
         |  FROM spq)
         |WHERE rnk <= $EraseDepth""".stripMargin
  }

  /** The q36 quality-signal ingredient select-list over (toks, text) SQL
    * expressions — ONE definition shared by the q36/q255 oracles and
    * [[pipelineOracleHead]] (twin of [[qualityIngredientCols]]). */
  private def qualityIngredientsSql(toksE: String, textE: String): String = {
    val stopIn = Stopwords.map(w => s"'$w'").mkString(", ")
    s"""CAST(len($toksE) AS INT) AS n_tokens,
       |        CAST(len(list_distinct($toksE)) AS INT) AS n_types,
       |        CAST(length(regexp_replace(lower($textE), '[a-z0-9\\s]', '', 'g')) AS INT) AS n_punct,
       |        CAST(length($textE) AS INT) AS n_chars,
       |        CAST(len(list_filter($toksE, x -> x IN ($stopIn))) AS INT) AS n_stop""".stripMargin
  }

  /** The q36 composite quality over the ingredient columns — ONE SQL
    * definition (twin of [[qualityCol]]); weights via dlit per the
    * no-bare-literals invariant. */
  private def qualitySql: String = sround(
    s"n_types::DOUBLE / n_tokens * ${dlit(0.5)} + " +
      s"(${dlit(1.0)} - n_punct::DOUBLE / n_chars) * ${dlit(0.3)} + " +
      s"(${dlit(1.0)} - n_stop::DOUBLE / n_tokens) * ${dlit(0.2)}", 6)

  /** The q35 per-language marker-count select-list over a toks SQL
    * expression — ONE definition (twin of [[langScoreCols]]). */
  private def langScoresSql(toksE: String): String =
    Profiles.map { case (lang, words) =>
      val in = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter($toksE, x -> x IN ($in))) AS s_$lang"
    }.mkString(", ")

  /** The q35 argmax CASE over the score columns — ONE SQL definition
    * (twin of [[predLangCol]]). */
  private def langCaseSql: String = {
    val g = Profiles.map(p => s"s_${p._1}").mkString("greatest(", ", ", ")")
    val chain = Profiles.map { case (lang, _) =>
      s"WHEN s_$lang = $g THEN '$lang'"
    }.mkString(" ")
    s"CASE WHEN $g = 0 THEN 'und' $chain ELSE 'und' END"
  }

  /** q294/q295's shared oracle CTE chain from the simhashOracle `toks`/`s`
    * CTEs down to the quality-passed `s2` frame — ONE definition so the
    * two pipelines cannot drift, assembled from the SAME fragments the
    * q35/q36/q255 oracles embed. */
  private def pipelineOracleHead: String =
    s"""feat AS (SELECT t.doc_id,
       |        ${qualityIngredientsSql("t.toks", "d.text")},
       |        md5(${graft.sql.TextSql.norm}) AS h,
       |        CAST(CAST(concat('0x', substr(md5(d.doc_id::VARCHAR), 1, 15)) AS BIGINT) % 100 AS INT) AS bkt,
       |        ${langScoresSql("t.toks")}
       |      FROM toks t JOIN documents d USING (doc_id)),
       |lang AS (SELECT *,
       |        $langCaseSql AS pred_lang,
       |        $qualitySql AS quality
       |      FROM feat),
       |s2 AS (SELECT l.doc_id, l.n_tokens, l.h, s.simhash, l.bkt
       |       FROM lang l JOIN s USING (doc_id)
       |       WHERE pred_lang <> 'und' AND quality >= ${dlit(PipelineQualityFloor)})""".stripMargin

  /** The shared per-split report subquery over an `s4` kept-docs CTE. */
  private def pipelineOracleSplit: String =
    """SELECT CASE WHEN bkt < 80 THEN 'train'
      |            WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CAST(n_tokens AS BIGINT)) AS BIGINT) AS ws_tokens
      |FROM s4 GROUP BY 1""".stripMargin
}
