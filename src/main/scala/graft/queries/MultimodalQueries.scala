package graft.queries

import graft.SparkUtil.table
import graft.sql.OracleGen.sround
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import QueryBase._

/** Multimodal-column plumbing: treat media as opaque `binary` columns with
  * typed metadata, processed by a batched partition-level decode operator.
  *
  * The real decode (image/audio codecs) is STUBBED with a deterministic
  * fake — the container has no media libraries — but the Spark-side
  * plumbing is real and tested: binary column construction, an explicit
  * output schema, and a mapPartitions batch operator (the Scala analogue of
  * mapInPandas: one iterator pass per partition, no per-row UDF dispatch).
  *
  * Stub contract: "decode" reads the first 16 bytes of the payload and
  * emits their mean as the feature — reproducible in the oracle from
  * ascii(substr(text, i, 1)) because the payload is the UTF-8 encoding of
  * the (ASCII) document text.
  */
object MultimodalQueries {

  private val DecodeBytes = 16

  /** q57 frame sampling: a 64-byte "frame" every 128 bytes (i.e. sample
    * every other frame — the video-pipeline shape where decoding all
    * frames is the cost driver). */
  private val FrameBytes = 64
  private val FrameStride = 128

  val defs: Map[String, QFn] = Map(
    "q45_multimodal_decode" -> ((spark, dir) => {
      val docs = spread(table(spark, dir, "documents"))
        .select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload"),
          struct(lit("application/fake").as("mime"),
                 length(encode(col("text"), "UTF-8")).as("n_bytes")).as("meta"))
      val outSchema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("n_bytes", IntegerType),
        StructField("f0", DoubleType)))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      // batched partition-level decode (mapInPandas-style: one pass per
      // partition over the binary payloads, vectorizable batch shape)
      docs.mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val meta = r.getStruct(2)
          var s = 0.0
          var i = 0
          val k = math.min(DecodeBytes, payload.length)
          while (i < k) { s += (payload(i) & 0xff).toDouble; i += 1 }
          val f0 = s / DecodeBytes.toDouble
          Row(id, meta.getInt(1), math.floor(f0 * 1e6 + 0.5) / 1e6)
        }
      }(enc)
    }),

    // frame sampling over a binary payload: generate sampled frame offsets
    // relationally (sequence + explode — Catalyst sizes the fan-out, no
    // driver loop), then batch-"decode" each frame slice per partition.
    // The real pipeline swaps the slice-mean stub for a codec call; the
    // fan-out/partitioning/batch shape is exactly this. Tail frames keep
    // their true (shorter) length — resize semantics stay explicit.
    // MODALITY FEATURE PROFILE — the extract-then-profile pipeline: a
    // partition-level batch operator "embeds" each payload into a fixed
    // 4-dim byte-class histogram (the codec stub; a real pipeline swaps
    // in an encoder call with the same batch shape), then one combinable
    // per-source aggregation profiles the corpus — feature drift between
    // sources is exactly what this readout monitors. Per-doc fractions
    // quantize before the order-independent mean.
    "q227_multimodal_profile" -> ((spark, dir) => {
      val docs = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), col("source"), encode(col("text"), "UTF-8").as("payload"))
      val outSchema = StructType(Seq(
        StructField("source", StringType),
        StructField("f0", DoubleType), StructField("f1", DoubleType),
        StructField("f2", DoubleType), StructField("f3", DoubleType)))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      val per = docs.mapPartitions { rows =>
        rows.map { r =>
          val src = r.getString(1)
          val p = r.getAs[Array[Byte]](2)
          if (p.length == 0) Row(src, 0.0, 0.0, 0.0, 0.0)
          else {
            var c0 = 0; var c1 = 0; var c2 = 0; var c3 = 0
            var i = 0
            while (i < p.length) {
              val c = p(i) & 0xff
              if (c < 97) c0 += 1
              else if (c < 110) c1 += 1
              else if (c < 123) c2 += 1
              else c3 += 1
              i += 1
            }
            val n = p.length.toDouble
            def q(x: Int) = math.floor(x / n * 1e6 + 0.5) / 1e6
            Row(src, q(c0), q(c1), q(c2), q(c3))
          }
        }
      }(enc)
      per.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          pround(xsum(col("f0"), 6) / count(lit(1)).cast("double"), 6).as("m0"),
          pround(xsum(col("f1"), 6) / count(lit(1)).cast("double"), 6).as("m1"),
          pround(xsum(col("f2"), 6) / count(lit(1)).cast("double"), 6).as("m2"),
          pround(xsum(col("f3"), 6) / count(lit(1)).cast("double"), 6).as("m3"))
    }),

    "q57_multimodal_frames" -> ((spark, dir) => {
      val docs = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .withColumn("n_bytes", length(col("payload")).cast("int"))
        // `div` yields LONG, so the sequence elements are longs — cast
        // back down after the explode (generators can't be nested in cast)
        .withColumn("frame_l",
          explode(sequence(lit(0), expr(s"(n_bytes - 1) div $FrameStride"))))
        .select(col("doc_id"), col("payload"), col("n_bytes"),
          col("frame_l").cast("int").as("frame"))
      val outSchema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("frame", IntegerType),
        StructField("off", IntegerType),
        StructField("f_len", IntegerType),
        StructField("f_mean", DoubleType)))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      docs.mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val nBytes = r.getInt(2)
          val f = r.getInt(3)
          val off = f * FrameStride
          val len = math.min(FrameBytes, nBytes - off)
          var s = 0.0
          var i = 0
          while (i < len) { s += (payload(off + i) & 0xff).toDouble; i += 1 }
          Row(id, f, off, len, math.floor(s / len * 1e6 + 0.5) / 1e6)
        }
      }(enc)
    }),

    // perceptual-bucket dedup — the pHash shape over the stubbed decode:
    // the first 4 frame features quantize to integer buckets and
    // concatenate into a coarse perceptual signature; identical
    // signatures form a dup group with q56's survivor discipline (min
    // doc_id canonical). The real pipeline swaps the frame-mean stub for
    // a perceptual hash of decoded pixels; the plan shape — feature
    // extraction map-side, ONE combinable group on a short signature
    // key, survivor pointers by equi-join — is exactly this at any
    // corpus size (never pairwise comparison of media payloads).
    "q96_perceptual_dedup" -> ((spark, dir) => {
      val sig = defs("q57_multimodal_frames")(spark, dir)
        .where(col("frame") < 4)
        .select(col("doc_id"), col("frame"), floor(col("f_mean")).cast("int").as("q"))
        .groupBy("doc_id")
        .agg(concat_ws("-",
          transform(array_sort(collect_list(struct(col("frame"), col("q")))),
            x => x.getField("q").cast("string"))).as("sig"))
      val groups = sig.groupBy("sig")
        .agg(count(lit(1)).as("group_size"), min("doc_id").as("canonical_id"))
      sig.join(groups, "sig")
        .select(col("doc_id"), col("sig"), col("canonical_id"), col("group_size"),
          (col("doc_id") =!= col("canonical_id")).as("is_dup"))
    }),

    // BINARY FILE INGEST — the production multimodal INGEST path the
    // in-table binary columns (q45/q57) start from: a directory of
    // at-rest .bin blobs read through Spark's real `binaryFile` data
    // source (path / length / content columns, the scan an image or
    // audio corpus lands on before any decode). The report fingerprints
    // every blob (md5 + byte length + the id recovered from the file
    // name); the oracle recomputes both from the documents table the
    // blobs were derived from, proving the file round trip byte-lossless
    // end to end. At 100 TB the blobs directory is the object store and
    // this scan is the first stage of every multimodal pipeline.
    "q263_binaryfile_ingest" -> ((spark, dir) => {
      val blobs = binaryFilesDir(spark, dir)
      spark.read.format("binaryFile").load(blobs)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
            .cast("long").as("doc_id"),
          col("length"), md5(col("content")).as("content_md5"))
    }),

    // MULTIMODAL EXTRACT → ANN — the bridge from the codec stub to the
    // similarity-search path: the partition-level batch operator "embeds"
    // each binary payload into a 16-dim byte-bucket histogram (the stub a
    // real pipeline swaps for an encoder call with the SAME batch shape
    // and output schema — [[mmEmbed]], shared with the q297/q298 at-rest
    // index), fractions quantized to integer 1e-6ths at birth, then each
    // of the [[MmQueryCount]] query payloads takes its exact cosine top-5
    // over the corpus — BIGINT-exact dot/norms (16 terms of ≤1e12
    // products), one terminal division + sqrt, the q40 brute-baseline
    // broadcast discipline (queries broadcast, the corpus never shuffles
    // before the rank). The top-5 itself is the q79 SALTED TWO-PHASE
    // rank: row_number on (query_id, salt) cuts each query's candidates
    // to SaltFan·5 survivors in parallel tasks, and only those re-rank
    // per query — every true top-5 row is top-5 within its own salt
    // group, so the survivor set is a superset and the final ranks are
    // bit-identical to the oracle's direct window (which would otherwise
    // sort |corpus| rows in MmQueryCount tasks at 100× scale).
    "q296_multimodal_knn" -> ((spark, dir) => {
      val fe = mmEmbedFrame(spread(table(spark, dir, "documents")))
      val q = mmQueryFrame(spark, dir)
      val scored = fe.join(broadcast(q), col("doc_id") =!= col("query_id"))
      saltedTop5(mmCosine(scored))
    }),

    // MULTIMODAL INDEX BUILD — the q127 at-rest discipline applied to the
    // multimodal column (the iSAX-bucketing story, SURVEY §4 /
    // reference src/symtseries.c:578-636, for the codec-stub features):
    // the extracted 16-dim embeddings land ONCE in a coarse-quantized,
    // cell-BUCKETED serving layout ([[mmIndexTables]] — centroids by
    // deterministic doc_id stride, exact BIGINT L2 assignment, ties to
    // the lowest centroid id), and this query emits the per-cell manifest
    // FROM THE PERSISTED TABLE — (cell, n_docs, position-weighted
    // emb_sum, id_sum) pins every code row the build wrote, so the
    // oracle's full replay gate-checks the artifact, not a live
    // recomputation. At 100 TB this is the nightly multimodal-embedding
    // pipeline's output: one bucketed write, every extract→ANN query
    // after it probes files.
    "q297_mm_index_build" -> ((spark, dir) => {
      val (_, codesT) = mmIndexTables(spark, dir)
      spark.table(codesT).groupBy("cell")
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("aggregate(zip_with(emb, sequence(cast(1 as bigint), cast(16 as bigint)), " +
            "(v, i) -> v * i), cast(0 as bigint), (a, x) -> a + x)")).as("emb_sum"),
          sum("doc_id").as("id_sum"))
    }),

    // MULTIMODAL INDEX PROBE — q296's workload landed on the serving
    // layout: each query embedding routes to its [[MmNProbe]] nearest
    // cells (exact BIGINT L2 over the ≤ MmCentroidBudget persisted
    // centroids), the probed cell ids are collected driver-side (≤
    // queries·nprobe longs, the bounded q128 discipline) so the literal
    // `cell IN (...)` bucket-prunes the code scan, and the exact cosine
    // top-5 runs over ONLY the probed cells' rows — zero extraction or
    // training stages in the plan, no corpus-sized window
    // ([[saltedTop5]]). MmIndexPlanSpec pins the shape.
    "q298_mm_index_probe" -> ((spark, dir) =>
      mmProbe(spark, dir, mmQueryFrame(spark, dir))),

    // BLOB → EXTRACT → ANN — the unified multimodal lifecycle: queries
    // arrive as AT-REST BINARY FILES (the q263 blob store, read through
    // Spark's real binaryFile source — the object-store scan every
    // multimodal pipeline starts from), the partition-level batch
    // operator embeds the raw payload bytes, and the embeddings probe
    // the q297 persisted index. The plan touches NO documents parquet at
    // all: query side = blob scan + embed, corpus side = the bucketed
    // code table. The oracle replays the whole chain from the documents
    // the blobs were derived from (the q263 lossless round-trip makes
    // payload == encode(text) exact).
    "q299_blob_extract_ann" -> ((spark, dir) => {
      val qdocs = blobBatch(spark, dir, MmBlobQueryMod, MmBlobQueryRes)
      val q = mmEmbedPayload(qdocs)
        .select(col("doc_id").as("query_id"), col("emb").as("qe"))
      mmProbe(spark, dir, q)
    }),

    // MULTIMODAL RECALL MONITOR — the evaluation loop closed for the
    // extract→ANN index (the q99/q101 discipline applied to q297/q298):
    // recall@5 of the index probe against the q296 exact-scan truth,
    // measured entirely in-engine. A serving layout is only as good as
    // the recall a pipeline measures for it — this is the number the
    // MmNProbe knob is tuned against (nprobe=2 routing can miss true
    // neighbors; this query says how often). Truth and probe share the
    // SAME embedding/cosine definitions, so the measurement cannot drift
    // from the layouts it evaluates.
    "q300_mm_recall" -> ((spark, dir) => {
      val truth = defs("q296_multimodal_knn")(spark, dir)
        .select("query_id", "doc_id")
      val approx = defs("q298_mm_index_probe")(spark, dir)
        .select("query_id", "doc_id")
      val hits = truth.join(approx, Seq("query_id", "doc_id"))
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      truth.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(coalesce(col("hits"), lit(0L)).as("hits"))
        .agg(count(lit(1)).as("n_queries"),
          pround(sum(col("hits")).cast("double") / (count(lit(1)) * 5), 6)
            .as("recall_at_5"))
    }),

    // INCREMENTAL MULTIMODAL ENCODE — the q129 maintenance story for the
    // multimodal index: a batch of NEWLY-ARRIVED blobs (the binaryFile
    // store, a disjoint selector from q299's queries) is embedded and
    // cell-assigned map-side against the PERSISTED centroids — no
    // training or corpus stage anywhere in the plan, the nightly
    // append's exact shape. The oracle replays the assignment from the
    // full build arithmetic, so a green row proves batch-encode ==
    // rebuild-encode for the batch (the index stays correct under
    // incremental maintenance).
    "q301_mm_incremental_encode" -> ((spark, dir) => {
      val (centT, _) = mmIndexTables(spark, dir)
      mmEncodeAgainstIndex(blobBatch(spark, dir, MmIncrMod, MmIncrRes),
          spark.table(centT))
        .select("doc_id", "cell")
    }),

    // BLUE/GREEN INDEX GENERATIONS — the production swap the incremental
    // pieces compose into (the r15 verdict's stretch): generation 1
    // (BLUE) is the index as of the last full build, over the
    // PRE-ARRIVAL corpus (docs with doc_id % MmIncrMod ≠ MmIncrRes);
    // generation 2 (GREEN) lands beside it as gen 1's codes PLUS the
    // arrived batch encoded against gen 1's centroids (the q301 append —
    // a delta never retrains). Both generations are separate persisted
    // tables, so a reader pinned to "index as of build 1" keeps serving
    // the EXACT pre-rebuild answer while gen 2 serves fresh — this query
    // emits both probes side by side (gen, query_id, doc_id, cos),
    // routing once against the shared centroids and bucket-pruning each
    // generation's code table with the literal probed-cell IN. The
    // oracle replays gen 1 from the filtered corpus and gen 2 from
    // filtered-corpus centroids + full-corpus assignment, so ONE green
    // row proves the pinned probe equals the pre-rebuild answer AND the
    // fresh probe equals a full post-append rebuild.
    "q303_mm_index_generations" -> ((spark, dir) => {
      val (centT, c1T, c2T) = mmGenTables(spark, dir)
      // the routed probe list is ≤ queries·nprobe rows — materialize it
      // driver-side (the q128 literal discipline, already paid for the
      // cell IN) so BOTH generation branches share the one bounded local
      // frame instead of each re-deriving the query scan under the union
      import spark.implicits._
      val pcRows = mmRoute(mmQueryFrame(spark, dir), spark.table(centT))
        .as[(Long, Seq[Long], Long)].collect().toIndexedSeq
      val pc = pcRows.toDF("query_id", "qe", "cell")
      val cells = pcRows.map(_._3).distinct.sorted
      def probe(codesT: String, gen: Int) =
        mmScore(probedCodes(spark.table(codesT), cells, None, "doc_id"), pc)
          .withColumn("gen", lit(gen))
      probe(c1T, 1).unionByName(probe(c2T, 2))
        .select("gen", "query_id", "doc_id", "cos")
    }),

    // ERASURE-PROPAGATED MULTIMODAL SERVE — the q305 tombstone story for
    // the mm index, closing "every at-rest serving index forgets" (q304
    // text, q305 vectors, this one blobs): the q298 probe over the FULL
    // persisted index with (cell, doc_id) tombstones anti-joined in,
    // both scans pruned to the probed cells' buckets, zero re-embedding
    // of the corpus. The oracle replays the probe with the erased cohort
    // barred from candidacy — tombstoned-serve == read-time-filtered
    // rebuild, exactly.
    "q310_erasure_mm_serve" -> ((spark, dir) =>
      mmProbe(spark, dir, mmQueryFrame(spark, dir),
        Some(spark.table(mmTombstoneTable(spark, dir)))))
  )

  /** The q303 generation pair: shared (gen-1) centroids + one bucketed
    * code table PER GENERATION — gen 1 over the pre-arrival corpus, gen 2
    * read back from gen 1's persisted bytes plus the batch delta encoded
    * through the SAME [[mmAssignCell]] the build uses. Landing the green
    * generation as its own table (instead of appending in place) is the
    * blue/green contract: the swap is a pointer flip and the blue table
    * stays immutable for pinned readers. */
  private[queries] def mmGenTables(spark: org.apache.spark.sql.SparkSession,
                          dir: String): (String, String, String) = {
    val names = AtRestTables.get(spark, s"mmgen|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      // the embed is an opaque per-row mapPartitions pass (the batch
      // decode operator), so a WHERE above it cannot push down — filter
      // the docs BEFORE embedding (per-row embed: identical rows) and
      // cache the pre-corpus embedding ONCE for the build's two
      // consumers (centroid sample, gen-1 encode); the gen-2 delta
      // embeds only its incremental slice (r18: mmgen's exclusive build
      // seconds were dominated by repeated full-corpus embed passes)
      val docs = spread(table(spark, dir, "documents"))
      val pre = tcache(mmEmbedFrame(
        docs.where(col("doc_id") % MmIncrMod =!= MmIncrRes)), "mmgen:pre")
      val n = table(spark, dir, "documents")
        .where(col("doc_id") % MmIncrMod =!= MmIncrRes).count()
      val stride = math.max(1L, n / MmCentroidBudget)
      val cents = pre.where(col("doc_id") % stride === 0)
        .select(col("doc_id").as("cent_id"), col("emb").as("ce"))
      val centT = s"graft_mmg_cents_$sfx"
      val c1T = s"graft_mmg_codes1_$sfx"
      val c2T = s"graft_mmg_codes2_$sfx"
      cents.write.mode("overwrite").option("path", s"$base/cents").saveAsTable(centT)
      AtRestTables.faultPoint("mmgen:cents")
      mmAssignCell(pre, cents)
        .write.mode("overwrite").option("path", s"$base/codes1")
        .bucketBy(MmCellBuckets, "cell").sortBy("cell").saveAsTable(c1T)
      AtRestTables.faultPoint("mmgen:codes1")
      // GREEN = blue's persisted bytes (read back — stats from the bytes
      // that serve) + the delta, encoded against the frozen centroids
      val delta = mmAssignCell(mmEmbedFrame(
        docs.where(col("doc_id") % MmIncrMod === MmIncrRes)), cents)
      spark.table(c1T).unionByName(delta)
        .write.mode("overwrite").option("path", s"$base/codes2")
        .bucketBy(MmCellBuckets, "cell").sortBy("cell").saveAsTable(c2T)
      // build-local frame, no post-build consumer: free its cache slot
      // now instead of holding the embedded corpus until FIFO eviction
      QueryBase.tcacheDrop(spark, "mmgen:pre")
      Seq(centT, c1T, c2T)
    }
    (names(0), names(1), names(2))
  }

  /** A doc_id-selected batch from the q263 blob store, payload = raw file
    * bytes — the shared q299/q301 ingest shape. */
  private[graft] def blobBatch(spark: org.apache.spark.sql.SparkSession, dir: String,
                               mod: Long, res: Long): org.apache.spark.sql.DataFrame =
    spark.read.format("binaryFile").load(binaryFilesDir(spark, dir))
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
          .cast("long").as("doc_id"),
        col("content").as("payload"))
      .where(col("doc_id") % mod === res)

  /** Exact BIGINT squared-L2 between two 16-dim embedding columns —
    * ONE definition for the build assignment (q297), the probe routing
    * (q298/q299), and the incremental encode (q301), mirroring the
    * oracle's list_sum((e[i]-ce[i])^2). */
  private def mmL2C(a: org.apache.spark.sql.Column,
                    b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  private def mmL2(a: String, b: String): org.apache.spark.sql.Column =
    mmL2C(col(a), col(b))

  /** Map-side argmin cell assignment over the broadcast centroid ARRAY —
    * the vector family's `assignNearest` discipline applied to the
    * 16-dim multimodal embeddings (ONE assignment shape engine-wide, the
    * r15 verdict's #4): every centroid scores inside one projection
    * (`transform` + `array_min` over struct(d2, cent_id)), so the
    * assignment never leaves the scan stage. The former formulation
    * crossJoined the frame against the centroid ROWS and folded with a
    * groupBy-min — a |cents|× row amplification through the exchange,
    * each copy carrying the full embedding. Struct min is lexicographic
    * on (d2, cent_id): exact-BIGINT argmin, ties toward the LOWEST
    * centroid id — the exact ordering of the previous min(struct) fold
    * and of the oracle's `ORDER BY d2, cent_id LIMIT 1` replay. ONE
    * definition for the q297 build, the q301 batch encode, and
    * [[graft.streaming.StreamingMmEncode]]'s micro-batches. */
  private[graft] def mmAssignCell(fe: org.apache.spark.sql.DataFrame,
                                  cents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val packed = cents
      .agg(collect_list(struct(col("cent_id"), col("ce"))).as("cs"))
    fe.join(broadcast(packed))
      .select(col("doc_id"), col("emb"),
        array_min(transform(col("cs"), c =>
          struct(mmL2C(col("emb"), c.getField("ce")).as("d2"),
            c.getField("cent_id").as("cent_id")))).as("best"))
      .select(col("doc_id"), col("best.cent_id").as("cell"), col("emb"))
  }

  /** The multimodal query frame (query_id, qe): the first
    * [[MmQueryCount]] documents, embedded. A WHERE above the opaque
    * mapPartitions embed cannot push down, so the filter runs on the
    * documents scan first — deriving it from the corpus frame re-embedded
    * the WHOLE corpus to keep 3 rows (per-row embed, so filtering first
    * is row-identical). ONE definition for q296, q298, q303 and q310. */
  private[graft] def mmQueryFrame(spark: org.apache.spark.sql.SparkSession,
                                  dir: String): org.apache.spark.sql.DataFrame =
    mmEmbedFrame(
      table(spark, dir, "documents").where(col("doc_id") < MmQueryCount))
      .select(col("doc_id").as("query_id"), col("emb").as("qe"))

  /** Route each (query_id, qe) to its [[MmNProbe]] nearest centroids:
    * (query_id, qe, cell) rows, exact BIGINT L2 with ties to the lowest
    * centroid id. The window partitions per query over ≤ MmCentroidBudget
    * centroid rows — constant-bounded at any corpus size. */
  private def mmRoute(q: org.apache.spark.sql.DataFrame,
                      cents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val wQ = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("d2"), col("cent_id"))
    q.crossJoin(broadcast(cents))
      .withColumn("d2", mmL2("qe", "ce"))
      .withColumn("pr", row_number().over(wQ))
      .where(col("pr") <= MmNProbe)
      .select(col("query_id"), col("qe"), col("cent_id").as("cell"))
  }

  /** Exact cosine top-5 of the routed queries `pc` over probed code rows,
    * self-matches barred, with the salted two-phase rank. */
  private def mmScore(codes: org.apache.spark.sql.DataFrame,
                      pc: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    saltedTop5(mmCosine(codes.join(broadcast(pc), Seq("cell"))
      .where(col("doc_id") =!= col("query_id"))))

  /** THE persisted multimodal serve (q298/q299/q310 and
    * [[graft.streaming.StreamingIndexErasure]]'s replay proof): route
    * each (query_id, qe) against the PERSISTED centroids, collect the
    * probed cell ids (≤ queries·nprobe, driver-bounded), read the probed
    * cells of the persisted code table through
    * [[QueryBase.probedCodes]] — a (cell, doc_id) `tombF` frame is
    * pruned to the same cells and anti-joined before any scoring — and
    * take the exact cosine top-5 over the probed rows. */
  private[graft] def mmProbe(spark: org.apache.spark.sql.SparkSession, dir: String,
                             q: org.apache.spark.sql.DataFrame,
                             tombF: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val (centT, codesT) = mmIndexTables(spark, dir)
    val pc = mmRoute(q, spark.table(centT))
    val cells = pc.select("cell").distinct().collect().map(_.getLong(0)).sorted
    mmScore(probedCodes(spark.table(codesT), cells.toSeq, tombF, "doc_id"), pc)
  }

  /** q310's multimodal erasure tombstones — the q305 discipline applied
    * to the mm index: (cell, doc_id) rows for the erased cohort, located
    * from the index's OWN persisted codes (one row per doc here, so the
    * predicate pushes straight into the bucketed scan) and stored
    * co-bucketed with them. With q304 (text) and q305 (vectors) this
    * closes "every at-rest serving index forgets". */
  private[queries] def mmTombstoneTable(spark: org.apache.spark.sql.SparkSession,
                               dir: String): String =
    AtRestTables.get(spark, s"erasemm|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val tombT = s"graft_erase_mm_$sfx"
      val (_, codesT) = mmIndexTables(spark, dir)
      spark.table(codesT)
        .where(QueryBase.erasedId(col("doc_id")))
        .select("cell", "doc_id")
        .write.mode("overwrite").option("path", s"$base/tomb")
        .bucketBy(MmCellBuckets, "cell").sortBy("cell", "doc_id")
        .saveAsTable(tombT)
      Seq(tombT)
    }.head

  /** Coarse-quantizer budget for the multimodal index (the q46/q127
    * CentroidBudget discipline): centroid COUNT is fixed — stride
    * sampling keeps assignment work O(n·budget) at every scale. ONE
    * place, embedded into the oracle SQL. */
  private[queries] val MmCentroidBudget = 16L

  /** Probe width for q298/q299 — shared with the oracle. */
  private val MmNProbe = 2

  /** Bucket count for the at-rest multimodal code table (fixed so the
    * layout's hash partitioning is stable across writers; at 100 TB size
    * it to the cell count). Pure layout — no oracle surface. */
  private val MmCellBuckets = 8

  /** q299's blob-query selector (doc_id % Mod == Res among the
    * [[BinFileDocs]] blobs → ids 4/13/22/31): disjoint from q296/q298's
    * doc_id < 3 so the blob-fed probe exercises its own query set. Both
    * constants are embedded into the oracle WHERE. */
  private val MmBlobQueryMod = 9L
  private val MmBlobQueryRes = 4L

  /** q301's incremental-batch selector among the blobs (doc_id % 4 == 2 →
    * 8 of the 32 blobs) — a different arrival shape from q299's query
    * set (the two overlap only at id 22). Embedded into the oracle
    * WHERE. */
  private[queries] val MmIncrMod = 4L
  private[queries] val MmIncrRes = 2L

  /** The PERSISTED multimodal index — centroids + cell-bucketed embedding
    * codes, written once per (session, dataset) via [[AtRestTables]]:
    * centroids are the embeddings of every stride-th doc_id (stride =
    * max(1, |docs| / MmCentroidBudget) — deterministic, oracle-replayable),
    * each doc assigns to the argmin exact-BIGINT-L2 centroid (ties to the
    * lowest centroid id, the assignNearest discipline), and the code table
    * (doc_id, cell, emb) lands bucketed by cell so probes prune buckets. */
  private[queries] def mmIndexTables(spark: org.apache.spark.sql.SparkSession,
                            dir: String): (String, String) = {
    val names = AtRestTables.get(spark, s"mmidx|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      // one embed pass for both consumers (centroid sample + encode) —
      // the mmgen:pre rationale
      val fe = tcache(mmEmbedFrame(spread(table(spark, dir, "documents"))),
        "mmidx:fe")
      val n = table(spark, dir, "documents").count()
      val stride = math.max(1L, n / MmCentroidBudget)
      val cents = fe.where(col("doc_id") % stride === 0)
        .select(col("doc_id").as("cent_id"), col("emb").as("ce"))
      val assigned = mmAssignCell(fe, cents)
      val centT = s"graft_mm_cents_$sfx"
      val codesT = s"graft_mm_codes_$sfx"
      cents.write.mode("overwrite").option("path", s"$base/cents").saveAsTable(centT)
      assigned.write.mode("overwrite").option("path", s"$base/codes")
        .bucketBy(MmCellBuckets, "cell").sortBy("cell").saveAsTable(codesT)
      // build-local frame, no post-build consumer (r18 ADVICE)
      QueryBase.tcacheDrop(spark, "mmidx:fe")
      Seq(centT, codesT)
    }
    (names(0), names(1))
  }

  /** q296/q298/q299's shared exact-cosine projection over a scored frame
    * carrying (query_id, doc_id, qe, emb): BIGINT dot/norms (16 terms of
    * ≤1e12 products each), one terminal division + sqrt, zero-norm guard
    * — ONE definition so the brute bridge and the index probes cannot
    * drift from each other or the oracle replay. */
  private def mmCosine(scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    scored
      .withColumn("dot", expr(
        "aggregate(zip_with(qe, emb, (x, y) -> x * y), cast(0 as bigint), (a, v) -> a + v)"))
      .withColumn("n1", expr(
        "aggregate(qe, cast(0 as bigint), (a, v) -> a + v * v)"))
      .withColumn("n2", expr(
        "aggregate(emb, cast(0 as bigint), (a, v) -> a + v * v)"))
      .select(col("query_id"), col("doc_id"),
        when(col("n1") > 0L && col("n2") > 0L,
          pround(col("dot").cast("double") /
            sqrt(col("n1").cast("double") * col("n2").cast("double")), 6))
          .otherwise(lit(0.0)).as("cos"))

  /** Per-query top-5 by (cos DESC, doc_id) with NO corpus-sized window
    * task — [[QueryBase.saltedTopK]]; bit-identical to the direct
    * per-query window, which is what the oracle replays. */
  private def saltedTop5(scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    saltedTopK(scored, Seq("query_id"), Seq(desc("cos"), col("doc_id")),
        col("doc_id"), 5)
      .select("query_id", "doc_id", "cos")

  /** The shared multimodal "embed" stub: a 16-dim byte-bucket histogram
    * of the payload, fractions quantized to integer 1e-6ths at birth
    * (BIGINT from here on). Asserts the ALL-ASCII payload contract
    * loudly: the oracle derives the same embedding from per-CHARACTER
    * codepoints (ascii(substr)//16 over len(text) characters), which
    * equals the byte derivation only while every byte is < 0x80 — a
    * non-ASCII document in a future testdata regen must fail with the
    * contract, not silently hash-mismatch. */
  private[queries] def mmEmbed(p: Array[Byte]): Array[Long] = {
    val c = new Array[Long](16)
    var i = 0
    while (i < p.length) {
      val b = p(i) & 0xff
      if (b >= 0x80) throw new IllegalArgumentException(
        s"graft multimodal embed: non-ASCII byte 0x${b.toHexString} at offset $i — " +
          "the oracle embeds from codepoints (== bytes only under ASCII); " +
          "re-derive both sides from characters before admitting non-ASCII corpora")
      c(b >> 4) += 1; i += 1
    }
    if (p.isEmpty) new Array[Long](16)
    else c.map(x => math.floor(x.toDouble / p.length * 1e6 + 0.5).toLong)
  }

  /** [[mmEmbed]] over any (doc_id, payload BINARY) frame as the
    * partition-level batch operator (one iterator pass per partition —
    * the codec-call shape): (doc_id, emb ARRAY<BIGINT>). Shared by the
    * in-table path (q296/q297/q298 via [[mmEmbedFrame]]) and the
    * blob-store path (q299 feeds binaryFile content directly). */
  private def mmEmbedPayload(src: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("emb", ArrayType(LongType, containsNull = false))))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    src.select(col("doc_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          Row(r.getLong(0), mmEmbed(r.getAs[Array[Byte]](1)).toSeq)
        }
      }(enc)
  }

  /** Embed + cell-assign one batch of (doc_id, payload BINARY) rows
    * against a persisted mm index's centroids — no training or corpus
    * stage anywhere in the plan. ONE definition shared by q301's batch
    * delta and [[graft.streaming.StreamingMmEncode]]'s micro-batches
    * (the encodeAgainstIndex discipline applied to the multimodal
    * index), so the two maintenance surfaces cannot drift. Output:
    * (doc_id, cell, emb) — the q297 code-table row shape. */
  private[graft] def mmEncodeAgainstIndex(batch: org.apache.spark.sql.DataFrame,
                                          cents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    mmAssignCell(mmEmbedPayload(batch), cents)

  /** [[mmEmbedPayload]] with the q45 text→UTF-8-payload contract applied
    * to a documents frame. */
  private def mmEmbedFrame(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    mmEmbedPayload(
      docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")))

  /** q296's fixed query-payload count — ONE place, embedded into the
    * oracle WHERE (the q40 QueryCount discipline). */
  private val MmQueryCount = 3L

  /** q263's bounded blob count — ONE place, embedded into the oracle
    * WHERE. */
  private[queries] val BinFileDocs = 32L

  /** q263's at-rest BINARY FILE store: one `.bin` blob per sampled
    * document, bytes = the UTF-8 text (the q45 payload contract). The
    * driver-side write loop is bounded to [[BinFileDocs]] files — the
    * deliberate q128/q141 bounded idiom; a production corpus's blobs are
    * landed by whatever produced them, and THIS query demonstrates the
    * ingest scan, not the landing. */
  private[queries] def binaryFilesDir(spark: org.apache.spark.sql.SparkSession,
                             dir: String): String = {
    // path-only entry: the blob store is a plain directory, not a catalog
    // table — getPath registers no table names, so registry eviction never
    // attempts a DROP TABLE on a filesystem path
    val base = AtRestTables.getPath(spark, s"binfiles|$dir") { base =>
      writeBlobStore(spread(table(spark, dir, "documents")), base)
    }
    java.nio.file.Paths.get(base, "blobs").toString
  }

  /** The blob-store write, shared by the at-rest build and the q317
    * rewrite-on-purge remediation (same `doc_NNNNN.bin` layout contract
    * the ingest scan and the q311 audit parse). Caller-supplied docs
    * frame; the [[BinFileDocs]] bound is applied here so the remediated
    * copy keeps the original store's extent rule. */
  private[queries] def writeBlobStore(docs: org.apache.spark.sql.DataFrame,
                                      base: String): Unit = {
    val rows = docs.where(col("doc_id") < BinFileDocs)
      .select(col("doc_id"), col("text")).collect()
    val d = java.nio.file.Paths.get(base, "blobs")
    java.nio.file.Files.createDirectories(d)
    rows.foreach { r =>
      java.nio.file.Files.write(d.resolve(f"doc_${r.getLong(0)}%05d.bin"),
        r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** The q317 retained multimodal GENERATION — the q307 full-forget
    * rebuild applied to the mm index family: centroids re-sampled from
    * the RETAINED corpus (stride over the retained count — a cohort doc
    * can no longer be a centroid, so its raw embedding leaves the model
    * artifacts too) and every retained doc re-assigned against them
    * through the SAME [[mmAssignCell]] the serving builds use. Written
    * into the caller's remediation base dir (the q317 lifecycle owns the
    * fault points between these two writes). */
  private[queries] def writeRetainedMmGen(spark: org.apache.spark.sql.SparkSession,
                                          dir: String, base: String,
                                          centT: String, codesT: String,
                                          midFault: () => Unit): Unit = {
    // filter BEFORE the opaque embed (per-row: identical rows, and the
    // cohort predicate reaches the scan), one embed pass for both
    // consumers (centroid sample + encode) — the mmgen:pre rationale
    val retained = tcache(
      mmEmbedFrame(spread(table(spark, dir, "documents"))
        .where(!QueryBase.erasedId(col("doc_id")))), "mmg3:retained")
    val n = table(spark, dir, "documents")
      .where(!QueryBase.erasedId(col("doc_id"))).count()
    val stride = math.max(1L, n / MmCentroidBudget)
    val cents = retained.where(col("doc_id") % stride === 0)
      .select(col("doc_id").as("cent_id"), col("emb").as("ce"))
    cents.write.mode("overwrite").option("path", s"$base/mmg3cents")
      .saveAsTable(centT)
    midFault()
    mmAssignCell(retained, cents)
      .write.mode("overwrite").option("path", s"$base/mmg3codes")
      .bucketBy(MmCellBuckets, "cell").sortBy("cell").saveAsTable(codesT)
    // build-local frame, no post-build consumer (r18 ADVICE)
    QueryBase.tcacheDrop(spark, "mmg3:retained")
  }

  val oracles: Map[String, String] = Map(
    // the same byte-class fractions from ascii codes (the payload is the
    // UTF-8 encoding of ASCII text, the q45 stub contract)
    "q227_multimodal_profile" -> {
      def frac(cond: String) =
        s"floor(len(list_filter(cs, c -> $cond))::DOUBLE / len(cs) * 1000000.0 + 0.5) / 1000000.0"
      def guarded(cond: String) =
        s"CASE WHEN len(cs) = 0 THEN 0.0 ELSE ${frac(cond)} END"
      val x = graft.sql.OracleGen.xsumSql _
      s"""WITH codes AS (SELECT source,
         |  list_transform(range(1, len(text) + 1), i -> ascii(substr(text, i, 1))) AS cs
         |  FROM documents),
         |f AS (SELECT source,
         |        ${guarded("c < 97")} AS f0,
         |        ${guarded("c >= 97 AND c < 110")} AS f1,
         |        ${guarded("c >= 110 AND c < 123")} AS f2,
         |        ${guarded("c >= 123")} AS f3
         |      FROM codes)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       ${sround(s"(${x("f0", 6)}) / CAST(count(*) AS DOUBLE)", 6)} AS m0,
         |       ${sround(s"(${x("f1", 6)}) / CAST(count(*) AS DOUBLE)", 6)} AS m1,
         |       ${sround(s"(${x("f2", 6)}) / CAST(count(*) AS DOUBLE)", 6)} AS m2,
         |       ${sround(s"(${x("f3", 6)}) / CAST(count(*) AS DOUBLE)", 6)} AS m3
         |FROM f GROUP BY source""".stripMargin
    },

    "q45_multimodal_decode" -> {
      val byteSum = s"list_sum(list_transform(range(1, ${DecodeBytes + 1}), i -> ascii(substr(text, i, 1))::DOUBLE))"
      s"""SELECT doc_id,
         |       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
         |       ${sround(s"$byteSum / $DecodeBytes.0", 6)} AS f0
         |FROM documents""".stripMargin
    },

    "q57_multimodal_frames" ->
      s"""WITH $frameCtes
         |SELECT doc_id, frame, off, f_len, ${sround(s"$frameByteSum / f_len", 6)} AS f_mean
         |FROM g""".stripMargin,

    "q96_perceptual_dedup" ->
      s"""WITH $frameCtes,
         |fm AS (SELECT doc_id, frame, ${sround(s"$frameByteSum / f_len", 6)} AS f_mean
         |       FROM g WHERE frame < 4),
         |sig AS (SELECT doc_id,
         |               array_to_string(list(CAST(CAST(floor(f_mean) AS INT) AS VARCHAR)
         |                                    ORDER BY frame), '-') AS sig
         |        FROM fm GROUP BY doc_id),
         |grp AS (SELECT sig, CAST(count(*) AS BIGINT) AS group_size,
         |               min(doc_id) AS canonical_id
         |        FROM sig GROUP BY sig)
         |SELECT s.doc_id, s.sig, g2.canonical_id, g2.group_size,
         |       s.doc_id <> g2.canonical_id AS is_dup
         |FROM sig s JOIN grp g2 USING (sig)""".stripMargin,

    // the blob bytes are the UTF-8 text, so strlen (bytes) and md5 of
    // the string recompute the file facts exactly
    "q263_binaryfile_ingest" ->
      s"""SELECT doc_id, CAST(strlen(text) AS BIGINT) AS length,
         |       md5(text) AS content_md5
         |FROM documents WHERE doc_id < $BinFileDocs""".stripMargin,

    // byte-bucket embedding replayed from the (ASCII) text — ascii codes
    // ARE the payload bytes (the q45 contract); integer 1e-6 fractions,
    // BIGINT dot/norms, one terminal division + sqrt. The Spark side's
    // salted two-phase rank is bit-identical to this direct window
    // (survivor supersets), so the oracle keeps the simple form.
    "q296_multimodal_knn" ->
      s"""WITH $mmEmbCte,
         |q AS (SELECT doc_id AS query_id, e AS qe FROM emb WHERE doc_id < $MmQueryCount),
         |cand AS (SELECT q.query_id, m.doc_id FROM emb m CROSS JOIN q
         |         WHERE m.doc_id <> q.query_id),
         |$mmCosTopkSql""".stripMargin,

    // full replay of the index build: stride centroids, exact BIGINT L2
    // assignment (ties to the lowest centroid id), then the per-cell
    // manifest — green proves the persisted artifact equals a from-
    // scratch rebuild, row for row
    "q297_mm_index_build" ->
      s"""WITH $mmEmbCte,
         |$mmCentAsgCtes
         |SELECT cell, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(list_sum(list_transform(range(1, 17), i -> e[i] * i))) AS BIGINT) AS emb_sum,
         |       CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM asg JOIN emb USING (doc_id) GROUP BY cell""".stripMargin,

    // the probe replayed end to end: same centroids/assignment, each
    // query routes to its MmNProbe nearest cells, candidates are exactly
    // the probed cells' members, cosine/top-5 identical to q296's tail
    "q298_mm_index_probe" ->
      s"""WITH $mmEmbCte,
         |$mmCentAsgCtes,
         |q AS (SELECT doc_id AS query_id, e AS qe FROM emb WHERE doc_id < $MmQueryCount),
         |$mmProbeCandCte,
         |$mmCosTopkSql""".stripMargin,

    // the blob-fed probe: the q263 round trip is byte-lossless, so the
    // oracle re-derives the blob queries' embeddings from the documents
    // the blobs were written from — same index replay, q299's query set
    "q299_blob_extract_ann" ->
      s"""WITH $mmEmbCte,
         |$mmCentAsgCtes,
         |q AS (SELECT doc_id AS query_id, e AS qe FROM emb
         |      WHERE doc_id < $BinFileDocs AND doc_id % $MmBlobQueryMod = $MmBlobQueryRes),
         |$mmProbeCandCte,
         |$mmCosTopkSql""".stripMargin,

    // recall@5 replayed whole: the brute truth (bcand/br) and the probe
    // (pc/cand/r) rank side by side from the same emb/q CTEs, then the
    // per-query hit counts fold exactly like the Spark harness
    "q300_mm_recall" ->
      s"""WITH $mmEmbCte,
         |$mmCentAsgCtes,
         |q AS (SELECT doc_id AS query_id, e AS qe FROM emb WHERE doc_id < $MmQueryCount),
         |bcand AS (SELECT q.query_id, m.doc_id FROM emb m CROSS JOIN q
         |          WHERE m.doc_id <> q.query_id),
         |${mmCosCtes("b")},
         |$mmProbeCandCte,
         |${mmCosCtes("")},
         |truth AS (SELECT query_id, doc_id FROM br WHERE rn <= 5),
         |appr AS (SELECT query_id, doc_id FROM r WHERE rn <= 5),
         |hits AS (SELECT t.query_id, CAST(count(*) AS BIGINT) AS h
         |         FROM truth t JOIN appr a USING (query_id, doc_id)
         |         GROUP BY t.query_id),
         |uq AS (SELECT DISTINCT query_id FROM truth)
         |SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |       ${sround("CAST(sum(coalesce(h, 0)) AS DOUBLE) / (count(*) * 5)", 6)} AS recall_at_5
         |FROM uq LEFT JOIN hits USING (query_id)""".stripMargin,

    // the incremental batch's cell assignment replayed from the full
    // build arithmetic — equality proves batch-encode == rebuild-encode
    "q301_mm_incremental_encode" ->
      s"""WITH $mmEmbCte,
         |$mmCentAsgCtes
         |SELECT doc_id, cell FROM asg
         |WHERE doc_id < $BinFileDocs AND doc_id % $MmIncrMod = $MmIncrRes""".stripMargin,

    // both generations replayed from first principles: gen-1 centroids
    // stride-sample the PRE-ARRIVAL corpus, the shared asg assigns EVERY
    // doc against them (gen 1 = the pre-arrival members, gen 2 = all —
    // exactly blue ∪ delta, since the delta encodes against the frozen
    // centroids), and the two probes rank side by side through the
    // shared cosine CTEs. Green proves pinned-serve == pre-rebuild AND
    // fresh-serve == post-append rebuild in one row set.
    "q303_mm_index_generations" ->
      s"""WITH $mmEmbCte,
         |cents AS (SELECT doc_id AS cent_id, e AS ce FROM emb
         |  WHERE doc_id % $MmIncrMod <> $MmIncrRes
         |    AND doc_id % (SELECT greatest(1, count(*) // $MmCentroidBudget)
         |                  FROM documents WHERE doc_id % $MmIncrMod <> $MmIncrRes) = 0),
         |dist AS (SELECT m.doc_id, c.cent_id,
         |    list_sum(list_transform(range(1, 17), i -> (m.e[i] - c.ce[i]) * (m.e[i] - c.ce[i]))) AS d2
         |  FROM emb m CROSS JOIN cents c),
         |asg AS (SELECT doc_id, cent_id AS cell FROM (
         |    SELECT doc_id, cent_id,
         |           row_number() OVER (PARTITION BY doc_id ORDER BY d2, cent_id) AS rn
         |    FROM dist) WHERE rn = 1),
         |q AS (SELECT doc_id AS query_id, e AS qe FROM emb WHERE doc_id < $MmQueryCount),
         |pc AS (SELECT query_id, cell FROM (
         |    SELECT q.query_id, c.cent_id AS cell,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY
         |        list_sum(list_transform(range(1, 17), i -> (q.qe[i] - c.ce[i]) * (q.qe[i] - c.ce[i]))), c.cent_id) AS pr
         |    FROM q CROSS JOIN cents c) WHERE pr <= $MmNProbe),
         |cand AS (SELECT pc.query_id, a.doc_id FROM pc JOIN asg a USING (cell)
         |         WHERE a.doc_id <> pc.query_id
         |           AND a.doc_id % $MmIncrMod <> $MmIncrRes),
         |gcand AS (SELECT pc.query_id, a.doc_id FROM pc JOIN asg a USING (cell)
         |          WHERE a.doc_id <> pc.query_id),
         |${mmCosCtes("")},
         |${mmCosCtes("g")}
         |SELECT 1 AS gen, query_id, doc_id, cos FROM r WHERE rn <= 5
         |UNION ALL
         |SELECT 2 AS gen, query_id, doc_id, cos FROM gr WHERE rn <= 5""".stripMargin,

    // the q298 replay with the erased cohort barred from candidacy (the
    // exclusion rides the cand CTE, exactly where the tombstone anti
    // join cuts) — equality proves the tombstoned mm index serves what a
    // read-time-filtered rebuild would
    "q310_erasure_mm_serve" ->
      s"""WITH $mmEmbCte,
         |$mmCentAsgCtes,
         |q AS (SELECT doc_id AS query_id, e AS qe FROM emb WHERE doc_id < $MmQueryCount),
         |${mmProbeCandCteWhere(s" AND NOT ${QueryBase.erasedSql("a.doc_id")}")},
         |$mmCosTopkSql""".stripMargin
  )

  /** The shared byte-bucket embedding CTEs (`codes`, `emb`) — ONE
    * definition feeds q296/q297/q298/q299 so the four oracle replays
    * cannot drift from each other (the Spark side shares [[mmEmbed]] the
    * same way). Ascii codepoints ARE the payload bytes under the
    * all-ASCII contract [[mmEmbed]] asserts loudly. */
  private def mmEmbCte: String =
    s"""codes AS (SELECT doc_id,
       |  list_transform(range(1, len(text) + 1),
       |                 i -> ascii(substr(text, i, 1)) // 16) AS bs
       |  FROM documents),
       |emb AS (SELECT doc_id,
       |  list_transform(range(0, 16), b -> CASE WHEN len(bs) = 0 THEN CAST(0 AS BIGINT)
       |    ELSE CAST(floor(len(list_filter(bs, x -> x = b))::DOUBLE / len(bs) * 1000000.0 + 0.5) AS BIGINT) END) AS e
       |  FROM codes)""".stripMargin

  /** Stride centroids + exact BIGINT L2 cell assignment (`cents`, `asg`)
    * — mirrors [[mmIndexTables]]' build arithmetic term for term. */
  private def mmCentAsgCtes: String =
    s"""cents AS (SELECT doc_id AS cent_id, e AS ce FROM emb
       |  WHERE doc_id % (SELECT greatest(1, count(*) // $MmCentroidBudget) FROM documents) = 0),
       |dist AS (SELECT m.doc_id, c.cent_id,
       |    list_sum(list_transform(range(1, 17), i -> (m.e[i] - c.ce[i]) * (m.e[i] - c.ce[i]))) AS d2
       |  FROM emb m CROSS JOIN cents c),
       |asg AS (SELECT doc_id, cent_id AS cell FROM (
       |    SELECT doc_id, cent_id,
       |           row_number() OVER (PARTITION BY doc_id ORDER BY d2, cent_id) AS rn
       |    FROM dist) WHERE rn = 1)""".stripMargin

  /** Probe routing + candidate set (`pc`, `cand`) for a `q` CTE carrying
    * (query_id, qe): each query's [[MmNProbe]] nearest cells, then the
    * probed cells' members minus self — mirrors [[mmProbe]]. */
  private def mmProbeCandCte: String = mmProbeCandCteWhere("")

  /** [[mmProbeCandCte]] with an extra candidate predicate — q310 bars
    * the erased cohort from candidacy here, mirroring its tombstone
    * anti join. */
  private def mmProbeCandCteWhere(extra: String): String =
    s"""pc AS (SELECT query_id, cell FROM (
       |    SELECT q.query_id, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        list_sum(list_transform(range(1, 17), i -> (q.qe[i] - c.ce[i]) * (q.qe[i] - c.ce[i]))), c.cent_id) AS pr
       |    FROM q CROSS JOIN cents c) WHERE pr <= $MmNProbe),
       |cand AS (SELECT pc.query_id, a.doc_id FROM pc JOIN asg a USING (cell)
       |         WHERE a.doc_id <> pc.query_id$extra)""".stripMargin

  /** The exact-cosine + rank CTEs over a `${p}cand` CTE of (query_id,
    * doc_id) — mirrors [[mmCosine]]'s BIGINT dot/norms and the direct
    * per-query rank [[saltedTop5]] is bit-identical to. The prefix lets
    * one statement carry two scored pipelines (q300 ranks the brute
    * truth and the probe side by side). */
  private def mmCosCtes(p: String): String =
    s"""${p}sc AS (SELECT cd.query_id, cd.doc_id,
       |         CAST(list_sum(list_transform(range(1, 17), i -> qq.qe[i] * m.e[i])) AS BIGINT) AS dot,
       |         CAST(list_sum(list_transform(qq.qe, v -> v * v)) AS BIGINT) AS n1,
       |         CAST(list_sum(list_transform(m.e, v -> v * v)) AS BIGINT) AS n2
       |       FROM ${p}cand cd JOIN emb m ON m.doc_id = cd.doc_id
       |                    JOIN q qq ON qq.query_id = cd.query_id),
       |${p}cosd AS (SELECT query_id, doc_id,
       |           CASE WHEN n1 > 0 AND n2 > 0
       |                THEN ${sround("CAST(dot AS DOUBLE) / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))", 6)}
       |                ELSE 0.0 END AS cos
       |         FROM ${p}sc),
       |${p}r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rn
       |      FROM ${p}cosd)""".stripMargin

  /** [[mmCosCtes]] + the top-5 SELECT — the statement tail q296/q298/q299
    * share. */
  private def mmCosTopkSql: String =
    s"""${mmCosCtes("")}
       |SELECT query_id, doc_id, cos FROM r WHERE rn <= 5""".stripMargin

  /** Shared q57/q96 frame-geometry CTE chain (mirrors the Spark-side
    * fan-out in q57): frame offsets and true (tail-shortened) lengths. */
  private def frameCtes: String =
    s"""d AS (SELECT doc_id, text, CAST(octet_length(encode(text)) AS INT) AS n_bytes FROM documents),
       |f AS (SELECT doc_id, text, n_bytes,
       |             unnest(range(0, (n_bytes - 1) // $FrameStride + 1)) AS frame
       |      FROM d),
       |g AS (SELECT doc_id, text, CAST(frame AS INT) AS frame,
       |             CAST(frame * $FrameStride AS INT) AS off,
       |             CAST(least($FrameBytes, n_bytes - frame * $FrameStride) AS INT) AS f_len
       |      FROM f)""".stripMargin

  /** The stub "decode": mean of the frame's payload bytes, reproduced from
    * ascii() because the payload is the UTF-8 encoding of the ASCII text. */
  private def frameByteSum: String =
    "list_sum(list_transform(range(off + 1, off + f_len + 1), i -> ascii(substr(text, i, 1))::DOUBLE))"
}
