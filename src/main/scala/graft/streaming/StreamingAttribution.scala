package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** q318's pipeline drop attribution LIVE — the data-side EXPLAIN of the
  * training funnel maintained as documents arrive, instead of recomputed
  * over the corpus after the fact. Each arriving document is attributed
  * to the FIRST stage that drops it (language → quality → exact-dup →
  * near-dup → kept) through the SAME arithmetic as the batch report:
  * the per-doc signals are [[graft.queries.TextQueries.pipelineFeatureFrame]]
  * (the q294 projection), the gate is the shared `pipeIsQual`, the
  * stage chain is the shared `attributionStageCol`, and the readout
  * aggregates through the shared `attributionReport` — so the live
  * report and the oracle-gated q318 cannot drift.
  *
  * Live canonical semantics are FIRST-SEEN ([[StreamingDedup]]'s
  * contract): the earliest quality-passing arrival of a content hash is
  * its exact canonical, and the earliest elected exact canonical of a
  * simhash is its near-dup canonical — within a micro-batch, ties break
  * to the smallest doc_id, so the election order is the (seq, doc_id)
  * lexicographic minimum (seq = micro-batch id, stamped on every stored
  * row). Replaying the corpus in doc_id order therefore reproduces the
  * batch report's min-doc_id canonicals BIT-EXACTLY
  * (StreamingAttributionSpec proves it, share rounding included). Under
  * out-of-order arrival the elected canonical may differ from batch
  * min-doc_id (two raw texts can share a normalized hash but carry
  * different simhashes), which is the defined live behavior, not a bug.
  *
  * Store protocol: [[GenerationalStore]] over four parts landed per
  * micro-batch — `att` (the attribution rows, carrying the election
  * features seq/h/simhash/qpass beside the served stage), `ecan`
  * (h, doc_id: exact canonicals ELECTED this batch), `ncan`
  * (simhash, doc_id: near canonicals elected this batch), `fgt` (doc_id:
  * forget requests landed this batch, usually empty) — a batch is
  * visible only when all four committed (torn batches invisible), a
  * replayed id no-ops (its content is a deterministic function of the
  * batch's rows and committed prior batches), and the roll-up keeps the
  * store bounded under an unbounded document firehose. Each batch's
  * election anti-joins ONLY the committed prior `ecan`/`ncan` keys —
  * O(batch + canonical-store), no corpus rescan; at 100 TB the
  * canonical stores are the dedup state a production firehose keeps
  * anyway, range-clustered by key at each roll-up so the per-batch anti
  * join prunes to the probed key ranges.
  *
  * FORGETTING is executed, not declared (the [[StreamingStateErasure]]
  * census does not apply — no GroupState; all cross-batch state is at
  * rest, so erasure rides the store's own lifecycle): a forget record
  * for doc_id d arrives IN-BAND (the [[StreamingStateErasure]] idiom —
  * the forget wins its batch and [[writeBatch]] drops d at the door
  * thereafter, exactly as `erasureGate` does for streams), lands in
  * `fgt` under the same idempotent commit, and takes effect in two
  * layers, the CoW/MoR pair every erasure store here serves:
  *
  *  - MERGE-ON-READ, immediately: while forgets are unfolded,
  *    [[report]]/[[servedAttribution]] re-derive every election and
  *    stage from the SURVIVING rows' stored features through
  *    [[attributionFromFeatures]] — the (seq, doc_id) first-seen
  *    election replayed over a corpus that never contained the cohort,
  *    so a doc that was `3_exact_dup` only against an erased canonical
  *    comes back `4_near_dup`/`5_kept`, exactly as if the cohort never
  *    streamed (spec-proven bit-equal to such a stream).
  *  - COPY-ON-WRITE, at the next [[compactStore]]: the roll-up drops
  *    cohort rows, re-materializes the re-derived stages, and rebuilds
  *    `ecan`/`ncan` from the survivors (deposed hashes re-elect; a
  *    re-arriving erased id stays door-gated by the retained `fgt`
  *    tombstones) — after which the no-forget fast path serves again.
  *
  * Interim elections between a forget and its fold may cache a
  * later-arriving doc as an orphaned hash's canonical; both the MoR
  * serve and the fold re-derive from row features and IGNORE the cached
  * stores, so the served answer is unaffected (the stores are an
  * election cache for the steady state, rebuilt at every fold).
  *
  * Reference context: the attribution stages mirror the reference's
  * filter-cascade reading of corpus prep (symtseries has no pipeline
  * analogue; the stage arithmetic is q294's, see TextQueries). */
object StreamingAttribution {

  private val Subs = Seq("att", "ecan", "ncan", "fgt")

  /** The store's generational-compaction state (ONE discipline with the
    * erasure and postings stores — see [[GenerationalStore]]). */
  private def store(outDir: String) = new GenerationalStore(outDir, Subs)

  /** The stored attribution schema — stage beside the election features
    * that make forgetting re-derivable. A reader racing the first
    * micro-batch gets an EMPTY frame of this shape, not a crash. */
  val attSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("seq", LongType, nullable = false),
      StructField("h", StringType),
      StructField("simhash", LongType),
      StructField("pred_lang", StringType),
      StructField("n_tokens", IntegerType),
      StructField("qpass", BooleanType, nullable = false),
      StructField("stage", StringType)))
  }

  /** Mark a frame of (doc_id) rows as in-band forget records for
    * [[start]]'s input stream: a document row carries its text; a forget
    * row carries `__forget = true`. */
  def forgetRecords(ids: DataFrame): DataFrame =
    ids.select(col("doc_id"), lit(null: String).as("text"),
      lit(true).as("__forget"))

  /** Attribute one micro-batch against the committed prior canonical
    * state and land the (att, ecan, ncan, fgt) quadruple (exposed
    * separately so the replay and crash paths are testable). Rows with
    * `__forget = true` (when the column is present) are forget requests:
    * they land as `fgt` tombstones, win their batch (a same-batch doc
    * row for the id is dropped), and gate the id's later re-arrivals at
    * the door. An APPLIED id — rolled into the active generation or
    * fully committed loose — replays as a no-op: its content is a
    * deterministic function of (batch rows, committed priors), and the
    * overwrite would transiently un-publish the batch mid-replay. */
  def writeBatch(batch: DataFrame, outDir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val st = store(outDir)
    // `prior`: committed state STRICTLY below this id — a replayed id
    // must not anti-join against its own previous (possibly torn) run
    st.landBatch(spark, batchId) { prior =>
      val hasForget = batch.columns.contains("__forget")
      val newFgt =
        (if (hasForget) batch.where(col("__forget")) else batch.limit(0))
          .select("doc_id").distinct().coalesce(1).cache()
      val priorFgt = st.readPart(spark, "fgt", prior).map(_.select("doc_id"))
      // the full gate: previously-forgotten ids plus this batch's forgets
      // (the forget wins its batch)
      val gate = priorFgt.map(_.unionByName(newFgt)).getOrElse(newFgt)
      val docRows =
        (if (hasForget) batch.where(!coalesce(col("__forget"), lit(false)))
         else batch)
          .select(col("doc_id"), col("text"))
          .join(gate, Seq("doc_id"), "left_anti")
      val feat = graft.queries.TextQueries.pipelineFeatureFrame(docRows).cache()
      try {
        val q = feat.where(graft.queries.TextQueries.pipeIsQual)
        // deposed canonicals (their doc erased — by any forget known at
        // this batch, same-batch included: the forget wins its batch)
        // leave the election cache: re-arriving content elects a fresh
        // survivor, the StreamingDedup forgetting contract
        def undeposed(sub: String, key: String): Option[DataFrame] =
          st.readPart(spark, sub, prior).map(p =>
            p.join(gate, Seq("doc_id"), "left_anti").select(key))
        val priorE = undeposed("ecan", "h")
        val priorN = undeposed("ncan", "simhash")
        // no broadcast hint on the prior store: it grows with the corpus
        // (the batch is the SMALL side of this anti join). The roll-up
        // range-clusters it by probe key, so Spark's runtime bloom filter
        // plus row-group min/max stats prune the store scan to the key
        // ranges this batch actually probes — O(batch) effective work.
        val newE = priorE.map(p => q.join(p, Seq("h"), "left_anti"))
          .getOrElse(q)
          .groupBy("h").agg(min("doc_id").as("doc_id"))
        val ekDocs = q.join(newE, Seq("h", "doc_id"), "left_semi")
        // near canonicals elected this batch: min doc_id per simhash among
        // the freshly-elected exact canonicals with an unseen simhash
        val newN = priorN.map(p =>
            ekDocs.join(p, Seq("simhash"), "left_anti"))
          .getOrElse(ekDocs)
          .groupBy("simhash").agg(min("doc_id").as("doc_id"))
        val nkDocs = ekDocs.join(newN, Seq("simhash", "doc_id"), "left_semi")
        val att = feat
          .join(ekDocs.select(col("doc_id"), lit(1L).as("__ex")),
            Seq("doc_id"), "left")
          .join(nkDocs.select(col("doc_id"), lit(1L).as("__nr")),
            Seq("doc_id"), "left")
          .select(col("doc_id"), lit(batchId).as("seq"), col("h"),
            col("simhash"), col("pred_lang"), col("n_tokens"),
            graft.queries.TextQueries.pipeIsQual.as("qpass"),
            graft.queries.TextQueries.attributionStageCol(
              graft.queries.TextQueries.pipeQualFail,
              col("__ex").isNotNull, col("__nr").isNotNull).as("stage"))
        att.write.mode("overwrite").parquet(s"$outDir/att/batch=$batchId")
        newE.write.mode("overwrite").parquet(s"$outDir/ecan/batch=$batchId")
        newN.write.mode("overwrite").parquet(s"$outDir/ncan/batch=$batchId")
        newFgt.write.mode("overwrite").parquet(s"$outDir/fgt/batch=$batchId")
      } finally { feat.unpersist(); newFgt.unpersist(); () }
    }
  }

  /** Start attributing a stream of (doc_id, text) rows — optionally
    * carrying in-band [[forgetRecords]]. `compactEvery` runs
    * [[compactStore]] inside the stream every k-th batch, so forgets fold
    * into the store on the same cadence. */
  def start(docs: DataFrame, outDir: String, checkpoint: String,
            compactEvery: Option[Long] = None): StreamingQuery =
    store(outDir).start(docs, checkpoint, compactEvery)(
      writeBatch(_, outDir, _), compactStore(_, outDir))

  /** The (seq, doc_id) first-seen election re-derived from stored row
    * features — ONE definition for the MoR serve under unfolded forgets,
    * the compaction's re-materialization, and the spec's
    * never-saw-the-cohort equivalence proof. Input: `att`-shaped rows
    * (already cohort-filtered). Output: the same rows with `stage`
    * recomputed. Elections are per-group minima (two combinable
    * aggregations + semi joins — no corpus-wide window). */
  private[streaming] def attributionFromFeatures(rows: DataFrame): DataFrame = {
    val q = rows.where(col("qpass"))
    val eMin = q.groupBy("h")
      .agg(min(struct(col("seq"), col("doc_id"))).as("m"))
      .select(col("h"), col("m.doc_id").as("doc_id"))
    val ekDocs = q.join(eMin, Seq("h", "doc_id"), "left_semi")
    val nMin = ekDocs.groupBy("simhash")
      .agg(min(struct(col("seq"), col("doc_id"))).as("m"))
      .select(col("simhash"), col("m.doc_id").as("doc_id"))
    rows.drop("stage")
      .join(eMin.select(col("doc_id"), lit(1L).as("__ex")), Seq("doc_id"), "left")
      .join(nMin.select(col("doc_id"), lit(1L).as("__nr")), Seq("doc_id"), "left")
      .withColumn("stage", graft.queries.TextQueries.attributionStageCol(
        !col("qpass"), col("__ex").isNotNull, col("__nr").isNotNull))
      .select(attSchema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** The served per-doc attributions. Steady state (no unfolded
    * forgets): the stored stages, as landed. With unfolded forget
    * tombstones: the MoR path — survivors' stages re-derived through
    * [[attributionFromFeatures]], bit-equal to a stream that never saw
    * the cohort. The generation is resolved ONCE and threaded through
    * every part read (the r17 consistent-pair rule). */
  def servedAttribution(spark: SparkSession, outDir: String): DataFrame = {
    val st = store(outDir)
    val snap = st.snapshot(spark)
    val att = st.read(spark, "att", snap, attSchema)
    // loose (unfolded) forgets force the MoR re-derivation; the
    // generation's own fgt rows are already folded into its att part
    val looseFgt = st.readPart(spark, "fgt", new StoreSnapshot(None, snap.ids))
      .map(_.select("doc_id").distinct())
    looseFgt match {
      case Some(f) if !f.isEmpty =>
        attributionFromFeatures(att.join(f, Seq("doc_id"), "left_anti"))
      case _ => att
    }
  }

  /** The live q318 report — the shared `attributionReport` aggregation
    * over the served attributions, bit-identical to the batch report
    * after an in-order replay of the same corpus (and, after forgets,
    * to a replay that never contained the cohort). */
  def report(spark: SparkSession, outDir: String): DataFrame =
    graft.queries.TextQueries.attributionReport(
      servedAttribution(spark, outDir)
        .select("stage", "pred_lang", "n_tokens"))

  /** Roll every fully-landed batch into one generation so the directory
    * count and the read-side path list stay bounded — and FOLD the
    * accumulated forgets (the CoW leg): cohort rows leave `att`, the
    * surviving stages are re-materialized through the shared
    * re-derivation, and `ecan`/`ncan` are rebuilt from the survivors so
    * no cohort doc_id remains anywhere but the retained `fgt`
    * tombstones (which keep gating re-arrivals at the door).
    * Range-clustered for serving: `att` by doc_id (the audit-scan
    * layout), `ecan`/`ncan` by their probe keys so the per-batch anti
    * join prunes. Returns the active coverage. */
  def compactStore(spark: SparkSession, outDir: String): Option[Long] = {
    val st = store(outDir)
    st.compact(spark) { (covered, land) =>
      def part(sub: String): DataFrame = st.readPart(spark, sub, covered).get
      val fgt = part("fgt").select("doc_id").distinct()
      val survivors = part("att").join(fgt, Seq("doc_id"), "left_anti")
      // re-derive only when forgets exist: the steady-state roll-up is a
      // pure union and must stay one (stored stages are already exact)
      val att =
        if (fgt.isEmpty) survivors else attributionFromFeatures(survivors)
      val attC = att.cache()
      try {
        val ecan = attC.where(col("stage").isin("4_near_dup", "5_kept"))
          .select("h", "doc_id")
        val ncan = attC.where(col("stage") === "5_kept")
          .select("simhash", "doc_id")
        land(Map(
          "att" -> attC.repartitionByRange(4, col("doc_id")),
          "ecan" -> ecan.repartitionByRange(4, col("h")),
          "ncan" -> ncan.repartitionByRange(4, col("simhash")),
          "fgt" -> fgt.coalesce(1)))
      } finally { attC.unpersist(); () }
    }
  }
}
