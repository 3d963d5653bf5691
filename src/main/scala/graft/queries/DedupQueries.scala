package graft.queries

import graft.SparkUtil.table
import graft.text.TextHash
import graft.sql.OracleGen.{dlit, sround, xsumSql}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryBase._

/** Deduplication operators over the `documents` table: exact (normalized
  * hash), MinHash+LSH near-dup candidate generation with Jaccard
  * verification, and SimHash with banded Hamming pairing.
  *
  * All hashes derive from md5 hex (identical in Spark and DuckDB); the
  * minhash permutation constants live in [[TextHash]] and are embedded into
  * the oracle SQL from the same arrays, so both engines compute the same
  * signatures.
  *
  * Scale notes: LSH banding turns the O(n²) near-dup problem into
  * equi-joins on band keys — at 100 TB this is a shuffle on a
  * high-cardinality key with bounded bucket sizes (band rows tuned so
  * P(collision) ≈ jaccard^rows). The exact-dedup groupBy is map-side
  * combinable; candidate verification joins only the candidate pairs, never
  * the full cross product.
  */
object DedupQueries {

  import TextHash.{BandRows, HashA, HashB, NumBands, NumHashes, P}

  /** q52's exact-join threshold. Shared with the oracle via [[dlit]] so
    * both engines run the identical IEEE ceil(t*|x|) prefix bound. */
  private val JaccardThreshold = 0.6

  /** q103 Bloom geometry: BloomM bit positions, BloomK probes per shingle
    * via double hashing off two md5 slices — ONE place, embedded into the
    * oracle SQL from here. m is the structure's total size bound: the
    * position set is ≤ BloomM rows at ANY corpus size, which is what
    * makes the filter broadcastable at 100 TB. Sized ~25 bits per
    * test-split shingle at the test corpora (~2.6k keys): fill ≈ 11%,
    * fp ≈ 0.11³ ≈ 0.14% — a realistic working filter that still
    * produces tens of false positives over the ~21k train-side probes,
    * so the fp accounting stays exercised (the spec asserts both). At
    * 100 TB you re-size m to the actual test-set cardinality the same
    * way; the plan shape is independent of m. */
  private val BloomM = 65536L
  private val BloomK = 3

  /** q144 PageRank constants — ONE place, embedded into the oracle SQL
    * (damping via [[dlit]], iteration count unrolls both CTE chains). */
  private val PrDamp = 0.85
  private val PrIters = 3

  /** q108 HyperLogLog geometry: 2^[[HllP]] registers over the 60-bit md5
    * hash — bucket = top 8 bits, rank = leading-zero position in the
    * remaining 52. The whole estimator stays on an INTEGER path so the
    * oracle replays it exactly: rank via a generated comparison ladder
    * (never floor(log2) — 2^k boundaries round wrong), the harmonic sum
    * as Σ 2^(53−r) in BIGINT (≤ 2^61, exact), and the one long→double
    * cast at the end is IEEE round-to-nearest on both engines.
    * [[HllAlphaC]] = α_m·m²·2^53 is folded in Scala and embedded via
    * dlit. */
  private val HllP = 8
  private val HllM = 1 << HllP
  private val HllAlphaC: Double =
    0.7213 / (1 + 1.079 / HllM) * HllM * HllM * math.pow(2, 53)

  /** q108's register build over any frame's string item column: bucket =
    * top 8 of the 60-bit hash (shiftrightunsigned ≡ `div 2^52` for
    * non-negative h), rank = the generated leading-zero ladder, ONE
    * combinable max aggregation. Shared with the STREAMING register
    * maintenance ([[graft.streaming.SketchStreaming]]) so the two
    * surfaces cannot drift — HLL registers only ever grow under max,
    * which is also why the streaming aggregation state is the bounded
    * 256-row table itself. */
  private[graft] def hllRegisters(items: org.apache.spark.sql.DataFrame,
                                  itemCol: String,
                                  groupCols: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val h = conv(substring(md5(col(itemCol)), 1, 15), 16, 10).cast("long")
    val rest = h.bitwiseAND(lit((1L << 52) - 1))
    val rank = (50 to 0 by -1).foldLeft(
        when(rest >= lit(1L << 51), lit(1))) {
      case (acc, b) => acc.when(rest >= lit(1L << b), lit(52 - b))
    }.otherwise(lit(53))
    items.select(groupCols.map(col) ++
        Seq(shiftrightunsigned(h, 52).as("bucket"), rank.as("rk")): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*).agg(max("rk").as("r"))
  }

  /** The q108 estimator chain over a frame with (n_buckets, s_present) —
    * v_zero / linear-counting switch / rounded raw estimate. Shared by
    * q108 and the q120 merge proof so the formula exists once. */
  private def hllEstCols(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.withColumn("v_zero", lit(HllM.toLong) - col("n_buckets"))
      .withColumn("s_total", col("s_present") + col("v_zero") * lit(1L << 53))
      .withColumn("raw_est", pround(lit(HllAlphaC) / col("s_total").cast("double"), 6))
      .withColumn("est",
        when(col("raw_est") <= lit(2.5 * HllM) && col("v_zero") > 0,
          pround(lit(HllM.toDouble) * pround(log(lit(HllM.toDouble) / col("v_zero")), 6), 6))
          .otherwise(col("raw_est")))

  /** q232's sweep geometries and per-p α·m²·2^K (K = 61 − p, the harmonic
    * scale of the (60−p)-bit rank domain; p=8 reproduces [[HllAlphaC]]).
    * α uses the canonical small-m constants below 128 registers. ONE
    * definition feeds the Spark chains and the oracle SQL. */
  private[graft] val HllSweepPs = Seq(6, 8, 10)
  private[graft] val CmsSweepWs = Seq(256L, 1024L, 4096L)
  private[graft] val KmvSweepKs = Seq(16, 64, 256)
  private[graft] def hllSweepAlphaC(p: Int): Double = {
    val m = 1 << p
    val alpha =
      if (m <= 16) 0.673 else if (m <= 32) 0.697
      else if (m <= 64) 0.709 else 0.7213 / (1 + 1.079 / m)
    alpha * m * m * math.pow(2, 61 - p)
  }

  /** q151's item stream: (day, user-id-as-string) — ONE definition feeds
    * the at-rest base build, the delta batch, and the exact side, so the
    * three surfaces cannot drift. Integers render identically as strings
    * in Spark and DuckDB, so md5(uid) agrees across engines. */
  private def dayUsers(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.select(QueryBase.tsUs(df).as("ts_us"), col("user_id"))
      .select(expr(s"ts_us div ${RelQueries.DayUs}").as("day"),
        col("user_id").cast("string").as("uid"))

  /** q151's at-rest HLL REGISTER MV: per-(day, bucket) registers of the
    * distinct-users sketch over the "already ingested" 90% (the q138
    * split rule). Bounded at days × [[HllM]] rows no matter the event
    * volume — the pre-aggregated approximate rollup a dashboard reads. */
  private def hllMvBaseTable(spark: org.apache.spark.sql.SparkSession,
                             dir: String): String =
    AtRestTables.get(spark, s"hllmv|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val t = s"graft_events_hllmv_$sfx"
      hllRegisters(dayUsers(table(spark, dir, "events")
          .where(col("event_id") % 10 =!= 0)), "uid", Seq("day"))
        .write.mode("overwrite").option("path", s"$base/hllmv").saveAsTable(t)
      Seq(t)
    }.head

  /** q311's SKETCH-contamination measure: registers of the persisted
    * q151 HLL MV that would CHANGE if the flagged cohort's events were
    * removed — a max-merged register is NOT subtractable (unlike the
    * q138 additive partials), so the only erasure a sketch admits is a
    * rebuild from the retained stream (policy `rebuild_from_retained`,
    * bounded at days × m rows), and until that runs the ledger carries
    * HOW MUCH of the sketch state is contaminated. Measured against the
    * persisted bytes: recompute the retained registers through the SAME
    * [[hllRegisters]] derivation and count persisted (day, bucket) rows
    * whose register differs or disappears (a retained register can never
    * exceed the persisted max over a superset, and a bucket present in
    * the retained recompute is present in the persisted MV — so the left
    * join sees every difference). */
  private[queries] def hllContaminationCount(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      flagged: org.apache.spark.sql.Column): DataFrame =
    hllContaminationCountOf(spark.table(hllMvBaseTable(spark, dir)),
      retainedHllRegisters(spark, dir, flagged))

  /** The retained-cohort register recompute — the q151 derivation over
    * retained ingested events. ONE definition feeding the contamination
    * baseline AND q315's `rebuild_from_retained` execution, so the
    * rebuilt MV is zero-contaminated by shared construction. */
  private[queries] def retainedHllRegisters(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      flagged: org.apache.spark.sql.Column): DataFrame =
    hllRegisters(dayUsers(table(spark, dir, "events")
      .where(col("event_id") % 10 =!= 0).where(!flagged)), "uid", Seq("day"))

  /** Contamination of an arbitrary persisted register MV against a
    * retained recompute (see [[hllContaminationCount]]'s left-join
    * argument for why the join sees every difference). */
  private[queries] def hllContaminationCountOf(
      persisted: DataFrame, retained: DataFrame): DataFrame =
    persisted.join(retained.withColumnRenamed("r", "r_ret"),
        Seq("day", "bucket"), "left")
      .where(col("r_ret").isNull || col("r") =!= col("r_ret"))
      .agg(count(lit(1)).as("erased_rows"))

  /** The DuckDB twin of [[hllContaminationCount]] as a WITH-fragment
    * (CTEs `hc_p`/`hc_r`/`hc`, final count in `hc.c`) — spliced into the
    * q311 estate-ledger oracle. Mirrors the q151 oracle's register
    * derivation term for term. */
  /** The DuckDB twin of the q151 register derivation as a named
    * WITH-fragment pair (`<name>0`, `<name>`) — shared by the q311
    * contamination oracle and the q315 retained-rebuild oracle. */
  private def hllRegsSql(name: String, extraWhere: String): String = {
    val ladder = (51 to 0 by -1)
      .map(b => s"WHEN rest >= ${1L << b} THEN ${52 - b}").mkString(" ")
    s"""${name}0 AS (SELECT epoch_us(ts) // ${graft.queries.RelQueries.DayUs} AS day,
       |              ${graft.sql.TextSql.hexcast("CAST(user_id AS VARCHAR)")} AS h
       |       FROM events WHERE event_id % 10 <> 0$extraWhere),
       |$name AS (SELECT day, bucket, max(CASE $ladder ELSE 53 END) AS r FROM (
       |    SELECT day, h // ${1L << 52} AS bucket, h % ${1L << 52} AS rest FROM ${name}0)
       |  GROUP BY day, bucket)""".stripMargin
  }

  private def retainedWhereSql: String =
    s" AND NOT user_id % ${graft.queries.RelQueries.PurgeUserMod} = ${graft.queries.RelQueries.PurgeUserRes}"

  private[queries] def hllContaminationSql: String =
    s"""${hllRegsSql("hc_p", "")},
       |${hllRegsSql("hc_r", retainedWhereSql)},
       |hc AS (SELECT CAST(count(*) AS BIGINT) AS c
       |       FROM hc_p LEFT JOIN (SELECT day, bucket, r AS r2 FROM hc_r)
       |         USING (day, bucket)
       |       WHERE r2 IS NULL OR r <> r2)""".stripMargin

  /** CTE counting the retained-rebuild register rows (`hrc.c`) — the
    * q315 oracle's expected retained_rows for the rebuilt HLL MV. */
  private[queries] def hllRetainedCountSql: String =
    s"""${hllRegsSql("hr", retainedWhereSql)},
       |hrc AS (SELECT CAST(count(*) AS BIGINT) AS c FROM hr)""".stripMargin

  /** q109 count-min geometry: d rows × w counters, row hashes via the
    * bloom-style double hashing off two md5 slices. Pure integer
    * arithmetic end to end. */
  private[graft] val CmsW = 1024L
  private[graft] val CmsD = 3
  private val CmsTopK = 10

  /** The d (row, position) pairs of one item — ONE definition shared by
    * the counter build and q109's probe side (drift here would break the
    * never-undercount guarantee silently). */
  private def cmsIpCols(item: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h1 = conv(substring(md5(item), 1, 15), 16, 10).cast("long")
    val h2 = conv(substring(md5(item), 16, 15), 16, 10).cast("long")
    array((0 until CmsD).map(i =>
      struct(lit(i).as("i"), ((h1 + lit(i.toLong) * h2) % CmsW).cast("int").as("p"))): _*)
  }

  /** q109's counter build over any frame's string item column: the d×w
    * bounded counter table from ONE combinable count aggregation. Shared
    * with the STREAMING counter maintenance
    * ([[graft.streaming.SketchStreaming]]) so the surfaces cannot drift —
    * counts merge under plain +, which is also why a Complete-mode
    * streaming aggregation's state IS the bounded d·w counter table. */
  private[graft] def cmsCounters(items: org.apache.spark.sql.DataFrame,
                                 itemCol: String,
                                 groupCols: Seq[String] = Nil): org.apache.spark.sql.DataFrame =
    items.select(groupCols.map(col) :+ explode(cmsIpCols(col(itemCol))).as("ip"): _*)
      .groupBy(groupCols.map(col) ++ Seq(col("ip.i").as("i"), col("ip.p").as("p")): _*)
      .agg(count(lit(1)).as("cnt"))

  // ---- SQL fragments -------------------------------------------------------

  import graft.sql.TextSql.{toks => toksSql, shingles => shinglesSql, hexcast}

  private def sigSql(j: Int): String =
    s"list_aggregate(list_transform(hs, h -> (${HashA(j)} * (h % $P) + ${HashB(j)}) % $P), 'min')"

  private def bandSql(b: Int): String =
    (s"'$b'" +: (b * BandRows until (b + 1) * BandRows).map(j => s"sig[${j + 1}]"))
      .mkString(" || ':' || ")

  /** CTE yielding (doc_id, sh, sig list, b0..b3). */
  private val sigCte =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sh AS (SELECT doc_id, $shinglesSql AS sh FROM toks),
       |hs AS (SELECT doc_id, sh, list_transform(sh, s -> ${hexcast("s")}) AS hs FROM sh),
       |sig AS (SELECT doc_id, sh, ${(0 until NumHashes).map(sigSql).mkString("[", ", ", "]")} AS sig FROM hs),
       |bands AS (SELECT doc_id, sh, ${(0 until NumBands).map(b => s"${bandSql(b)} AS b$b").mkString(", ")} FROM sig)""".stripMargin

  /** Shared q75/q83 CTE chain: [[sigCte]] → banded candidate pairs →
    * Jaccard-verified edges (threshold 0.3, sround-6 like q32) → symmetric
    * edge list → 3 bounded min-label propagation rounds (l0..l3). Ends at
    * the `l3` CTE with no trailing comma; q75 appends its final SELECT and
    * q83 appends `, sz AS (...)` plus its SELECT. */
  private lazy val componentCtes: String = {
    val jac = "len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(list_concat(sa.sh, sb.sh)))"
    val rounds = (1 to 3).map { i =>
      val prev = s"l${i - 1}"
      s"""l$i AS (SELECT doc_id, min(label) AS label FROM (
         |         SELECT doc_id, label FROM $prev
         |         UNION ALL
         |         SELECT e.src AS doc_id, $prev.label FROM e JOIN $prev ON e.dst = $prev.doc_id)
         |       GROUP BY doc_id)""".stripMargin
    }.mkString(",\n")
    s"""$sigCte,
       |exploded AS (SELECT doc_id, unnest([b0, b1, b2, b3]) AS bk FROM bands),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM exploded a JOIN exploded b ON a.bk = b.bk AND a.doc_id < b.doc_id),
       |pairs AS (SELECT doc_a, doc_b FROM cand
       |          JOIN sh sa ON doc_a = sa.doc_id JOIN sh sb ON doc_b = sb.doc_id
       |          WHERE ${sround(jac, 6)} >= 0.3),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |      UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |l0 AS (SELECT doc_id, doc_id AS label FROM documents),
       |$rounds""".stripMargin
  }

  private val normSql = graft.sql.TextSql.norm

  /** q247's acceptance: character similarity 1 − dist/max-len ≥ this.
    * ONE definition, embedded into the oracle SQL via dlit. */
  private val EditSimThreshold = 0.5

  /** q248's acceptance: either direction's containment ≥ this. */
  private val ContainThreshold = 0.5

  /** Shared 60-bit simhash CTE (doc_id, simhash) + a trailing query.
    * `private[queries]` so q294's composed pipeline oracle chains its
    * stages onto the SAME simhash definition (one place, per the shared-
    * constants invariant). */
  private[queries] def simhashOracle(tail: String, withCte: Boolean = false): String = {
    val bits = (0 until TextHash.SimBits).map { j =>
      s"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |hs AS (SELECT doc_id, list_transform(toks, t -> ${hexcast("t")}) AS hs FROM toks),
       |s AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM hs)${if (withCte) "," else ""}
       |$tail""".stripMargin
  }

  // ---- Spark-side shared frames -------------------------------------------

  /** Native codegen shingles / band keys (graft.functions.ShinglesExpr /
    * MinhashBandsExpr) — the identical [[TextHash]] kernels the former
    * Scala UDFs called, minus per-document UDF invocation overhead; these
    * run once per document in every dedup query. */
  private def shinglesUdf(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.TextFunctions.doc_shingles(text, 3)
  private def bandsUdf(sh: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.TextFunctions.minhash_bands(sh, BandRows)
  /** Native codegen set-Jaccard (graft.functions.JaccardExpr) — the exact
    * former Scala-Set UDF arithmetic without per-pair Seq boxing; runs
    * once per LSH / prefix-filter candidate pair. */
  private def jaccardUdf(a: org.apache.spark.sql.Column,
                         b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.VectorFunctions.arr_jaccard(a, b)

  /** Band keys derived straight from an already-computed signature column
    * ("b:h:h:h:h") — the same strings TextHash.bandKeys / MinhashBandsExpr
    * produce, without re-hashing the shingles (drift across the three
    * surfaces is pinned by InterpretedPathSpec). */
  private def bandsFromSig(sig: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array((0 until NumBands).map(b =>
      concat_ws(":", lit(b.toString) +: (b * BandRows until (b + 1) * BandRows)
        .map(j => sig(j).cast("string")): _*)): _*)

  private def docBands(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spread(table(spark, dir, "documents"))
      .select(col("doc_id"), shinglesUdf(col("text")).as("sh"))
      .withColumn("bands", bandsUdf(col("sh")))

  /** q87/q91 token frame: (doc_id, toks) for docs with >= 3 tokens
    * (positional grams need that many). The filter-nonempty tokenization
    * shared with TextHash.tokenize / TextSql.toks. */
  private def spanDocs(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val toks = toksCol
    spread(table(spark, dir, "documents"))
      .select(col("doc_id"), toks.as("toks"))
      .where(size(col("toks")) >= 3)
  }

  /** Maximal cross-doc duplicated spans over a token frame — the shared
    * q87/q91 pipeline (scale shape documented at the q87 entry). Emits
    * (doc_id, span_start, span_len, n_other_docs); span_start is the
    * 1-based token position of the span's first token. */
  private def repeatedSpans(docs: DataFrame): DataFrame = {
    // the positional gram stream feeds the df dictionary AND the dup
    // join — cache it once per execution (q87/q91 both ride this)
    val ex = tcache(docs
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 2), " +
          "i -> struct(i AS pos, concat_ws(' ', toks[i-1], toks[i], toks[i+1]) AS s))")).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.s").as("s")), "spans:ex")
    // df = distinct docs per gram; the gram dictionary is vocabulary-sized
    // — never broadcast-hinted (see q52), AQE decides while small
    val dfreq = ex.select("s", "doc_id").distinct()
      .groupBy("s").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2)
    val dup = ex.join(dfreq, "s")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val runs = dup
      .withColumn("is_new",
        when(col("pos") - lag("pos", 1).over(byDoc) === 1, 0).otherwise(1))
      .withColumn("span_id", sum("is_new").over(
        byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    runs.groupBy(col("doc_id"), col("span_id"))
      .agg(min("pos").cast("long").as("span_start"),
           (count(lit(1)) + 2).as("span_len"),
           (max("df") - 1).as("n_other_docs"))
      .select("doc_id", "span_start", "span_len", "n_other_docs")
  }

  /** q75's (doc_id, component) frame, memoized per (session, dir) so q75
    * and q83 share one LSH pipeline + label propagation — the eager edge
    * materialization below runs once, not once per consuming query.
    *
    * Lifecycle: entries keep the cached edge frame alongside the labels so
    * eviction and [[invalidateComponentMemo]] can unpersist it. The
    * [[SessionMemo]] drops a stopped context's entries (their RDD caches
    * die with it), its FIFO bound of 8 unpersists the oldest entry when
    * a caller mints sessions and drops them mid-application (tests and
    * streaming clones do; engine queries reuse
    * [[QueryBase.childSession]]), and a caller that rewrites the data
    * under `dir` mid-session invalidates explicitly (Bench does, so each
    * timed run measures the full pipeline standalone and per-query
    * numbers stay order-independent). */
  private[graft] final case class ComponentEntry(labels: DataFrame, edges: DataFrame)
  private[graft] val componentMemo = new SessionMemo[ComponentEntry](8,
    onEvict = (_, e) => unpersistEdges(e))

  private def unpersistEdges(e: ComponentEntry): Unit =
    try e.edges.unpersist() catch { case _: Throwable => () }

  /** Drop all memoized component frames, unpersisting their edge caches. */
  def invalidateComponentMemo(): Unit =
    componentMemo.clear().foreach(unpersistEdges)

  // the build (and its eager count, a full Spark job) runs under the
  // memo's per-key lock, never a map bin lock
  private def componentLabels(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    componentMemo.getOrBuild(spark, dir)(buildComponentEntry(spark, dir)).labels

  private def buildComponentEntry(s: org.apache.spark.sql.SparkSession,
                                  d: String): ComponentEntry = {
      val pairs = defs("q32_lsh_jaccard_pairs")(s, d)
        .select(col("doc_a"), col("doc_b"))
      val docs = table(s, d, "documents").select(col("doc_id"))
      // Edges in both directions PLUS one self-loop per doc. With
      // self-loops, each round is ONE join + min-agg that reads the
      // previous labels ONCE — a linear lazy chain (a union-based
      // round formulation reads them twice, doubling the plan tree every
      // round: 2^3 branches each re-deriving the LSH pipeline, which is
      // what made the r3 bench's q75 pathological under load). min over
      // {self label} ∪ {neighbor labels} is identical to the oracle's
      // union form. Pre-partitioned on dst so the cached edge relation
      // satisfies the join's required distribution — rounds re-shuffle
      // only the thin label frame, never the edges.
      val e0 = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .union(docs.select(col("doc_id").as("src"), col("doc_id").as("dst")))
        .repartition(col("dst"))
      // a re-run (Bench's min-of-N reps) re-derives the same plan while
      // the CacheManager still holds it — cache() again would WARN and
      // no-op; storageLevel consults the manager by canonicalized plan
      val e =
        if (e0.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
          e0.cache()
        else e0
      // One barrier — the standard iterative-graph pattern (GraphX/MLlib
      // do the same): derive the pair graph exactly once, so the three
      // per-round join stages never race to recompute the uncached q32
      // derivation concurrently. CONTRACT NOTE: this makes the first call
      // EAGER — building the DataFrame executes the LSH pipeline.
      // Bench/Verify timers account for it; plan-only callers should
      // inspect the per-round subplans instead.
      e.count()
      var labels = docs.select(col("doc_id"), col("doc_id").as("label"))
      for (_ <- 1 to 3) {
        labels = e.join(labels, e("dst") === labels("doc_id"))
          .groupBy(e("src").as("doc_id")).agg(min("label").as("label"))
      }
      ComponentEntry(labels.select(col("doc_id"), col("label").as("component")), e)
  }

  // ---- queries -------------------------------------------------------------

  val defs: Map[String, QFn] = Map(
    // exact dedup on normalized text: corpus-level summary (always 1 row)
    "q30_dedup_exact" -> ((spark, dir) => {
      val norm = trim(regexp_replace(regexp_replace(
        lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      table(spark, dir, "documents")
        .select(md5(norm).as("h"))
        .agg(count(lit(1)).as("n_docs"),
             countDistinct(col("h")).as("n_distinct"))
        .withColumn("n_dup_docs", col("n_docs") - col("n_distinct"))
    }),

    // exact-dedup survivor selection: the operator that actually rewrites
    // a corpus — annotate EVERY document with the lowest doc_id of its
    // normalized-text hash group (its canonical survivor), the group size,
    // and a drop flag. Map-side-combinable min per hash + equi-join back
    // on the hash key; no window sort, no skew (hash keys are uniform
    // md5). Downstream keeps `NOT is_dup` and rewrites references via
    // canonical_id.
    "q56_dedup_survivors" -> ((spark, dir) => {
      val norm = trim(regexp_replace(regexp_replace(
        lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      val h = table(spark, dir, "documents").select(col("doc_id"), md5(norm).as("h"))
      val canon = h.groupBy("h")
        .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("group_size"))
      h.join(canon, "h")
        .select(col("doc_id"), col("canonical_id"), col("group_size"),
          (col("doc_id") =!= col("canonical_id")).as("is_dup"))
    }),

    // minhash signatures -> LSH band keys per document
    "q31_minhash_bands" -> ((spark, dir) =>
      docBands(spark, dir).select(
        col("doc_id"),
        col("bands")(0).as("b0"), col("bands")(1).as("b1"),
        col("bands")(2).as("b2"), col("bands")(3).as("b3"))),

    // LSH candidate pairs verified by exact shingle-Jaccard
    "q32_lsh_jaccard_pairs" -> ((spark, dir) => {
      val db = tcache(docBands(spark, dir), "q32:bands")
      val exploded = db.select(col("doc_id"), explode(col("bands")).as("bk"))
      val cand = exploded.as("a")
        .join(exploded.as("b"),
          col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val sh = db.select(col("doc_id"), col("sh"))
      cand
        .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          pround(jaccardUdf(col("sa.sh"), col("sb.sh")), 6).as("jaccard"))
        .where(col("jaccard") >= 0.3)
    }),

    // MinHash estimator quality: for every LSH candidate pair, the
    // signature-agreement Jaccard estimate (matching positions / 16) next
    // to the exact shingle Jaccard — the operator that decides whether a
    // pipeline can SKIP the exact verify at scale (estimate-only dedup
    // reads two 128-byte signatures per pair instead of two shingle sets;
    // the estimate is unbiased with σ = sqrt(J(1-J)/16)). Same banded
    // candidate generation as q32; per-pair arithmetic is exact integers
    // until the final division.
    "q81_minhash_est" -> ((spark, dir) => {
      val d = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), shinglesUdf(col("text")).as("sh"))
        .withColumn("sig", graft.functions.TextFunctions.minhash_sig(col("sh")))
        .withColumn("bands", bandsFromSig(col("sig")))
      tcache(d, "q81:sigs")
      val exploded = d.select(col("doc_id"), explode(col("bands")).as("bk"))
      val cand = exploded.as("a")
        .join(exploded.as("b"),
          col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val sigs = d.select(col("doc_id"), col("sh"), col("sig"))
      cand
        .join(sigs.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sigs.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          aggregate(
            zip_with(col("sa.sig"), col("sb.sig"),
              (x, y) => when(x === y, lit(1L)).otherwise(lit(0L))),
            lit(0L), (acc, v) => acc + v).as("n_agree"),
          pround(jaccardUdf(col("sa.sh"), col("sb.sh")), 6).as("jaccard"))
        .withColumn("est_jaccard",
          pround(col("n_agree").cast("double") / NumHashes, 6))
        .select("doc_a", "doc_b", "n_agree", "est_jaccard", "jaccard")
    }),

    // Estimate-only near-dup dedup — the 100 TB fast path the q81
    // estimator justifies: candidates from LSH bands, similarity decided
    // from the SIGNATURE alone. The shingle sets never leave the map side
    // — every shuffle row is doc_id + 16 longs (~136 bytes) instead of the
    // document's token stream, and the exact-verify join disappears
    // entirely. The threshold is the integer agreement count
    // (est >= 0.5 <=> n_agree >= 8), so no double compare anywhere. q32 is
    // the exact-verified face of the same pipeline; a corpus run picks
    // this one when the estimator's σ = sqrt(J(1-J)/16) is acceptable.
    "q84_estimate_dedup" -> ((spark, dir) => {
      val d = spread(table(spark, dir, "documents"))
        .select(col("doc_id"),
          graft.functions.TextFunctions.minhash_sig(shinglesUdf(col("text"))).as("sig"))
        .withColumn("bands", bandsFromSig(col("sig")))
      tcache(d, "q84:sigs")
      val exploded = d.select(col("doc_id"), explode(col("bands")).as("bk"))
      val cand = exploded.as("a")
        .join(exploded.as("b"),
          col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val sigs = d.select(col("doc_id"), col("sig"))
      cand
        .join(sigs.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sigs.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          aggregate(
            zip_with(col("sa.sig"), col("sb.sig"),
              (x, y) => when(x === y, lit(1L)).otherwise(lit(0L))),
            lit(0L), (acc, v) => acc + v).as("n_agree"))
        .where(col("n_agree") >= NumHashes / 2)
        .withColumn("est_jaccard",
          pround(col("n_agree").cast("double") / NumHashes, 6))
    }),

    // 60-bit simhash per document (token multiset, md5-derived bits) —
    // native codegen expression (graft.functions.SimhashExpr)
    "q33_simhash" -> ((spark, dir) =>
      spread(table(spark, dir, "documents"))
        .select(col("doc_id"),
          graft.functions.TextFunctions.doc_simhash(col("text")).as("simhash"))),

    // EXACT n-gram Jaccard similarity join via prefix filtering (SSJoin /
    // PPJoin family): order each doc's shingle set by ascending global
    // frequency (rarest first, ties by string), keep only the first
    // |x| - ceil(t*|x|) + 1 shingles as the "prefix", and equi-join on
    // prefix shingles. Any pair with J >= t MUST share a prefix shingle
    // (pigeonhole on the shared global order), so unlike MinHash-LSH (q32)
    // this has NO false negatives — it is the exact set of pairs with
    // jaccard >= t. Scale shape: the join key is a rare shingle (bounded
    // df by construction), so bucket sizes stay small where LSH bands can
    // collide arbitrarily; df table is a broadcastable aggregate.
    "q52_jaccard_prefix_join" -> ((spark, dir) => {
      val t = JaccardThreshold
      val docs = tcache(spread(table(spark, dir, "documents"))
        .select(col("doc_id"), shinglesUdf(col("text")).as("sh")), "q52:shingles")
      val ex = docs.select(col("doc_id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))
      val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
      // dfreq is a VOCABULARY-sized dictionary — it grows with the corpus,
      // so never broadcast-hint it; the shuffle equi-join on `s` is the
      // scale shape (AQE still broadcasts it while it is genuinely small)
      val ord = ex.join(dfreq, "s")
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
      // prefix length |x| - ceil(t*|x|) + 1: IEEE multiply + ceil, same ops
      // as the oracle's ceil(dlit(t) * sz), so boundary sizes agree exactly
      // cache: the self-join below would otherwise recompute the whole
      // df-join + window-sort derivation on BOTH sides (at scale this
      // prefix index is the thing you persist between runs).
      // The join key is xxhash64(shingle), not the string: an 8-byte
      // shuffle key instead of a ~30-char one. A hash collision can only
      // ADD a candidate pair, and every candidate is verified by exact
      // Jaccard below — and since prefix filtering already guarantees all
      // true pairs are candidates, the verified result set is provably
      // identical to the string-keyed join.
      val pref = tcache(ord
        .where(col("rn") <= col("sz") - ceil(col("sz") * lit(t)) + 1)
        .select(col("doc_id"), xxhash64(col("s")).as("k")), "q52:prefix")
      val cand = pref.as("a")
        .join(pref.as("b"),
          col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      cand
        .join(docs.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(docs.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          pround(jaccardUdf(col("sa.sh"), col("sb.sh")), 6).as("jaccard"))
        .where(col("jaccard") >= t)
    }),

    // incremental dedup: probe a NEW ingest batch against the already-
    // indexed corpus — the shape of every production dedup after day one
    // (the corpus's band keys are a persisted index; only the batch is
    // re-hashed). Candidates come from band-key equi-joins between batch
    // and corpus only — never batch×batch or corpus×corpus — then exact
    // Jaccard verification. Batch/corpus split is the deterministic q47
    // hash so the oracle reproduces it.
    "q62_incremental_dedup" -> ((spark, dir) => {
      val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100).cast("int")
      val db = tcache(docBands(spark, dir).withColumn("b", bucket), "q62:bands")
      val ce = db.where(col("b") < 80)
        .select(col("doc_id").as("corpus_id"), explode(col("bands")).as("bk"))
      val be = db.where(col("b") >= 80)
        .select(col("doc_id").as("new_id"), explode(col("bands")).as("bk"))
      val cand = be.join(ce, Seq("bk")).select("new_id", "corpus_id").distinct()
      val sh = db.select(col("doc_id"), col("sh"))
      cand
        .join(sh.as("sa"), col("new_id") === col("sa.doc_id"))
        .join(sh.as("sb"), col("corpus_id") === col("sb.doc_id"))
        .select(col("new_id"), col("corpus_id"),
          pround(jaccardUdf(col("sa.sh"), col("sb.sh")), 6).as("jaccard"))
        .where(col("jaccard") >= 0.3)
    }),

    // corpus-duplicated n-gram fraction: per document, the share of its
    // distinct shingles that occur in at least one OTHER document — the
    // boilerplate/duplication quality signal computed corpus-wide. Two
    // map-side-combinable aggregates (shingle df, per-doc counts) around
    // one equi-join on the shingle key; nothing quadratic, so the shape
    // survives any corpus size.
    "q63_dup_ngram_fraction" -> ((spark, dir) => {
      val docs = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), shinglesUdf(col("text")).as("sh"))
      val ex = docs.select(col("doc_id"), explode(col("sh")).as("s"))
      // shingles are distinct per doc, so count(*) per shingle = doc freq
      val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
      // dfreq is vocabulary-sized: no broadcast hint (see q52)
      ex.join(dfreq, "s")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_ngrams"),
             sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_ngrams"), col("n_dup"),
          pround(col("n_dup").cast("double") / col("n_ngrams"), 6).as("dup_frac"))
    }),

    // train/test contamination check: which held-out documents share
    // shingles with the training split (the q47 deterministic hash split:
    // train = bucket < 80, test = bucket >= 90). The train shingle set is
    // a distinct projection probed with a LEFT SEMI join — Spark never
    // materializes matched pairs, only the hit flag. At extreme scale the
    // semi-join side becomes a bloom/in-set filter pushed to the scan; the
    // plan shape (distinct -> semi-join on a uniform key) is already the
    // right one.
    "q64_contamination" -> ((spark, dir) => {
      val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100).cast("int")
      val ex = spread(table(spark, dir, "documents"))
        .select(col("doc_id"), bucket.as("b"), shinglesUdf(col("text")).as("sh"))
        .select(col("doc_id"), col("b"), explode(col("sh")).as("s"))
      val train = ex.where(col("b") < 80).select("s").distinct()
      val test = ex.where(col("b") >= 90).select(col("doc_id"), col("s"))
      val hits = test.join(train, Seq("s"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      test.groupBy("doc_id").agg(count(lit(1)).as("n_ngrams"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_ngrams"),
          coalesce(col("n_hit"), lit(0L)).as("n_contaminated"),
          pround(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_ngrams"), 6)
            .as("contam_frac"))
    }),

    // Bloom-filter decontamination probe — q64's semi-join made the
    // explicit 100 TB bloom-pushdown shape. Build: the TEST (held-out)
    // split's shingles set BloomK bit positions each (double hashing off
    // two md5 slices); the distinct-position set is the filter — at most
    // [[BloomM]] rows NO MATTER the corpus size, collapsed into one
    // sorted-array row and broadcast. Probe: every TRAIN shingle tests
    // its BloomK positions MAP-SIDE against the broadcast array
    // (array_contains forall — no join, no shuffle touches the train
    // side), and only bloom-POSITIVE grams reach the exact semi-join
    // verify — the filter prunes the join input, which is the entire
    // point of the structure. Output keeps both counts per flagged train
    // doc, so the false-positive rate (n_bloom_pos − n_exact) is itself
    // oracle-checked. The train/test split and shingle derivation are
    // q64's, so the two formulations answer the same question from the
    // two ends of the pipeline.
    "q103_bloom_contamination" -> ((spark, dir) => {
      val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100).cast("int")
      // the exploded shingle stream feeds THREE consumers (bloom build,
      // train-side probe, exact verify) — cache it once per execution or
      // the md5 shingling runs three times (was 60% of this query's cost)
      val ex = tcache(spread(table(spark, dir, "documents"))
        .select(col("doc_id"), bucket.as("b"), explode(shinglesUdf(col("text"))).as("s")),
        "q103:shingles")
      val h1 = conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long")
      val h2 = conv(substring(md5(col("s")), 16, 15), 16, 10).cast("long")
      def pos(i: Int) = ((h1 + lit(i.toLong) * h2) % BloomM).cast("int")
      // the filter ships as a PACKED BITMAP — 64 positions per BIGINT
      // word in a ≤ m/64-entry map — so each probe is one O(1) map
      // lookup + shift instead of an O(|positions|) array scan (the
      // array_contains formulation spent 3·|set| comparisons per gram:
      // billions of ops at sf0.1, and the real bloom structure IS a
      // bitmap). Same membership semantics, same oracle.
      val bloom = ex.where(col("b") >= 90)
        .select(explode(array((0 until BloomK).map(pos): _*)).as("p"))
        .distinct()
        .select(expr("CAST(p / 64 AS INT)").as("w"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").as("m"))
        .groupBy("w").agg(expr("bit_or(m)").as("m"))
        .agg(map_from_arrays(collect_list(col("w")), collect_list(col("m"))).as("wm"))
      val probed = ex.where(col("b") < 80).join(broadcast(bloom))
        .withColumn("ps", array((0 until BloomK).map(pos): _*))
        .withColumn("bloom_pos", expr(
          "forall(ps, p -> (shiftright(coalesce(element_at(wm, CAST(p / 64 AS INT)), " +
            "CAST(0 AS BIGINT)), CAST(p % 64 AS INT)) & 1) = 1)"))
      val testGrams = ex.where(col("b") >= 90).select("s").distinct()
      val exact = probed.where(col("bloom_pos")).select("doc_id", "s")
        .join(testGrams, Seq("s"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_exact"))
      probed.groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
             sum(when(col("bloom_pos"), 1L).otherwise(0L)).as("n_bloom_pos"))
        .where(col("n_bloom_pos") > 0)
        .join(exact, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"), col("n_bloom_pos"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"))
    }),

    // HyperLogLog distinct-cardinality sketch over the corpus 3-gram
    // shingles — the OTHER canonical streaming/distributed distinct
    // estimator next to q70's KMV, and the one every 100 TB pipeline
    // actually ships: the whole sketch is 2^p = 256 integer registers,
    // built by ONE map-side-combinable max aggregation on a bounded key
    // (registers from different partitions/sources merge by the same
    // max, which is what makes it distributable — spec-proved). Output
    // keeps the raw harmonic estimate, the small-range linear-counting
    // branch (guarded; at these cardinalities every register is hit),
    // the exact distinct, and the relative error — HLL's theoretical
    // stderr at p=8 is 1.04/√256 ≈ 6.5%, and the spec bounds the
    // measured error against it.
    "q108_hll_distinct" -> ((spark, dir) => {
      // two consumers (registers + exact distinct) — shingle once
      val sh = tcache(spread(table(spark, dir, "documents"))
        .select(explode(shinglesUdf(col("text"))).as("s")), "q108:shingles")
      val stats = hllRegisters(sh, "s")
        .agg(count(lit(1)).as("n_buckets"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - r AS INT))")).as("s_present"))
      val exact = sh.agg(countDistinct(col("s")).as("exact_distinct"))
      hllEstCols(stats.join(broadcast(exact)))
        .select(lit(HllM).as("m"), col("v_zero"), col("raw_est"), col("est"),
          col("exact_distinct"),
          pround(abs(col("est") - col("exact_distinct")) / col("exact_distinct"), 6)
            .as("rel_err"))
    }),

    // count-min sketch heavy hitters — the FREQUENCY estimator completing
    // the sketch trio (q70 KMV cardinality, q108 HLL cardinality, this
    // for counts): the whole sketch is d×w = 3×1024 integer counters,
    // built by ONE map-side-combinable count aggregation on a bounded
    // (row, position) key — counters from any partitioning merge by +,
    // which is what makes it distributable. The probe estimates each of
    // the top-[[CmsTopK]] shingles' doc-frequency as min over its d
    // counters and emits the exact df next to it: CMS can only
    // OVER-count (every collision adds), so `overcount = est − exact ≥ 0`
    // is part of the oracle-checked output and spec-proved for every
    // shingle. Pure integer arithmetic end to end — no rounding
    // discipline needed anywhere.
    "q109_cms_heavyhitters" -> ((spark, dir) => {
      // two consumers (counters + exact top-k) — shingle once
      val ex = tcache(spread(table(spark, dir, "documents"))
        .select(col("doc_id"), explode(shinglesUdf(col("text"))).as("s")), "q109:shingles")
      val counters = cmsCounters(ex.select(col("s")), "s")
      val top = ex.groupBy("s").agg(count(lit(1)).as("exact_df"))
        .orderBy(desc("exact_df"), col("s")).limit(CmsTopK)
      top.select(col("s"), col("exact_df"), explode(cmsIpCols(col("s"))).as("ip"))
        .select(col("s"), col("exact_df"), col("ip.i").as("i"), col("ip.p").as("p"))
        .join(broadcast(counters), Seq("i", "p"))
        .groupBy("s", "exact_df").agg(min("cnt").as("est_df"))
        .select(col("s"), col("exact_df"), col("est_df"),
          (col("est_df") - col("exact_df")).as("overcount"))
    }),

    // HLL SKETCH AS AN INCREMENTALLY-MAINTAINED MV — the composition of
    // q108's registers with q138's at-rest maintenance discipline: the
    // distinct-users-per-day dashboard a 100 TB warehouse cannot serve
    // from raw data. The at-rest table stores per-(day, bucket) registers
    // over the ingested 90%; the delta batch builds ITS registers alone
    // and the merge is bucket-wise max — O(delta + days·256), history
    // never re-read, because registers only grow under max (the q120
    // mergeability theorem, here doing nightly work instead of proving
    // itself). Output: per-day estimate beside the exact distinct. The
    // oracle rebuilds registers from ALL raw events — equality proves
    // merged-MV == full rebuild bit-exactly. AtRestMaintenanceSpec pins
    // the O(delta) plan. (The registers use the shared hllRegisters /
    // hllEstCols definitions, so MV, q108, q120 and the streaming
    // surface cannot drift.)
    "q151_hll_mv_merge" -> ((spark, dir) => {
      val bT = hllMvBaseTable(spark, dir)
      val delta = hllRegisters(dayUsers(table(spark, dir, "events")
        .where(col("event_id") % 10 === 0)), "uid", Seq("day"))
      val merged = spark.table(bT).unionByName(delta)
        .groupBy("day", "bucket").agg(max("r").as("r"))
      val stats = merged.groupBy("day")
        .agg(count(lit(1)).as("n_buckets"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - r AS INT))")).as("s_present"))
      val exact = dayUsers(table(spark, dir, "events"))
        .groupBy("day").agg(countDistinct(col("uid")).as("exact_distinct"))
      hllEstCols(stats.join(exact, "day"))
        .select(col("day").cast("long").as("day"),
          col("v_zero").cast("long").as("v_zero"), col("est"),
          col("exact_distinct"),
          pround(abs(col("est") - col("exact_distinct")) / col("exact_distinct"), 6)
            .as("rel_err"))
    }),

    // HLL MERGE on the oracle surface — the property that makes sketches
    // work at 100 TB, hash-checked: per-source register tables (the
    // shape 1000 executors each hold), their bucket-wise max-merge, and
    // the direct global registers, all estimated with the shared q108
    // chain. The merged and global rows MUST be identical (max is
    // associative/commutative — the mergeability theorem, here as data
    // the oracle verifies), and per-source exact distincts beside the
    // estimates show cross-source overlap the way a real per-shard
    // cardinality report would. One pass derives every (part, bucket)
    // register via combinable max aggs; nothing rescans per source.
    "q120_hll_merge" -> ((spark, dir) => {
      // FOUR consumers (per-source registers, global registers, per-source
      // exact, global exact) — shingle once per execution, not four times
      val d = tcache(spread(table(spark, dir, "documents"))
        .select(col("source"), explode(shinglesUdf(col("text"))).as("s")), "q120:shingles")
      val perSrc = hllRegisters(d, "s", Seq("source"))
      val srcParts = perSrc
        .select(concat(lit("src:"), col("source")).as("part"), col("bucket"), col("r"))
      val merged = perSrc.groupBy("bucket").agg(max("r").as("r"))
        .select(lit("merged").as("part"), col("bucket"), col("r"))
      val global = hllRegisters(d.select("s"), "s")
        .select(lit("global").as("part"), col("bucket"), col("r"))
      val stats = srcParts.unionByName(merged).unionByName(global)
        .groupBy("part")
        .agg(count(lit(1)).as("n_buckets"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - r AS INT))")).as("s_present"))
      val exSrc = d.groupBy(concat(lit("src:"), col("source")).as("part"))
        .agg(countDistinct(col("s")).as("exact_distinct"))
      val exAll = d.agg(countDistinct(col("s")).as("exact_distinct"))
      val exact = exSrc
        .unionByName(exAll.select(lit("merged").as("part"), col("exact_distinct")))
        .unionByName(exAll.select(lit("global").as("part"), col("exact_distinct")))
      hllEstCols(stats.join(exact, "part"))
        .select(col("part"), col("v_zero"), col("est"), col("exact_distinct"),
          pround(abs(col("est") - col("exact_distinct")) / col("exact_distinct"), 6)
            .as("rel_err"))
    }),

    // CMS MERGE — q120's discipline for the frequency sketch: per-source
    // counter tables sum-merge cell-wise, and the merged table must be
    // IDENTICAL to the direct global build (+ is associative). Each
    // part's row carries a position-weighted checksum (the q59 trick), so
    // the hash compare verifies every cell of every counter table, not
    // just totals. The shape is exactly what a 1000-executor ingest does:
    // shards build counters independently, a 3×1024-row reduce merges
    // them.
    "q121_cms_merge" -> ((spark, dir) => {
      // three counter builds read the same exploded stream — shingle once
      val d = tcache(spread(table(spark, dir, "documents"))
        .select(col("source"), explode(shinglesUdf(col("text"))).as("s")), "q121:shingles")
      val perSrc = cmsCounters(d, "s", Seq("source"))
      val srcParts = perSrc
        .select(concat(lit("src:"), col("source")).as("part"), col("i"), col("p"), col("cnt"))
      val merged = perSrc.groupBy("i", "p").agg(sum("cnt").as("cnt"))
        .select(lit("merged").as("part"), col("i"), col("p"), col("cnt"))
      val global = cmsCounters(d.select("s"), "s")
        .select(lit("global").as("part"), col("i"), col("p"), col("cnt"))
      srcParts.unionByName(merged).unionByName(global)
        .groupBy("part")
        .agg(count(lit(1)).as("n_cells"),
          sum("cnt").as("total"),
          sum(col("cnt") * (col("i").cast("long") * CmsW + col("p") + 1)).as("checksum"))
    }),

    // KMV MERGE — the trilogy's third member: per-source bottom-K hash
    // sets (each shard's sketch), merged by taking the bottom-K of the
    // DISTINCT union of the shard sketches, next to the direct global
    // bottom-K. The merged and global rows must agree (any hash in the
    // global bottom-K is in its source's bottom-K, so the union never
    // loses it — the KMV merge theorem), and each part carries the q70
    // estimator so the per-shard → merged cardinality report reads off
    // the same rows.
    "q122_kmv_merge" -> ((spark, dir) => {
      val K = 64
      val numer = (K - 1).toDouble * math.pow(2.0, 60)
      val hs = tcache(spread(table(spark, dir, "documents"))
        .select(col("source"), explode(shinglesUdf(col("text"))).as("s"))
        .distinct()
        .select(col("source"), conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h")),
        "q122:hashes")
      // per-source bottom-K over the shingle-level frame: sources are a
      // LOW-cardinality partition key on a corpus×shingles-sized frame,
      // so the direct window would funnel everything through |sources|
      // tasks — salted two-phase instead. Ties on h (hash collisions)
      // may land in either order, but the kept h MULTISET is identical
      // (ordering by value alone), and the sketch reads only count +
      // max(h) off it.
      val perSrc = saltedTopK(hs, Seq("source"), Seq(col("h")), col("h"), K)
      val srcSketch = perSrc
        .groupBy(concat(lit("src:"), col("source")).as("part"))
        .agg(count(lit(1)).as("k_actual"), max("h").as("kth_min"))
      def bottomK(df: org.apache.spark.sql.DataFrame, part: String) =
        df.orderBy("h").limit(K)
          .agg(count(lit(1)).as("k_actual"), max("h").as("kth_min"))
          .select(lit(part).as("part"), col("k_actual"), col("kth_min"))
      val merged = bottomK(perSrc.select("h").distinct(), "merged")
      val global = bottomK(hs.select("h").distinct(), "global")
      srcSketch.unionByName(merged).unionByName(global)
        .select(col("part"), col("k_actual"), col("kth_min"),
          pround(when(col("k_actual") < K, col("k_actual").cast("double"))
            .otherwise(lit(numer) / col("kth_min").cast("double")), 6).as("est_distinct"))
    }),

    // LEAKAGE-FREE train/test split — the subtle eval-prep operator a
    // doc-level hash split (q47) gets WRONG: near-duplicates of a test
    // document must not land in train, so the split unit is the q75
    // near-dup COMPONENT, assigned by a salted hash of the component's
    // canonical label. The row shows the problem and the fix side by
    // side: under the component split, zero verified near-dup pairs
    // cross the boundary (every edge's endpoints share a converged
    // label at this corpus — q75's diameter ≤ 3 contract), while the
    // naive doc-level split on the SAME corpus leaks doc_split_leaks
    // pairs. Reuses the memoized component labels and the q32 verified
    // pair set; the only new work is two broadcast-size joins and two
    // 1-row aggregates.
    "q126_leakage_free_split" -> ((spark, dir) => {
      def bucket(prefix: String, id: org.apache.spark.sql.Column) =
        (conv(substring(md5(concat(lit(prefix), id.cast("string"))), 1, 15), 16, 10)
          .cast("long") % 10).cast("int")
      val assigned = componentLabels(spark, dir)
        .withColumn("csplit",
          when(bucket("csplit:", col("component")) < 2, "test").otherwise("train"))
        .withColumn("dsplit",
          when(bucket("dsplit:", col("doc_id")) < 2, "test").otherwise("train"))
      val pairs = defs("q32_lsh_jaccard_pairs")(spark, dir).select("doc_a", "doc_b")
      val pj = pairs
        .join(assigned.select(col("doc_id").as("doc_a"),
          col("csplit").as("ca"), col("dsplit").as("da")), "doc_a")
        .join(assigned.select(col("doc_id").as("doc_b"),
          col("csplit").as("cb"), col("dsplit").as("db")), "doc_b")
      val cross = pj.agg(
        count(lit(1)).as("n_neardup_pairs"),
        sum(when(col("da") =!= col("db"), 1L).otherwise(0L)).as("doc_split_leaks"),
        sum(when(col("ca") =!= col("cb"), 1L).otherwise(0L)).as("component_split_leaks"))
      val sizes = assigned.agg(
        sum(when(col("csplit") === "train", 1L).otherwise(0L)).as("train_docs"),
        sum(when(col("csplit") === "test", 1L).otherwise(0L)).as("test_docs"))
      cross.crossJoin(broadcast(sizes))
        .select("train_docs", "test_docs", "n_neardup_pairs",
          "doc_split_leaks", "component_split_leaks")
    }),

    // near-dup connected components: fold the q32 LSH-verified pair graph
    // into clusters by BOUNDED min-label propagation (3 rounds) — the
    // grouping step that turns pairwise near-dup hits into dedup groups.
    // Each round is one equi-join + min-aggregation (both map-side
    // combinable); the round COUNT is fixed, so the plan is 3 bounded
    // shuffles, not an unbounded driver loop — labels converge for any
    // component of diameter <= 3, and the bound is part of the operator's
    // contract (the oracle iterates identically, so parity is exact even
    // on wider components).
    "q75_neardup_components" -> ((spark, dir) => componentLabels(spark, dir)),

    // source-priority survivor selection over the near-dup components —
    // the POLICY layer of a dedup pipeline: within each near-dup group
    // keep the document from the highest-priority SOURCE (curated beats
    // scraped; q56's min-doc_id rule is the policy-free default this
    // generalizes), ties to the lowest doc_id. Priority derives from the
    // source id's numeric suffix here (src0 highest) — one deterministic
    // rule on both surfaces; in production it is a curated broadcast
    // map, same plan shape. Reuses the memoized q75 component labels
    // (no LSH/propagation re-run when q75/q83 already executed); the
    // only new work is one doc_id equi-join against the documents
    // projection and a per-component window — both partition on keys
    // every other dedup op already uses. Output: one row per multi-doc
    // component (the actual dedup decisions), with the source spread
    // that shows the policy firing across sources.
    "q107_priority_dedup" -> ((spark, dir) => {
      val src = spread(table(spark, dir, "documents")).select(col("doc_id"), col("source"))
      val docs = componentLabels(spark, dir).join(src, "doc_id")
        .withColumn("prio", regexp_extract(col("source"), "([0-9]+)", 1).cast("int"))
      val agg = docs.groupBy("component")
        .agg(count(lit(1)).as("n_docs"), countDistinct("source").as("n_sources"))
      val surv = docs.withColumn("rn", row_number().over(
          Window.partitionBy("component").orderBy(col("prio"), col("doc_id"))))
        .where(col("rn") === 1)
        .select(col("component"), col("doc_id").as("survivor_id"),
          col("source").as("survivor_source"))
      agg.where(col("n_docs") > 1).join(surv, "component")
        .select("component", "n_docs", "n_sources", "survivor_id", "survivor_source")
    }),

    // dedup-cluster size histogram: how many near-dup clusters of each
    // size the corpus holds — the summary a dedup run reports (and the
    // input to "how much would we delete" capacity planning). Two
    // map-side-combinable aggregations over the q75 labels; the label key
    // is a doc_id (uniform), the size key has tiny cardinality, so both
    // shuffles carry counts, not documents. Shares q75's memoized labels
    // frame — building q83 never re-derives the LSH pipeline.
    "q83_component_stats" -> ((spark, dir) =>
      componentLabels(spark, dir)
        .groupBy("component").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))),

    // KMV (k-minimum-values) distinct-cardinality sketch over the corpus
    // shingle set: keep the K smallest 60-bit hashes, estimate
    // |distinct| ≈ (K-1)·2^60 / kth_min. Deterministic given the hash, so
    // unlike HLL it is oracle-checkable bit-for-bit. orderBy+limit plans
    // as per-partition top-K + merge (TakeOrdered) — the sketch never
    // shuffles more than K rows per partition at any corpus size. Exact
    // count emitted alongside to expose the estimation error.
    "q70_kmv_distinct" -> ((spark, dir) => {
      val K = 64
      // 63 * 2^60 — 6 significant bits, exactly representable; embedded
      // into the oracle via dlit so both engines divide the same numerator
      val numer = (K - 1).toDouble * math.pow(2.0, 60)
      val hashes = spread(table(spark, dir, "documents"))
        .select(shinglesUdf(col("text")).as("sh"))
        .select(explode(col("sh")).as("s")).distinct()
        .select(conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h"))
      val sketch = hashes.orderBy("h").limit(K)
        .agg(count(lit(1)).as("k_actual"), max(col("h")).as("kth_min"))
      val exact = hashes.agg(countDistinct(col("h")).as("exact_distinct"))
      sketch.crossJoin(broadcast(exact))
        .select(col("k_actual"), col("kth_min"), col("exact_distinct"),
          pround(when(col("k_actual") < K, col("exact_distinct").cast("double"))
            .otherwise(lit(numer) / col("kth_min").cast("double")), 6).as("est_distinct"))
    }),

    // cross-document repeated-span extraction (exact substring dedup): the
    // span-level operator doc-level dedup can't express — WHICH maximal
    // token runs of each document are duplicated verbatim in at least one
    // OTHER document (boilerplate headers, licence blocks, quoted
    // paragraphs). Positional 3-gram index -> gram doc-frequency (df >= 2
    // keeps only cross-doc-duplicated grams) -> per-doc sessionization of
    // adjacent duplicated positions (the q27 gap technique on a +1 lattice)
    // -> maximal spans. A run of m consecutive duplicated 3-gram positions
    // covers m+2 tokens; n_other_docs = max gram df in the span - 1 (the
    // span is at least that replicated). Scale shape: one map-side-
    // combinable df aggregate + one equi-join on the gram key (same as
    // q63), then a per-doc window over DUPLICATED positions only — bounded
    // by doc length, partitioned by doc_id; nothing quadratic anywhere.
    // Integer arithmetic end to end, so the oracle is bit-exact for free.
    "q87_repeated_spans" -> ((spark, dir) =>
      repeatedSpans(spanDocs(spark, dir))),

    // q87's spans materialized for the operator a pipeline actually
    // redacts/dedups with: the span's token TEXT (sliced back out of the
    // token array — a span covering grams p..p+m-1 covers tokens
    // p..p+m+1, so slice(toks, span_start, span_len)) and a canonical
    // span-group id (min doc_id over identical span text — q56's survivor
    // discipline at span granularity, grouped on md5 of the text exactly
    // like q56 groups on the content hash). Scale shape: q87's pipeline +
    // one equi-join back to the token arrays on doc_id (spans only — the
    // non-duplicated corpus majority never re-joins) + one window over the
    // span-hash partitioning. n_spans per group is bounded by corpus
    // duplication, not corpus size.
    "q91_span_text" -> ((spark, dir) => {
      val docs = spanDocs(spark, dir)
      repeatedSpans(docs).join(docs, "doc_id")
        .select(col("doc_id"), col("span_start"), col("span_len"), col("n_other_docs"),
          concat_ws(" ", slice(col("toks"),
            col("span_start").cast("int"), col("span_len").cast("int"))).as("span_text"))
        .withColumn("span_group",
          min("doc_id").over(Window.partitionBy(md5(col("span_text")))))
        .select("doc_id", "span_start", "span_len", "n_other_docs",
          "span_text", "span_group")
    }),

    // near-dup pairs by simhash: 4 x 15-bit band blocking + hamming <= 3.
    // Pigeonhole: <= 3 differing bits over 4 bands leaves one band clean,
    // so recall is exact. 15-bit bands keep buckets small even though
    // same-vocabulary simhashes are heavily correlated; at larger corpora
    // widen the hash / add bands rather than shrinking them.
    "q34_simhash_pairs" -> ((spark, dir) => {
      val s = spread(table(spark, dir, "documents"))
        .select(col("doc_id"),
          graft.functions.TextFunctions.doc_simhash(col("text")).as("simhash"))
      val banded = s.select(col("doc_id"), col("simhash"),
          explode(array((0 until TextHash.SimBands).map(j =>
            struct(lit(j).as("j"),
              shiftright(col("simhash"), TextHash.SimBandBits * j)
                .bitwiseAND(lit((1L << TextHash.SimBandBits) - 1)).as("bv"))): _*)).as("band"))
        .select(col("doc_id"), col("simhash"), col("band.j"), col("band.bv"))
      // hamming filter BEFORE the distinct: the band join emits up to 4
      // copies of each candidate pair, so dedup after the cheap selective
      // filter shuffles a fraction of the rows
      banded.as("a").join(banded.as("b"),
          col("a.j") === col("b.j") && col("a.bv") === col("b.bv") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("ham"))
        .where(col("ham") <= 3)
        .distinct()
    }),

    // Dedup-method RECALL harness — the near-dup counterpart of the ANN
    // recall ladder (q49/q90/q101/...): ground truth is the EXACT
    // prefix-filtered Jaccard join at τ=0.6 (q52's algorithm — provably
    // complete, every true pair is a candidate), and each approximate
    // candidate generator is measured against it: MinHash-LSH band
    // collisions (q31/q32's generator) and SimHash banded Hamming ≤ 3
    // (q34's generator). Emits (n_truth, n_cand, n_hit, recall,
    // precision) per method — the numbers that decide, IN-ENGINE, whether
    // a 100 TB pipeline can skip the exact verify for a given threshold
    // (same "measure, don't guess" discipline as the nprobe curve
    // q110/q111/q133). All three pair sets are equi-join products — the
    // measurement adds two semi-joins and three count aggregates on top,
    // nothing quadratic.
    "q140_dedup_recall" -> ((spark, dir) => {
      val truth = tcache(defs("q52_jaccard_prefix_join")(spark, dir)
        .select(col("doc_a"), col("doc_b")), "q140:truth")
      val db = tcache(docBands(spark, dir), "q140:bands")
      val exploded = db.select(col("doc_id"), explode(col("bands")).as("bk"))
      val lshCand = exploded.as("a")
        .join(exploded.as("b"),
          col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val simCand = defs("q34_simhash_pairs")(spark, dir).select("doc_a", "doc_b")
      def measure(method: String, cand: DataFrame): DataFrame = {
        val c = tcache(cand, s"q140:cand:$method")
        // ONE tagged count over the three measurement sets (truth,
        // candidates, hits) replaces three independent 1-row aggregates
        // + two broadcast crossJoins (r19 measurement fuse) — same exact
        // long counts, same recall/precision expressions
        val cnts = truth.select(lit("t").as("g"))
          .unionByName(c.select(lit("c").as("g")))
          .unionByName(truth.join(c, Seq("doc_a", "doc_b"), "left_semi")
            .select(lit("h").as("g")))
          .groupBy("g").agg(count(lit(1)).as("n"))
        cnts.agg(
            coalesce(sum(when(col("g") === "t", col("n"))), lit(0L)).as("n_truth"),
            coalesce(sum(when(col("g") === "c", col("n"))), lit(0L)).as("n_cand"),
            coalesce(sum(when(col("g") === "h", col("n"))), lit(0L)).as("n_hit"))
          .select(lit(method).as("method"),
            col("n_truth"), col("n_cand"), col("n_hit"),
            when(col("n_truth") === 0, lit(0.0))
              .otherwise(pround(col("n_hit").cast("double") / col("n_truth"), 6))
              .as("recall"),
            when(col("n_cand") === 0, lit(0.0))
              .otherwise(pround(col("n_hit").cast("double") / col("n_cand"), 6))
              .as("precision"))
      }
      measure("lsh", lshCand).unionByName(measure("simhash", simCand))
    }),

    // PAGERANK over the near-dup graph — graph CENTRALITY as the
    // canonical-document signal (q56 keeps min-doc_id per exact-dup
    // group; near-dup clusters want the most-connected representative,
    // which is what rank gives). [[PrIters]] synchronous iterations of
    //   pr' = (1−d)/N + d · Σ_{u→v} pr(u)/outdeg(u)
    // over the symmetric q32 edge set (every node has outdeg ≥ 1 by
    // construction, so no dangling-mass term). Each iteration is one
    // equi-join + one combinable aggregation on the edge relation —
    // exactly the bounded-round shape of the q75 label propagation, work
    // linear in |E| per round at any scale. Quantize-early discipline:
    // per-edge contributions pround-9, inflow summed with xsum-9, the
    // update pround-9 — the oracle replays the identical IEEE sequence,
    // so three chained double iterations still hash-match bit-exactly.
    "q144_dedup_pagerank" -> ((spark, dir) => {
      val pairs = tcache(defs("q32_lsh_jaccard_pairs")(spark, dir)
        .select("doc_a", "doc_b"), "q144:pairs")
      val e = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      // nodes is read by every superstep's update join — materialize it
      // once instead of re-deriving the distinct per level; n collapses
      // to ONE driver long (a bounded 1-row aggregate, the q312 pointer
      // discipline) embedded as a literal, so each superstep's plan stays
      // flat instead of re-running the node count per level. Same long →
      // double coercion as the former column form — bit-identical pr.
      val nodes = tcache(e.select(col("src").as("doc_id")).distinct(), "q144:nodes")
      val n = nodes.count()
      val deg = tcache(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "q144:deg")
      var pr = nodes
        .select(col("doc_id"), pround(lit(1.0) / lit(n), 9).as("pr"))
      for (_ <- 1 to PrIters) {
        val contrib = e
          .join(pr.withColumnRenamed("doc_id", "src"), "src")
          .join(deg, "src")
          .select(col("dst").as("doc_id"),
            pround(col("pr") / col("outdeg"), 9).as("c"))
        val inflow = contrib.groupBy("doc_id").agg(xsum(col("c"), 9).as("s"))
        pr = nodes.join(inflow, Seq("doc_id"), "left")
          .select(col("doc_id"),
            pround(
              pround(lit(1.0) - lit(PrDamp), 9) / lit(n) +
                lit(PrDamp) * coalesce(col("s"), lit(0.0)), 9).as("pr"))
      }
      pr.join(deg.withColumnRenamed("src", "doc_id"), "doc_id")
        .select(col("doc_id"), col("outdeg"), col("pr"))
    }),

    // TRIANGLE COUNT + GLOBAL CLUSTERING COEFFICIENT over the near-dup
    // graph — the graph-STRUCTURE signal beside q75's reachability and
    // q144's centrality: a high clustering coefficient says near-dup
    // clusters are genuine cliques (template families), a low one says
    // the τ threshold is chaining unrelated docs. The plan is the
    // degree-ORDERED compact-forward algorithm: every undirected edge is
    // oriented from its lower-(degree, id) endpoint, wedges form by
    // self-joining oriented edges on their source, and a wedge closes
    // iff the oriented (v, w) edge exists — each triangle counted
    // exactly once at its minimum-order vertex. Orientation bounds the
    // join fan-out by Σ outdeg² = O(|E|^1.5) instead of Σ deg², which on
    // a power-law 100 TB graph is the difference between feasible and
    // not: the heaviest hubs get outdeg ≈ 0 because almost all their
    // edges point AT them. The oracle replays the naive ordered triple
    // join — equality proves the oriented rewrite exact.
    "q169_dedup_triangles" -> ((spark, dir) => {
      val pairs = tcache(defs("q32_lsh_jaccard_pairs")(spark, dir)
        .select("doc_a", "doc_b"), "q169:pairs")
      val sym = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .unionByName(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      val deg = tcache(sym.groupBy("u").agg(count(lit(1)).as("d")), "q169:deg")
      val withDeg = pairs
        .join(deg.select(col("u").as("doc_a"), col("d").as("da")), "doc_a")
        .join(deg.select(col("u").as("doc_b"), col("d").as("db")), "doc_b")
      val oriented = tcache(withDeg.select(
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("doc_a") < col("doc_b")),
            struct(col("doc_a").as("s"), col("doc_b").as("t"), col("db").as("dt")))
            .otherwise(
              struct(col("doc_b").as("s"), col("doc_a").as("t"), col("da").as("dt")))
            .as("e"))
        .select(col("e.s").as("src"), col("e.t").as("dst"), col("e.dt").as("ddst")),
        "q169:oriented")
      val wedges = oriented.select(col("src"), col("dst").as("v"), col("ddst").as("dv"))
        .join(oriented.select(col("src"), col("dst").as("w"), col("ddst").as("dw")),
          "src")
        .where(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
        .select(col("src"), col("v"), col("w"))
      val tri = wedges
        .join(oriented.select(col("src").as("v"), col("dst").as("w")),
          Seq("v", "w"), "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
      val st = deg.agg(count(lit(1)).as("n_nodes"),
        sum(col("d") * (col("d") - lit(1L))).as("dd"))
        .select(col("n_nodes"), expr("dd div 2").as("n_wedges"))
      val ne = pairs.agg(count(lit(1)).as("n_edges"))
      st.crossJoin(broadcast(ne)).crossJoin(broadcast(tri))
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
          when(col("n_wedges") === 0, lit(0.0))
            .otherwise(pround((lit(3L) * col("n_triangles")).cast("double") /
              col("n_wedges").cast("double"), 6)).as("global_cc"))
    }),

    // HLL ACCURACY/SPACE SWEEP — the sketch family's recall ladder: the
    // SAME shingle stream sketched at p ∈ {6, 8, 10} (64 / 256 / 1024
    // registers), each estimate beside the exact distinct count — the
    // measured error-vs-memory curve that decides a production register
    // budget (stderr 1.04/√m: ~13% / 6.5% / 3.3%). Every chain is the
    // q108 integer path at its own geometry (per-p ladder, per-p α·m²·2^K
    // folded in Scala); the corpus is scanned once (tcache) and each
    // sketch is one combinable max-aggregation over it. 3 rows out.
    "q232_hll_sweep" -> ((spark, dir) => {
      val sh = tcache(spread(table(spark, dir, "documents"))
        .select(explode(shinglesUdf(col("text"))).as("s")), "q232:shingles")
      val exact = sh.agg(countDistinct(col("s")).as("exact_distinct"))
      // ALL geometries' registers build in ONE pass keyed by (p, bucket) —
      // the former per-p branches each re-passed the cached shingle frame
      // (3 register aggregations + 3 one-row rollups). Per-(p, bucket)
      // max-rank and the per-p harmonic sum are the identical arithmetic
      // (max / integer sums are order-independent; the per-p α·m²·2^K
      // constants are embedded as the same Scala-computed literals via a
      // CASE on p), so the 3 output rows are bit-identical (r19 sweep fuse).
      val h = conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long")
      def rankOf(restBits: Int) = {
        val rest = h.bitwiseAND(lit((1L << restBits) - 1))
        ((restBits - 2) to 0 by -1).foldLeft(
            when(rest >= lit(1L << (restBits - 1)), lit(1))) {
          case (acc, b) => acc.when(rest >= lit(1L << b), lit(restBits - b))
        }.otherwise(lit(restBits + 1))
      }
      val regs = sh.select(explode(array(HllSweepPs.map { p =>
          val restBits = 60 - p
          struct(lit(p).as("p"),
            shiftrightunsigned(h, restBits).as("bucket"), rankOf(restBits).as("rk"))
        }: _*)).as("pb"))
        .select(col("pb.p").as("p"), col("pb.bucket").as("bucket"), col("pb.rk").as("rk"))
        .groupBy("p", "bucket").agg(max("rk").as("r"))
      val alphaC = HllSweepPs.tail.foldLeft(
          when(col("p") === HllSweepPs.head, lit(hllSweepAlphaC(HllSweepPs.head)))) {
        (acc, p) => acc.when(col("p") === p, lit(hllSweepAlphaC(p)))
      }
      regs.groupBy("p").agg(count(lit(1)).as("n_buckets"),
          sum(expr("shiftleft(cast(1 as bigint), (61 - p) - r)")).as("s_present"))
        .withColumn("m", expr("shiftleft(cast(1 as bigint), p)"))
        .withColumn("v_zero", col("m") - col("n_buckets"))
        .withColumn("s_total",
          col("s_present") + col("v_zero") * expr("shiftleft(cast(1 as bigint), 61 - p)"))
        .withColumn("raw_est",
          pround(alphaC / col("s_total").cast("double"), 6))
        .withColumn("est",
          when(col("raw_est") <= lit(2.5) * col("m").cast("double") && col("v_zero") > 0,
            pround(col("m").cast("double") *
              pround(log(col("m").cast("double") / col("v_zero")), 6), 6))
            .otherwise(col("raw_est")))
        .select(col("p"), col("m"), col("v_zero"), col("est"))
        .crossJoin(broadcast(exact))
        .withColumn("rel_err",
          pround(abs(col("est") - col("exact_distinct")) /
            col("exact_distinct").cast("double"), 6))
    }),

    // CMS WIDTH SWEEP — q232's discipline for the count-min sketch: the
    // same shingle stream counted at w ∈ {256, 1024, 4096} (d=3 rows
    // each), probing the exact top-10 heavy hitters at every width — the
    // measured overcount-vs-memory curve (E[overcount] ≈ e·N/w) beside
    // q109's single-width guarantee check. One corpus scan (tcache), one
    // combinable counter build per width, broadcast probes. 30 rows out.
    "q233_cms_sweep" -> ((spark, dir) => {
      val ex = tcache(spread(table(spark, dir, "documents"))
        .select(explode(shinglesUdf(col("text"))).as("s")), "q233:shingles")
      val top = tcache(ex.groupBy("s").agg(count(lit(1)).as("exact_df"))
        .orderBy(desc("exact_df"), col("s")).limit(10), "q233:top")
      // ALL widths' counters build in ONE pass keyed by (w, i, p) —
      // the former per-width branches each re-passed the cached shingle
      // frame (3 explode+aggregate exchanges, 3 broadcasts, 3 probe
      // joins); per-(w, i, p) counts and the per-(w, s) min are the
      // identical arithmetic, so the 30 output rows are bit-identical
      // (r19 sweep fuse).
      def ipCols(item: org.apache.spark.sql.Column) = {
        val h1 = conv(substring(md5(item), 1, 15), 16, 10).cast("long")
        val h2 = conv(substring(md5(item), 16, 15), 16, 10).cast("long")
        array((for (w <- CmsSweepWs; i <- 0 until CmsD) yield
          struct(lit(w).as("w"), lit(i).as("i"),
            ((h1 + lit(i.toLong) * h2) % w).cast("int").as("p"))): _*)
      }
      val counters = ex.select(explode(ipCols(col("s"))).as("ip"))
        .select(col("ip.w").as("w"), col("ip.i").as("i"), col("ip.p").as("p"))
        .groupBy("w", "i", "p").agg(count(lit(1)).as("cnt"))
      top.select(col("s"), col("exact_df"), explode(ipCols(col("s"))).as("ip"))
        .select(col("s"), col("exact_df"), col("ip.w").as("w"),
          col("ip.i").as("i"), col("ip.p").as("p"))
        .join(broadcast(counters), Seq("w", "i", "p"))
        .groupBy("w", "s", "exact_df").agg(min("cnt").as("est_df"))
        .select(col("w"), col("s"), col("exact_df"), col("est_df"),
          (col("est_df") - col("exact_df")).as("overcount"))
    }),

    // KMV SIZE SWEEP — the third sketch sized in-engine: bottom-K
    // distinct-count estimates at K ∈ {16, 64, 256} beside the exact
    // count (stderr ≈ 1/√(K−2): 27% / 13% / 6%). The distinct hash frame
    // builds once (tcache); each K is one bounded orderBy-limit + a
    // 1-row aggregate.
    "q234_kmv_sweep" -> ((spark, dir) => {
      val hashes = tcache(spread(table(spark, dir, "documents"))
        .select(shinglesUdf(col("text")).as("sh"))
        .select(explode(col("sh")).as("s")).distinct()
        .select(conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h")),
        "q234:hashes")
      val exact = hashes.agg(countDistinct(col("h")).as("exact_distinct"))
      // bottom-maxK computed ONCE: the bottom-k for every smaller k is a
      // prefix of it, so each sweep point re-sorts ≤ maxK cached rows
      // instead of running its own corpus-wide TakeOrdered (r19 sweep
      // fuse; values identical by the prefix property)
      val low = tcache(hashes.orderBy("h").limit(KmvSweepKs.max),
        "q234:low")
      val perK = KmvSweepKs.map { k =>
        val numer = (k - 1).toDouble * math.pow(2.0, 60)
        low.orderBy("h").limit(k)
          .agg(count(lit(1)).as("k_actual"), max(col("h")).as("kth_min"))
          .crossJoin(broadcast(exact))
          .select(lit(k).as("k"), col("k_actual"), col("exact_distinct"),
            pround(when(col("k_actual") < k, col("exact_distinct").cast("double"))
              .otherwise(lit(numer) / col("kth_min").cast("double")), 6).as("est_distinct"))
      }
      perK.reduce(_ unionByName _)
        .withColumn("rel_err",
          // empty-corpus guard: exact_distinct=0 would be an ANSI
          // DIVIDE_BY_ZERO; the oracle never sees that row (real data).
          when(col("exact_distinct") === 0, lit(0.0)).otherwise(
            pround(abs(col("est_distinct") - col("exact_distinct")) /
              col("exact_distinct").cast("double"), 6)))
    }),

    // EDIT-DISTANCE-VERIFIED LINKAGE — the record-linkage verifier the
    // set-based family can't express: two docs can share most 3-shingles
    // yet differ in critical characters (numbers, names), and vice
    // versa. Candidates come from the SAME LSH bands as q32 (never
    // all-pairs); each surviving pair pays one CHARACTER-level
    // Levenshtein over the normalized text — O(len²) per pair but pairs
    // ∝ true near-dups, not corpus². Both engines' levenshtein is the
    // classic unit-cost edit distance over an alnum-normalized (ASCII)
    // string, so the integer distance is trivially engine-portable;
    // edit_sim = 1 − dist/max-len with an empty-text guard in BOTH.
    "q247_edit_distance_linkage" -> ((spark, dir) => {
      val db = tcache(docBands(spark, dir), "q247:bands")
      val exploded = db.select(col("doc_id"), explode(col("bands")).as("bk"))
      val cand = exploded.as("a")
        .join(exploded.as("b"),
          col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val norm = table(spark, dir, "documents").select(col("doc_id"),
        trim(regexp_replace(regexp_replace(
          lower(col("text")), "[^a-z0-9 ]", " "), " +", " ")).as("nt"))
      cand.join(norm.as("na"), col("doc_a") === col("na.doc_id"))
        .join(norm.as("nb"), col("doc_b") === col("nb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          length(col("na.nt")).cast("long").as("len_a"),
          length(col("nb.nt")).cast("long").as("len_b"),
          levenshtein(col("na.nt"), col("nb.nt")).cast("long").as("edit_dist"))
        .withColumn("edit_sim",
          pround(lit(1.0) - col("edit_dist").cast("double") /
            greatest(col("len_a"), col("len_b"), lit(1L)).cast("double"), 6))
        .where(col("edit_sim") >= EditSimThreshold)
    }),

    // CONTAINMENT NEAR-DUP — the ASYMMETRIC similarity Jaccard flattens:
    // a snippet fully quoted inside a larger doc has low Jaccard (the
    // union is big) but containment |A∩B|/|A| ≈ 1 — exactly the
    // quote/excerpt duplication a training corpus must catch. Same LSH
    // band candidates as q32; per-pair arithmetic is exact integer set
    // sizes until the two final divisions; a pair survives when EITHER
    // direction's containment clears the threshold.
    "q248_containment_neardup" -> ((spark, dir) => {
      val db = tcache(docBands(spark, dir), "q248:bands")
      val exploded = db.select(col("doc_id"), explode(col("bands")).as("bk"))
      val cand = exploded.as("a")
        .join(exploded.as("b"),
          col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val sh = db.select(col("doc_id"), col("sh"))
      cand.join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("long").as("n_common"),
          size(col("sa.sh")).cast("long").as("sz_a"),
          size(col("sb.sh")).cast("long").as("sz_b"))
        .withColumn("contain_a",
          pround(col("n_common").cast("double") /
            greatest(col("sz_a"), lit(1L)).cast("double"), 6))
        .withColumn("contain_b",
          pround(col("n_common").cast("double") /
            greatest(col("sz_b"), lit(1L)).cast("double"), 6))
        .where(greatest(col("contain_a"), col("contain_b")) >= ContainThreshold)
    }),

    // SOURCE-LEVEL MINHASH MATRIX — the sketch-composability property
    // MinHash shares with HLL (q251): the signature of a UNION is the
    // elementwise MIN of member signatures, so a GROUP's signature builds
    // in one combinable min aggregation over its distinct shingles — no
    // per-doc signatures ever materialize. Each source pair's
    // signature-agreement Jaccard estimate sits beside the exact
    // set Jaccard (shingle-join intersection + inclusion–exclusion
    // union); at 100 TB the matrix serves from 20 stored 16-long
    // signatures while the exact columns are the audit. Pair space is
    // |sources|², never corpus².
    "q252_source_minhash_matrix" -> ((spark, dir) => {
      val sh = tcache(spread(table(spark, dir, "documents"))
        .select(col("source"), explode(shinglesUdf(col("text"))).as("s"))
        .distinct(), "q252:srcsh")
      val hm = (conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long")
        % lit(graft.text.TextHash.P)).as("hm")
      val sigAggs = (0 until NumHashes).map(j =>
        min((lit(HashA(j)) * col("hm") + lit(HashB(j)))
          % lit(graft.text.TextHash.P)).as(s"sig$j"))
      val sigs = sh.select(col("source"), hm)
        .groupBy("source").agg(sigAggs.head, sigAggs.tail: _*)
      val sz = sh.groupBy("source").agg(count(lit(1)).as("sz"))
      val inter = sh.as("x")
        .join(sh.as("y"), col("x.s") === col("y.s") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
        .agg(count(lit(1)).as("n_common"))
      val agree = (0 until NumHashes)
        .map(j => when(col(s"a.sig$j") === col(s"b.sig$j"), 1L).otherwise(0L))
        .reduce(_ + _)
      sigs.as("a").join(sigs.as("b"), col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
          agree.as("n_agree"))
        .join(inter, Seq("src_a", "src_b"), "left")
        .join(broadcast(sz.select(col("source").as("src_a"), col("sz").as("sz_a"))), Seq("src_a"))
        .join(broadcast(sz.select(col("source").as("src_b"), col("sz").as("sz_b"))), Seq("src_b"))
        .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
        .select(col("src_a"), col("src_b"), col("n_agree"),
          pround(col("n_agree").cast("double") / lit(NumHashes.toDouble), 6)
            .as("est_jaccard"),
          col("n_common"),
          pround(col("n_common").cast("double") /
            (col("sz_a") + col("sz_b") - col("n_common")).cast("double"), 6)
            .as("jaccard"))
    }),

    // HLL SET ALGEBRA — the sketch-composability payoff: |A∩B| estimated
    // by inclusion–exclusion over THREE HyperLogLog sketches (est(A) +
    // est(B) − est(A∪B)) where the union sketch is the max-merge of the
    // per-set registers — no re-scan, the operation a 100 TB audience-
    // overlap query runs on stored sketches alone. A = view users, B =
    // click users; registers build in ONE grouped max aggregation and
    // every estimate rides the shared q108 estimator chain; the exact
    // |A∩B| sits beside the estimate so the error is measured, not
    // assumed.
    "q251_hll_intersection" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val ab = raw.where(col("event_type").isin("view", "click"))
        .select(col("event_type"), col("user_id").cast("string").as("item"))
      val regsT = tcache(hllRegisters(ab, "item", Seq("event_type")), "q251:regs")
      def estOf(regs: org.apache.spark.sql.DataFrame, name: String) =
        hllEstCols(regs.agg(count(lit(1)).as("n_buckets"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - r AS INT))")).as("s_present")))
          .select(col("est").as(name))
      val estA = estOf(regsT.where(col("event_type") === "view"), "est_a")
      val estB = estOf(regsT.where(col("event_type") === "click"), "est_b")
      val estU = estOf(regsT.groupBy("bucket").agg(max("r").as("r")), "est_union")
      val exact = raw.where(col("event_type") === "view")
        .select(col("user_id")).distinct()
        .join(raw.where(col("event_type") === "click")
          .select(col("user_id")).distinct(), "user_id")
        .agg(count(lit(1)).as("exact_intersection"))
      estA.crossJoin(broadcast(estB)).crossJoin(broadcast(estU))
        .crossJoin(broadcast(exact))
        .select(col("est_a"), col("est_b"), col("est_union"),
          pround(col("est_a") + col("est_b") - col("est_union"), 6)
            .as("est_intersection"),
          col("exact_intersection"))
    }),

    // DEDUP CASCADE ACCOUNTING — the production pipeline runs dedup as a
    // funnel (cheap exact pass first, near-dup only on its survivors) and
    // reports what each stage dropped; this is that report: exact
    // md5-group collapse → LSH-component collapse of the exact survivors
    // (reusing the memoized q75 labels — the cascade shares work with the
    // component queries the way a real pipeline shares its artifacts).
    // Every count is a combinable aggregate; one row out.
    "q216_dedup_cascade" -> ((spark, dir) => {
      val norm = trim(regexp_replace(regexp_replace(
        lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      val h = table(spark, dir, "documents").select(col("doc_id"), md5(norm).as("h"))
      val exact = h.groupBy("h").agg(min("doc_id").as("doc_id"))
      val sl = exact.select("doc_id").join(componentLabels(spark, dir), "doc_id")
      val canon2 = sl.groupBy("component").agg(min("doc_id").as("canon2"))
      val t0 = h.agg(count(lit(1)).as("n_docs"))
      val t1 = exact.agg(count(lit(1)).as("n_after_exact"))
      val t2 = canon2.agg(count(lit(1)).as("n_after_neardup"))
      t0.crossJoin(broadcast(t1)).crossJoin(broadcast(t2))
        .select(col("n_docs"),
          (col("n_docs") - col("n_after_exact")).as("exact_dropped"),
          col("n_after_exact"),
          (col("n_after_exact") - col("n_after_neardup")).as("neardup_dropped"),
          col("n_after_neardup"))
    }),

    // WEIGHTED JACCARD — the similarity the SET Jaccard (q32) flattens:
    // J_w = Σ min(tfA, tfB) / Σ max(tfA, tfB) over token FREQUENCIES, so
    // a doc repeating a rare token 50× no longer looks identical to one
    // mentioning it once. Candidates come from the same LSH bands (never
    // all pairs); each pair's token union materializes via one full-outer
    // (pair, token) join of two tf streams — work ∝ Σ pair token counts,
    // integer-exact until one final division.
    "q214_weighted_jaccard" -> ((spark, dir) => {
      val db = tcache(docBands(spark, dir), "q214:bands")
      val exploded = db.select(col("doc_id"), explode(col("bands")).as("bk"))
      val cand = exploded.as("a")
        .join(exploded.as("b"),
          col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val toks = toksCol
      val tf = tcache(spread(table(spark, dir, "documents"))
        .select(col("doc_id"), explode(toks).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")), "q214:tf")
      val ta = cand.join(tf, col("doc_a") === col("doc_id"))
        .select(col("doc_a"), col("doc_b"), col("tok"), col("tf").as("tfa"))
      val tb = cand.join(tf, col("doc_b") === col("doc_id"))
        .select(col("doc_a"), col("doc_b"), col("tok"), col("tf").as("tfb"))
      ta.join(tb, Seq("doc_a", "doc_b", "tok"), "full_outer")
        .groupBy("doc_a", "doc_b")
        .agg(sum(least(coalesce(col("tfa"), lit(0L)), coalesce(col("tfb"), lit(0L)))).as("inter_w"),
          sum(greatest(coalesce(col("tfa"), lit(0L)), coalesce(col("tfb"), lit(0L)))).as("union_w"))
        .select(col("doc_a"), col("doc_b"), col("inter_w"), col("union_w"),
          pround(col("inter_w").cast("double") / col("union_w").cast("double"), 6)
            .as("weighted_jaccard"))
    }),

    // SORTED-NEIGHBORHOOD DEDUP — the classic record-linkage blocking
    // (Hernández & Stolfo, SIGMOD 1995) beside the LSH (q32) and prefix
    // (q52) candidate generators: sort the corpus by a normalized prefix
    // key and compare only rows within rank distance ≤ 2, turning O(n²)
    // candidate space into O(n·w). The global rank uses the q167
    // bounded-offset scheme (per-first-char-bucket counts → cumulative
    // offsets over a ≤37-key domain, broadcast back; each bucket numbers
    // its own rows) — NOT a single-partition global window — and the
    // neighbor step is an equi-join on rn+δ, so every stage shuffles on
    // keys, never sorts globally through one task. Exact shingle-Jaccard
    // verifies survivors at the q32 threshold.
    "q194_sorted_neighborhood" -> ((spark, dir) => {
      val norm = trim(regexp_replace(regexp_replace(
        lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      val keyed = tcache(spread(table(spark, dir, "documents"))
        .select(col("doc_id"), substring(norm, 1, 24).as("skey"),
          shinglesUdf(col("text")).as("sh"))
        .withColumn("bkt", substring(col("skey"), 1, 1)), "q194:keyed")
      val offsets = keyed.groupBy("bkt").agg(count(lit(1)).as("cnt"))
        .withColumn("offset", coalesce(sum("cnt").over(
          Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select("bkt", "offset")
      val w = Window.partitionBy("bkt").orderBy(col("skey"), col("doc_id"))
      val rn = keyed.join(broadcast(offsets), "bkt")
        .withColumn("rn", col("offset") + row_number().over(w))
        .select(col("doc_id"), col("rn"), col("sh"))
      rn.select(col("doc_id").as("doc_a"), col("rn").as("rn_a"), col("sh").as("sh_a"))
        .withColumn("rank_gap", explode(array(lit(1L), lit(2L))))
        .join(rn.select(col("doc_id").as("doc_b"), col("rn").as("rn_b"),
          col("sh").as("sh_b")), col("rn_a") + col("rank_gap") === col("rn_b"))
        .select(col("doc_a"), col("doc_b"), col("rank_gap"),
          pround(jaccardUdf(col("sh_a"), col("sh_b")), 6).as("jaccard"))
        .where(col("jaccard") >= 0.3)
    })
  )

  /** Shared q87/q91 CTE chain (mirrors [[spanDocs]] + [[repeatedSpans]]):
    * tokens -> positional 3-grams -> cross-doc df -> duplicated-position
    * runs -> aggregated maximal spans `spans2`. */
  private def spanCtes: String =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 3),
       |ex AS (SELECT doc_id, i AS pos, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
       |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM f)),
       |dfreq AS (SELECT s, count(DISTINCT doc_id) AS df FROM ex GROUP BY s
       |          HAVING count(DISTINCT doc_id) >= 2),
       |dup AS (SELECT ex.doc_id, ex.pos, d.df FROM ex JOIN dfreq d USING (s)),
       |runs AS (SELECT doc_id, pos, df,
       |           CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
       |                THEN 0 ELSE 1 END AS is_new
       |         FROM dup),
       |spans AS (SELECT doc_id, pos, df,
       |            sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos
       |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
       |          FROM runs),
       |spans2 AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |                  CAST(count(*) + 2 AS BIGINT) AS span_len,
       |                  CAST(max(df) - 1 AS BIGINT) AS n_other_docs
       |           FROM spans GROUP BY doc_id, span_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q30_dedup_exact" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT md5($normSql)) AS BIGINT) AS n_distinct,
         |       CAST(count(*) - count(DISTINCT md5($normSql)) AS BIGINT) AS n_dup_docs
         |FROM documents""".stripMargin,

    "q31_minhash_bands" ->
      s"$sigCte\nSELECT doc_id, b0, b1, b2, b3 FROM bands",

    "q56_dedup_survivors" ->
      s"""WITH h AS (SELECT doc_id, md5($normSql) AS h FROM documents),
         |c AS (SELECT h, min(doc_id) AS canonical_id,
         |             CAST(count(*) AS BIGINT) AS group_size
         |      FROM h GROUP BY h)
         |SELECT doc_id, canonical_id, group_size,
         |       doc_id <> canonical_id AS is_dup
         |FROM h JOIN c USING (h)""".stripMargin,

    "q32_lsh_jaccard_pairs" ->
      s"""$sigCte,
         |exploded AS (SELECT doc_id, unnest([b0, b1, b2, b3]) AS bk FROM bands),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM exploded a JOIN exploded b ON a.bk = b.bk AND a.doc_id < b.doc_id),
         |shs AS (SELECT doc_id, sh FROM sh)
         |SELECT doc_a, doc_b,
         |       ${sround("len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(list_concat(sa.sh, sb.sh)))", 6)} AS jaccard
         |FROM cand JOIN shs sa ON doc_a = sa.doc_id JOIN shs sb ON doc_b = sb.doc_id
         |WHERE ${sround("len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(list_concat(sa.sh, sb.sh)))", 6)} >= 0.3""".stripMargin,

    "q81_minhash_est" -> {
      // per-position signature agreement: Spark sums a zip_with of 0L/1L,
      // DuckDB sums the identical CASE over 1-based sig positions
      val agree = s"CAST(list_sum(list_transform(range(1, ${NumHashes + 1}), " +
        "j -> CASE WHEN sa.sig[j] = sb.sig[j] THEN 1 ELSE 0 END)) AS BIGINT)"
      val jac = "len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(list_concat(sa.sh, sb.sh)))"
      s"""$sigCte,
         |exploded AS (SELECT doc_id, unnest([b0, b1, b2, b3]) AS bk FROM bands),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM exploded a JOIN exploded b ON a.bk = b.bk AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, $agree AS n_agree,
         |       ${sround(s"CAST($agree AS DOUBLE) / ${dlit(NumHashes.toDouble)}", 6)} AS est_jaccard,
         |       ${sround(jac, 6)} AS jaccard
         |FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id""".stripMargin
    },

    "q84_estimate_dedup" -> {
      val agree = s"CAST(list_sum(list_transform(range(1, ${NumHashes + 1}), " +
        "j -> CASE WHEN sa.sig[j] = sb.sig[j] THEN 1 ELSE 0 END)) AS BIGINT)"
      s"""$sigCte,
         |exploded AS (SELECT doc_id, unnest([b0, b1, b2, b3]) AS bk FROM bands),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM exploded a JOIN exploded b ON a.bk = b.bk AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, $agree AS n_agree,
         |       ${sround(s"CAST($agree AS DOUBLE) / ${dlit(NumHashes.toDouble)}", 6)} AS est_jaccard
         |FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id
         |WHERE $agree >= ${NumHashes / 2}""".stripMargin
    },

    "q52_jaccard_prefix_join" -> {
      val t = dlit(JaccardThreshold)
      val jac = "len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(list_concat(sa.sh, sb.sh)))"
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, $shinglesSql AS sh FROM toks),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
         |dfreq AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
         |ord AS (SELECT ex.doc_id, ex.s,
         |        row_number() OVER (PARTITION BY ex.doc_id ORDER BY d.df, ex.s) AS rn,
         |        count(*) OVER (PARTITION BY ex.doc_id) AS sz
         |        FROM ex JOIN dfreq d ON ex.s = d.s),
         |pref AS (SELECT doc_id, s FROM ord WHERE rn <= sz - ceil($t * sz) + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, ${sround(jac, 6)} AS jaccard
         |FROM cand JOIN sh sa ON doc_a = sa.doc_id JOIN sh sb ON doc_b = sb.doc_id
         |WHERE ${sround(jac, 6)} >= $t""".stripMargin
    },

    "q62_incremental_dedup" -> {
      val jac = "len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(list_concat(sa.sh, sb.sh)))"
      s"""$sigCte,
         |bux AS (SELECT doc_id, sh, b0, b1, b2, b3,
         |               CAST(CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) % 100 AS INT) AS b
         |        FROM bands),
         |exploded AS (SELECT doc_id, b, unnest([b0, b1, b2, b3]) AS bk FROM bux),
         |cand AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
         |         FROM exploded n JOIN exploded c ON n.bk = c.bk
         |         WHERE n.b >= 80 AND c.b < 80),
         |shs AS (SELECT doc_id, sh FROM sh)
         |SELECT new_id, corpus_id, ${sround(jac, 6)} AS jaccard
         |FROM cand JOIN shs sa ON new_id = sa.doc_id JOIN shs sb ON corpus_id = sb.doc_id
         |WHERE ${sround(jac, 6)} >= 0.3""".stripMargin
    },

    "q63_dup_ngram_fraction" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, $shinglesSql AS sh FROM toks),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
         |dfreq AS (SELECT s, count(*) AS df FROM ex GROUP BY s)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
         |       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |       ${sround("CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS dup_frac
         |FROM ex JOIN dfreq USING (s)
         |GROUP BY doc_id""".stripMargin,

    "q64_contamination" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, $shinglesSql AS sh FROM toks),
         |bux AS (SELECT doc_id, sh,
         |               CAST(CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) % 100 AS INT) AS b
         |        FROM sh),
         |ex AS (SELECT doc_id, b, unnest(sh) AS s FROM bux),
         |train AS (SELECT DISTINCT s FROM ex WHERE b < 80),
         |test AS (SELECT doc_id, s FROM ex WHERE b >= 90),
         |hits AS (SELECT doc_id, count(*) AS n_hit FROM test
         |         WHERE s IN (SELECT s FROM train) GROUP BY doc_id),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams FROM test GROUP BY doc_id)
         |SELECT t.doc_id, t.n_ngrams,
         |       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_contaminated,
         |       ${sround("CAST(coalesce(h.n_hit, 0) AS DOUBLE) / t.n_ngrams", 6)} AS contam_frac
         |FROM tot t LEFT JOIN hits h USING (doc_id)""".stripMargin,

    // mirrors q103: test-split position set (≤ BloomM rows) as the bloom,
    // map-side K-position membership on the train side, exact verify on
    // the bloom-positive subset only
    "q103_bloom_contamination" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, $shinglesSql AS sh FROM toks),
         |bux AS (SELECT doc_id, sh,
         |               CAST(CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) % 100 AS INT) AS b
         |        FROM sh),
         |hs AS (SELECT doc_id, b, s,
         |              CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h1,
         |              CAST(concat('0x', substr(md5(s), 16, 15)) AS BIGINT) AS h2
         |       FROM (SELECT doc_id, b, unnest(sh) AS s FROM bux)),
         |tpos AS (SELECT DISTINCT CAST((h1 + i * h2) % $BloomM AS INT) AS p
         |         FROM hs, (SELECT unnest(range(0, $BloomK)) AS i) ii WHERE b >= 90),
         |bloom AS (SELECT list(p ORDER BY p) AS bits FROM tpos),
         |probed AS (SELECT doc_id, s,
         |                  (${(0 until BloomK).map(i => s"list_contains(bits, CAST((h1 + $i * h2) % $BloomM AS INT))").mkString(" AND ")}) AS bloom_pos
         |           FROM hs CROSS JOIN bloom WHERE b < 80),
         |testg AS (SELECT DISTINCT s FROM hs WHERE b >= 90),
         |exact AS (SELECT doc_id, count(*) AS n_exact FROM probed
         |          WHERE bloom_pos AND s IN (SELECT s FROM testg) GROUP BY doc_id),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |               CAST(sum(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pos
         |        FROM probed GROUP BY doc_id)
         |SELECT t.doc_id, t.n_grams, t.n_bloom_pos,
         |       CAST(coalesce(e.n_exact, 0) AS BIGINT) AS n_exact
         |FROM tot t LEFT JOIN exact e USING (doc_id)
         |WHERE t.n_bloom_pos > 0""".stripMargin,

    "q75_neardup_components" -> s"$componentCtes\nSELECT doc_id, label AS component FROM l3",

    // mirrors q107: component labels joined to sources, suffix-derived
    // priority, per-component (prio, doc_id) rank-1 survivor
    "q107_priority_dedup" ->
      s"""$componentCtes,
         |lab AS (SELECT doc_id, label AS component FROM l3),
         |dd AS (SELECT lab.component, lab.doc_id, doc.source,
         |              CAST(regexp_extract(doc.source, '([0-9]+)', 1) AS INT) AS prio
         |       FROM lab JOIN documents doc USING (doc_id)),
         |agg AS (SELECT component, CAST(count(*) AS BIGINT) AS n_docs,
         |               CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         |        FROM dd GROUP BY component),
         |surv AS (SELECT component, doc_id AS survivor_id, source AS survivor_source FROM (
         |  SELECT *, row_number() OVER (PARTITION BY component ORDER BY prio, doc_id) AS rn FROM dd)
         |  WHERE rn = 1)
         |SELECT a.component, a.n_docs, a.n_sources, s.survivor_id, s.survivor_source
         |FROM agg a JOIN surv s USING (component)
         |WHERE a.n_docs > 1""".stripMargin,

    // component-hash split vs doc-hash split, leakage counted over the
    // same verified pair set
    "q126_leakage_free_split" ->
      s"""$componentCtes,
         |asn AS (SELECT doc_id,
         |               CASE WHEN ${hexcast("'csplit:' || CAST(label AS VARCHAR)")} % 10 < 2
         |                    THEN 'test' ELSE 'train' END AS csplit,
         |               CASE WHEN ${hexcast("'dsplit:' || CAST(doc_id AS VARCHAR)")} % 10 < 2
         |                    THEN 'test' ELSE 'train' END AS dsplit
         |        FROM l3),
         |pj AS (SELECT a.csplit AS ca, a.dsplit AS da, b.csplit AS cb, b.dsplit AS db
         |       FROM pairs p JOIN asn a ON p.doc_a = a.doc_id JOIN asn b ON p.doc_b = b.doc_id),
         |x AS (SELECT CAST(count(*) AS BIGINT) AS n_neardup_pairs,
         |             CAST(sum(CASE WHEN da <> db THEN 1 ELSE 0 END) AS BIGINT) AS doc_split_leaks,
         |             CAST(sum(CASE WHEN ca <> cb THEN 1 ELSE 0 END) AS BIGINT) AS component_split_leaks
         |      FROM pj),
         |sz AS (SELECT CAST(sum(CASE WHEN csplit = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS train_docs,
         |              CAST(sum(CASE WHEN csplit = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS test_docs
         |       FROM asn)
         |SELECT train_docs, test_docs, n_neardup_pairs, doc_split_leaks, component_split_leaks
         |FROM x CROSS JOIN sz""".stripMargin,

    "q83_component_stats" ->
      s"""$componentCtes,
         |sz AS (SELECT label, CAST(count(*) AS BIGINT) AS cluster_size FROM l3 GROUP BY label)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |FROM sz GROUP BY cluster_size""".stripMargin,

    "q70_kmv_distinct" -> {
      val numer = dlit(63.0 * math.pow(2.0, 60))
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, $shinglesSql AS sh FROM toks),
         |hs AS (SELECT ${hexcast("s")} AS h
         |       FROM (SELECT DISTINCT unnest(sh) AS s FROM sh)),
         |sk AS (SELECT CAST(count(*) AS BIGINT) AS k_actual, max(h) AS kth_min
         |       FROM (SELECT h FROM hs ORDER BY h LIMIT 64)),
         |ex AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS exact_distinct FROM hs)
         |SELECT k_actual, kth_min, exact_distinct,
         |       ${sround(s"CASE WHEN k_actual < 64 THEN exact_distinct::DOUBLE ELSE $numer / kth_min::DOUBLE END", 6)} AS est_distinct
         |FROM sk CROSS JOIN ex""".stripMargin
    },

    // mirrors q109: (row, position) counter aggregation, top-k by exact
    // df, min-over-rows probe — all integer
    "q109_cms_heavyhitters" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id, $shinglesSql AS sh FROM toks),
         |exx AS (SELECT doc_id, unnest(sh) AS s FROM sh0),
         |hs AS (SELECT s, ${hexcast("s")} AS h1,
         |              CAST(concat('0x', substr(md5(s), 16, 15)) AS BIGINT) AS h2
         |       FROM exx),
         |ii AS (SELECT unnest(range(0, $CmsD)) AS i),
         |ctr AS (SELECT i, (h1 + i * h2) % $CmsW AS p, CAST(count(*) AS BIGINT) AS cnt
         |        FROM hs, ii GROUP BY i, p),
         |top AS (SELECT s, CAST(count(*) AS BIGINT) AS exact_df FROM exx
         |        GROUP BY s ORDER BY count(*) DESC, s LIMIT $CmsTopK),
         |pr AS (SELECT t.s, t.exact_df, ii.i,
         |              (${hexcast("t.s")} + ii.i * CAST(concat('0x', substr(md5(t.s), 16, 15)) AS BIGINT)) % $CmsW AS p
         |       FROM top t, ii),
         |est AS (SELECT pr.s, pr.exact_df, min(ctr.cnt) AS est_df
         |        FROM pr JOIN ctr ON pr.i = ctr.i AND pr.p = ctr.p
         |        GROUP BY pr.s, pr.exact_df)
         |SELECT s, exact_df, est_df, est_df - exact_df AS overcount FROM est""".stripMargin,

    // mirrors q108: integer bucket/rank split of the 60-bit hash, the
    // generated leading-zero comparison ladder, BIGINT harmonic sum
    "q108_hll_distinct" -> {
      val ladder = (51 to 0 by -1)
        .map(b => s"WHEN rest >= ${1L << b} THEN ${52 - b}").mkString(" ")
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id, $shinglesSql AS sh FROM toks),
         |s AS (SELECT unnest(sh) AS s FROM sh0),
         |hh AS (SELECT s, ${hexcast("s")} AS h FROM s),
         |b AS (SELECT h // ${1L << 52} AS bucket, h % ${1L << 52} AS rest FROM hh),
         |rk AS (SELECT bucket, CASE $ladder ELSE 53 END AS rk FROM b),
         |regs AS (SELECT bucket, max(rk) AS r FROM rk GROUP BY bucket),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         |              CAST(sum(CAST(1 AS BIGINT) << CAST(53 - r AS INT)) AS BIGINT) AS s_present
         |       FROM regs),
         |ex AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS exact_distinct FROM hh),
         |c AS (SELECT *, ($HllM - n_buckets) AS v_zero,
         |             s_present + ($HllM - n_buckets) * (CAST(1 AS BIGINT) << 53) AS s_total
         |      FROM st CROSS JOIN ex),
         |r1 AS (SELECT *, ${sround(s"${dlit(HllAlphaC)} / CAST(s_total AS DOUBLE)", 6)} AS raw_est FROM c),
         |r2 AS (SELECT *, CASE WHEN raw_est <= ${dlit(2.5 * HllM)} AND v_zero > 0
         |                      THEN ${sround(s"${dlit(HllM.toDouble)} * ${sround(s"ln(${dlit(HllM.toDouble)} / v_zero)", 6)}", 6)}
         |                      ELSE raw_est END AS est FROM r1)
         |SELECT CAST($HllM AS INT) AS m, CAST(v_zero AS BIGINT) AS v_zero, raw_est, est, exact_distinct,
         |       ${sround("abs(est - exact_distinct) / exact_distinct", 6)} AS rel_err
         |FROM r2""".stripMargin
    },

    // registers rebuilt from ALL raw events, per day — equality proves
    // the incrementally-merged MV == full rebuild (max-merge loses and
    // invents nothing; the q108 estimator chain carried per day)
    "q151_hll_mv_merge" -> {
      val ladder = (51 to 0 by -1)
        .map(b => s"WHEN rest >= ${1L << b} THEN ${52 - b}").mkString(" ")
      s"""WITH u AS (SELECT epoch_us(ts) // ${graft.queries.RelQueries.DayUs} AS day,
         |                  CAST(user_id AS VARCHAR) AS uid FROM events),
         |hh AS (SELECT day, uid, ${hexcast("uid")} AS h FROM u),
         |b AS (SELECT day, h // ${1L << 52} AS bucket, h % ${1L << 52} AS rest FROM hh),
         |rk AS (SELECT day, bucket, CASE $ladder ELSE 53 END AS rk FROM b),
         |regs AS (SELECT day, bucket, max(rk) AS r FROM rk GROUP BY day, bucket),
         |st AS (SELECT day, CAST(count(*) AS BIGINT) AS n_buckets,
         |              CAST(sum(CAST(1 AS BIGINT) << CAST(53 - r AS INT)) AS BIGINT) AS s_present
         |       FROM regs GROUP BY day),
         |ex AS (SELECT day, CAST(count(DISTINCT uid) AS BIGINT) AS exact_distinct
         |       FROM u GROUP BY day),
         |c AS (SELECT st.day, n_buckets, s_present, exact_distinct,
         |             ($HllM - n_buckets) AS v_zero,
         |             s_present + ($HllM - n_buckets) * (CAST(1 AS BIGINT) << 53) AS s_total
         |      FROM st JOIN ex ON st.day = ex.day),
         |r1 AS (SELECT *, ${sround(s"${dlit(HllAlphaC)} / CAST(s_total AS DOUBLE)", 6)} AS raw_est FROM c),
         |r2 AS (SELECT *, CASE WHEN raw_est <= ${dlit(2.5 * HllM)} AND v_zero > 0
         |                      THEN ${sround(s"${dlit(HllM.toDouble)} * ${sround(s"ln(${dlit(HllM.toDouble)} / v_zero)", 6)}", 6)}
         |                      ELSE raw_est END AS est FROM r1)
         |SELECT CAST(day AS BIGINT) AS day, CAST(v_zero AS BIGINT) AS v_zero, est, exact_distinct,
         |       ${sround("abs(est - exact_distinct) / exact_distinct", 6)} AS rel_err
         |FROM r2""".stripMargin
    },

    "q120_hll_merge" -> {
      val ladder = (51 to 0 by -1)
        .map(b => s"WHEN rest >= ${1L << b} THEN ${52 - b}").mkString(" ")
      s"""WITH toks AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id, source, $shinglesSql AS sh FROM toks),
         |s AS (SELECT source, unnest(sh) AS s FROM sh0),
         |hh AS (SELECT 'src:' || source AS part, s, ${hexcast("s")} AS h FROM s),
         |b AS (SELECT part, h // ${1L << 52} AS bucket, h % ${1L << 52} AS rest FROM hh),
         |rk AS (SELECT part, bucket, CASE $ladder ELSE 53 END AS rk FROM b),
         |srcregs AS (SELECT part, bucket, max(rk) AS r FROM rk GROUP BY part, bucket),
         |allregs AS (SELECT * FROM srcregs
         |            UNION ALL SELECT 'merged', bucket, max(r) FROM srcregs GROUP BY bucket
         |            UNION ALL SELECT 'global', bucket, max(rk) FROM rk GROUP BY bucket),
         |st AS (SELECT part, CAST(count(*) AS BIGINT) AS n_buckets,
         |              CAST(sum(CAST(1 AS BIGINT) << CAST(53 - r AS INT)) AS BIGINT) AS s_present
         |       FROM allregs GROUP BY part),
         |exsrc AS (SELECT part, CAST(count(DISTINCT s) AS BIGINT) AS exact_distinct FROM hh GROUP BY part),
         |exall AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS exact_distinct FROM hh),
         |ex AS (SELECT * FROM exsrc
         |       UNION ALL SELECT 'merged', exact_distinct FROM exall
         |       UNION ALL SELECT 'global', exact_distinct FROM exall),
         |c AS (SELECT st.part, st.n_buckets, st.s_present, ex.exact_distinct,
         |             ($HllM - n_buckets) AS v_zero,
         |             s_present + ($HllM - n_buckets) * (CAST(1 AS BIGINT) << 53) AS s_total
         |      FROM st JOIN ex ON st.part = ex.part),
         |r1 AS (SELECT *, ${sround(s"${dlit(HllAlphaC)} / CAST(s_total AS DOUBLE)", 6)} AS raw_est FROM c),
         |r2 AS (SELECT *, CASE WHEN raw_est <= ${dlit(2.5 * HllM)} AND v_zero > 0
         |                      THEN ${sround(s"${dlit(HllM.toDouble)} * ${sround(s"ln(${dlit(HllM.toDouble)} / v_zero)", 6)}", 6)}
         |                      ELSE raw_est END AS est FROM r1)
         |SELECT part, CAST(v_zero AS BIGINT) AS v_zero, est, exact_distinct,
         |       ${sround("abs(est - exact_distinct) / exact_distinct", 6)} AS rel_err
         |FROM r2""".stripMargin
    },

    // mirrors q109's counter CTEs with the source dimension carried; the
    // checksum makes the hash compare verify every counter cell
    "q121_cms_merge" ->
      s"""WITH toks AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id, source, $shinglesSql AS sh FROM toks),
         |exx AS (SELECT source, unnest(sh) AS s FROM sh0),
         |hs AS (SELECT source, ${hexcast("s")} AS h1,
         |              CAST(concat('0x', substr(md5(s), 16, 15)) AS BIGINT) AS h2
         |       FROM exx),
         |ii AS (SELECT unnest(range(0, $CmsD)) AS i),
         |srcctr AS (SELECT 'src:' || source AS part, i, (h1 + i * h2) % $CmsW AS p,
         |                  CAST(count(*) AS BIGINT) AS cnt
         |           FROM hs, ii GROUP BY 1, 2, 3),
         |allctr AS (SELECT * FROM srcctr
         |           UNION ALL SELECT 'merged', i, p, CAST(sum(cnt) AS BIGINT) FROM srcctr GROUP BY i, p
         |           UNION ALL SELECT 'global', i, (h1 + i * h2) % $CmsW AS p, CAST(count(*) AS BIGINT)
         |                     FROM hs, ii GROUP BY 2, 3)
         |SELECT part, CAST(count(*) AS BIGINT) AS n_cells, CAST(sum(cnt) AS BIGINT) AS total,
         |       CAST(sum(cnt * (i * $CmsW + p + 1)) AS BIGINT) AS checksum
         |FROM allctr GROUP BY part""".stripMargin,

    // the KMV merge theorem as data: bottom-K of the union of per-source
    // bottom-Ks == the global bottom-K
    "q122_kmv_merge" -> {
      val numer = dlit(63.0 * math.pow(2.0, 60))
      s"""WITH toks AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id, source, $shinglesSql AS sh FROM toks),
         |ds AS (SELECT DISTINCT source, s FROM (SELECT source, unnest(sh) AS s FROM sh0)),
         |hs AS (SELECT source, ${hexcast("s")} AS h FROM ds),
         |ps AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM hs),
         |bk AS (SELECT source, h FROM ps WHERE rn <= 64),
         |srcsk AS (SELECT 'src:' || source AS part, CAST(count(*) AS BIGINT) AS k_actual,
         |                 max(h) AS kth_min
         |          FROM bk GROUP BY 1),
         |mg AS (SELECT CAST(count(*) AS BIGINT) AS k_actual, max(h) AS kth_min
         |       FROM (SELECT DISTINCT h FROM bk ORDER BY h LIMIT 64)),
         |gl AS (SELECT CAST(count(*) AS BIGINT) AS k_actual, max(h) AS kth_min
         |       FROM (SELECT DISTINCT h FROM hs ORDER BY h LIMIT 64)),
         |un AS (SELECT part, k_actual, kth_min FROM srcsk
         |       UNION ALL SELECT 'merged', k_actual, kth_min FROM mg
         |       UNION ALL SELECT 'global', k_actual, kth_min FROM gl)
         |SELECT part, k_actual, kth_min,
         |       ${sround(s"CASE WHEN k_actual < 64 THEN k_actual::DOUBLE ELSE $numer / kth_min::DOUBLE END", 6)} AS est_distinct
         |FROM un""".stripMargin
    },

    "q87_repeated_spans" ->
      s"""WITH $spanCtes
         |SELECT doc_id, span_start, span_len, n_other_docs FROM spans2""".stripMargin,

    "q91_span_text" ->
      s"""WITH $spanCtes,
         |st AS (SELECT s.doc_id, s.span_start, s.span_len, s.n_other_docs,
         |              array_to_string(list_slice(f.toks, s.span_start,
         |                                         s.span_start + s.span_len - 1), ' ') AS span_text
         |       FROM spans2 s JOIN f USING (doc_id))
         |SELECT doc_id, span_start, span_len, n_other_docs, span_text,
         |       min(doc_id) OVER (PARTITION BY md5(span_text)) AS span_group
         |FROM st""".stripMargin,

    "q33_simhash" -> simhashOracle("SELECT doc_id, simhash FROM s"),

    "q34_simhash_pairs" -> {
      val mask = (1L << TextHash.SimBandBits) - 1
      val bandSel = (0 until TextHash.SimBands).map(j =>
        s"SELECT doc_id, simhash, $j AS j, (simhash >> ${TextHash.SimBandBits * j}) & $mask AS bv FROM s")
        .mkString("\nUNION ALL\n")
      simhashOracle(
        s"""banded AS ($bandSel)
           |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS ham
           |FROM banded a JOIN banded b ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin, withCte = true)
    },

    "q140_dedup_recall" -> {
      val t = dlit(JaccardThreshold)
      val jac = "len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(list_concat(sa.sh, sb.sh)))"
      // q34's simhash chain with CTE names disjoint from sigCte's
      // shingle-based hs (these hashes are over TOKENS)
      val simBits = (0 until TextHash.SimBits).map { j =>
        s"(CASE WHEN list_sum(list_transform(th, h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      val mask = (1L << TextHash.SimBandBits) - 1
      val bandSel = (0 until TextHash.SimBands).map(j =>
        s"SELECT doc_id, simhash, $j AS j, (simhash >> ${TextHash.SimBandBits * j}) & $mask AS bv FROM shash")
        .mkString("\nUNION ALL\n")
      s"""$sigCte,
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
         |dfreq AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
         |ord AS (SELECT ex.doc_id, ex.s,
         |        row_number() OVER (PARTITION BY ex.doc_id ORDER BY d.df, ex.s) AS rn,
         |        count(*) OVER (PARTITION BY ex.doc_id) AS sz
         |        FROM ex JOIN dfreq d ON ex.s = d.s),
         |pref AS (SELECT doc_id, s FROM ord WHERE rn <= sz - ceil($t * sz) + 1),
         |tcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id),
         |truth AS (SELECT doc_a, doc_b
         |          FROM tcand JOIN sh sa ON doc_a = sa.doc_id JOIN sh sb ON doc_b = sb.doc_id
         |          WHERE ${sround(jac, 6)} >= $t),
         |exploded AS (SELECT doc_id, unnest([b0, b1, b2, b3]) AS bk FROM bands),
         |lshc AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM exploded a JOIN exploded b ON a.bk = b.bk AND a.doc_id < b.doc_id),
         |simhs AS (SELECT doc_id, list_transform(toks, t -> ${hexcast("t")}) AS th FROM toks),
         |shash AS (SELECT doc_id, CAST($simBits AS BIGINT) AS simhash FROM simhs),
         |banded AS ($bandSel),
         |simc AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM banded a JOIN banded b ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id
         |         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |m AS (SELECT 'lsh' AS method,
         |             (SELECT count(*) FROM truth) AS n_truth,
         |             (SELECT count(*) FROM lshc) AS n_cand,
         |             (SELECT count(*) FROM truth JOIN lshc USING (doc_a, doc_b)) AS n_hit
         |      UNION ALL
         |      SELECT 'simhash' AS method,
         |             (SELECT count(*) FROM truth) AS n_truth,
         |             (SELECT count(*) FROM simc) AS n_cand,
         |             (SELECT count(*) FROM truth JOIN simc USING (doc_a, doc_b)) AS n_hit)
         |SELECT method, CAST(n_truth AS BIGINT) AS n_truth,
         |       CAST(n_cand AS BIGINT) AS n_cand, CAST(n_hit AS BIGINT) AS n_hit,
         |       CASE WHEN n_truth = 0 THEN ${dlit(0.0)}
         |            ELSE ${sround("CAST(n_hit AS DOUBLE) / n_truth", 6)} END AS recall,
         |       CASE WHEN n_cand = 0 THEN ${dlit(0.0)}
         |            ELSE ${sround("CAST(n_hit AS DOUBLE) / n_cand", 6)} END AS precision
         |FROM m""".stripMargin
    },

    "q144_dedup_pagerank" -> {
      // the identical IEEE sequence per iteration: contribution sround-9,
      // inflow xsum-9, update sround-9 (componentCtes supplies the edge
      // relation `e`; its unreferenced label rounds are never evaluated)
      val iters = (1 to PrIters).map { i =>
        val upd = sround(
          s"${sround(s"(${dlit(1.0)} - ${dlit(PrDamp)})", 9)} / n + " +
            s"${dlit(PrDamp)} * COALESCE(s, ${dlit(0.0)})", 9)
        s"""c$i AS (SELECT e.dst AS doc_id, ${sround("p.pr / d.outdeg", 9)} AS c
           |        FROM e JOIN p${i - 1} p ON e.src = p.doc_id JOIN dg d ON e.src = d.src),
           |s$i AS (SELECT doc_id, ${xsumSql("c", 9)} AS s FROM c$i GROUP BY doc_id),
           |p$i AS (SELECT nd.doc_id, $upd AS pr
           |        FROM nd LEFT JOIN s$i USING (doc_id) CROSS JOIN nn)""".stripMargin
      }.mkString(",\n")
      s"""$componentCtes,
         |nd AS (SELECT DISTINCT src AS doc_id FROM e),
         |nn AS (SELECT count(*) AS n FROM nd),
         |dg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |p0 AS (SELECT doc_id, ${sround(s"${dlit(1.0)} / n", 9)} AS pr FROM nd CROSS JOIN nn),
         |$iters
         |SELECT p.doc_id, CAST(d.outdeg AS BIGINT) AS outdeg, p.pr AS pr
         |FROM p$PrIters p JOIN dg d ON p.doc_id = d.src""".stripMargin
    },

    "q169_dedup_triangles" -> {
      // the naive ordered triple join over the same verified edge set
      // (componentCtes supplies `pairs`/`e`; its label rounds are never
      // referenced, so DuckDB does not evaluate them) — equality with the
      // degree-oriented Spark plan proves the compact-forward rewrite exact
      s"""$componentCtes,
         |nd AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         |              CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS n_wedges FROM nd),
         |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM pairs),
         |tr AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
         |       FROM pairs p1
         |       JOIN pairs p2 ON p2.doc_a = p1.doc_a AND p2.doc_b > p1.doc_b
         |       JOIN pairs p3 ON p3.doc_a = p1.doc_b AND p3.doc_b = p2.doc_b)
         |SELECT st.n_nodes, ne.n_edges, st.n_wedges, tr.n_triangles,
         |       CASE WHEN st.n_wedges = 0 THEN ${dlit(0.0)}
         |            ELSE ${sround("CAST(3 * tr.n_triangles AS DOUBLE) / CAST(st.n_wedges AS DOUBLE)", 6)}
         |       END AS global_cc
         |FROM st, ne, tr""".stripMargin
    },

    // the same per-width counter/probe chains serially
    "q233_cms_sweep" -> {
      def chain(w: Long): String =
        s"""SELECT CAST($w AS BIGINT) AS w, pr.s, pr.exact_df, min(c.cnt) AS est_df
           |FROM (SELECT t.s, t.exact_df, ii.i,
           |        (${hexcast("t.s")} + ii.i * CAST(concat('0x', substr(md5(t.s), 16, 15)) AS BIGINT)) % $w AS p
           |      FROM top t, ii) pr
           |JOIN (SELECT i, (h1 + i * h2) % $w AS p, CAST(count(*) AS BIGINT) AS cnt
           |      FROM hs, ii GROUP BY i, p) c
           |  ON pr.i = c.i AND pr.p = c.p
           |GROUP BY pr.s, pr.exact_df""".stripMargin
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id, $shinglesSql AS sh FROM toks),
         |exx AS (SELECT doc_id, unnest(sh) AS s FROM sh0),
         |hs AS (SELECT s, ${hexcast("s")} AS h1,
         |              CAST(concat('0x', substr(md5(s), 16, 15)) AS BIGINT) AS h2
         |       FROM exx),
         |ii AS (SELECT unnest(range(0, $CmsD)) AS i),
         |top AS (SELECT s, CAST(count(*) AS BIGINT) AS exact_df FROM exx
         |        GROUP BY s ORDER BY count(*) DESC, s LIMIT 10),
         |u AS (${CmsSweepWs.map(chain).mkString("\n UNION ALL \n")})
         |SELECT w, s, exact_df, CAST(est_df AS BIGINT) AS est_df,
         |       CAST(est_df - exact_df AS BIGINT) AS overcount
         |FROM u""".stripMargin
    },

    // the same bottom-K ladder serially
    "q234_kmv_sweep" -> {
      def chain(k: Int): String = {
        val numer = dlit((k - 1).toDouble * math.pow(2.0, 60))
        s"""SELECT CAST($k AS INT) AS k, k_actual, exact_distinct,
           |       ${sround(s"CASE WHEN k_actual < $k THEN exact_distinct::DOUBLE ELSE $numer / kth_min::DOUBLE END", 6)} AS est_distinct
           |FROM (SELECT CAST(count(*) AS BIGINT) AS k_actual, max(h) AS kth_min
           |      FROM (SELECT h FROM hs ORDER BY h LIMIT $k)) CROSS JOIN ex""".stripMargin
      }
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, $shinglesSql AS sh FROM toks),
         |hs AS (SELECT ${hexcast("s")} AS h
         |       FROM (SELECT DISTINCT unnest(sh) AS s FROM sh)),
         |ex AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS exact_distinct FROM hs),
         |u AS (${KmvSweepKs.map(chain).mkString("\n UNION ALL \n")})
         |SELECT k, k_actual, exact_distinct, est_distinct,
         |       ${sround("abs(est_distinct - exact_distinct) / CAST(exact_distinct AS DOUBLE)", 6)} AS rel_err
         |FROM u""".stripMargin
    },

    // the same banded candidates + character-level Levenshtein serially
    // (both engines: classic unit-cost edit distance over the SAME
    // alnum-normalized ASCII string)
    "q247_edit_distance_linkage" -> {
      val sim = s"${dlit(1.0)} - CAST(levenshtein(na.nt, nb.nt) AS DOUBLE) / " +
        "CAST(greatest(length(na.nt), length(nb.nt), 1) AS DOUBLE)"
      s"""$sigCte,
         |exploded AS (SELECT doc_id, unnest([b0, b1, b2, b3]) AS bk FROM bands),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM exploded a JOIN exploded b ON a.bk = b.bk AND a.doc_id < b.doc_id),
         |norm AS (SELECT doc_id, $normSql AS nt FROM documents)
         |SELECT doc_a, doc_b,
         |       CAST(length(na.nt) AS BIGINT) AS len_a,
         |       CAST(length(nb.nt) AS BIGINT) AS len_b,
         |       CAST(levenshtein(na.nt, nb.nt) AS BIGINT) AS edit_dist,
         |       ${sround(sim, 6)} AS edit_sim
         |FROM cand JOIN norm na ON doc_a = na.doc_id
         |          JOIN norm nb ON doc_b = nb.doc_id
         |WHERE ${sround(sim, 6)} >= ${dlit(EditSimThreshold)}""".stripMargin
    },

    // the same asymmetric containment serially (exact integer set sizes
    // until the two final divisions)
    "q248_containment_neardup" -> {
      val ca = s"CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / " +
        "CAST(greatest(len(sa.sh), 1) AS DOUBLE)"
      val cb = s"CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / " +
        "CAST(greatest(len(sb.sh), 1) AS DOUBLE)"
      s"""$sigCte,
         |exploded AS (SELECT doc_id, unnest([b0, b1, b2, b3]) AS bk FROM bands),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM exploded a JOIN exploded b ON a.bk = b.bk AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |       CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_common,
         |       CAST(len(sa.sh) AS BIGINT) AS sz_a,
         |       CAST(len(sb.sh) AS BIGINT) AS sz_b,
         |       ${sround(ca, 6)} AS contain_a,
         |       ${sround(cb, 6)} AS contain_b
         |FROM cand JOIN sh sa ON doc_a = sa.doc_id
         |          JOIN sh sb ON doc_b = sb.doc_id
         |WHERE greatest(${sround(ca, 6)}, ${sround(cb, 6)}) >= ${dlit(ContainThreshold)}""".stripMargin
    },

    // the same group-level min-merge signatures serially (source order
    // is binary-lexicographic in both engines)
    "q252_source_minhash_matrix" -> {
      val sigCols = (0 until NumHashes)
        .map(j => s"CAST(min((${HashA(j)} * hm + ${HashB(j)}) % $P) AS BIGINT) AS sig$j")
        .mkString(", ")
      val agree = "CAST(" + (0 until NumHashes)
        .map(j => s"(CASE WHEN a.sig$j = b.sig$j THEN 1 ELSE 0 END)")
        .mkString(" + ") + " AS BIGINT)"
      s"""WITH toks AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id, source, $shinglesSql AS sh FROM toks),
         |srcsh AS (SELECT DISTINCT source, unnest(sh) AS s FROM sh0),
         |hm AS (SELECT source, ${hexcast("s")} % $P AS hm FROM srcsh),
         |sig AS (SELECT source, $sigCols FROM hm GROUP BY source),
         |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS sz FROM srcsh GROUP BY source),
         |inter AS (SELECT x.source AS src_a, y.source AS src_b,
         |                 CAST(count(*) AS BIGINT) AS n_common
         |          FROM srcsh x JOIN srcsh y ON x.s = y.s AND x.source < y.source
         |          GROUP BY x.source, y.source),
         |p AS (SELECT a.source AS src_a, b.source AS src_b, $agree AS n_agree
         |      FROM sig a JOIN sig b ON a.source < b.source),
         |m AS (SELECT p.src_a, p.src_b, p.n_agree,
         |             CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
         |             za.sz AS sz_a, zb.sz AS sz_b
         |      FROM p LEFT JOIN inter i ON p.src_a = i.src_a AND p.src_b = i.src_b
         |      JOIN sz za ON p.src_a = za.source
         |      JOIN sz zb ON p.src_b = zb.source)
         |SELECT src_a, src_b, n_agree,
         |       ${sround(s"CAST(n_agree AS DOUBLE) / ${dlit(NumHashes.toDouble)}", 6)} AS est_jaccard,
         |       n_common,
         |       ${sround("CAST(n_common AS DOUBLE) / CAST(sz_a + sz_b - n_common AS DOUBLE)", 6)} AS jaccard
         |FROM m""".stripMargin
    },

    // the same three-sketch inclusion–exclusion serially: per-set
    // registers, a max-merged union, the shared q108 estimator chain
    "q251_hll_intersection" -> {
      val ladder = (51 to 0 by -1)
        .map(b => s"WHEN rest >= ${1L << b} THEN ${52 - b}").mkString(" ")
      // the q108 v_zero / linear-counting / harmonic chain over a
      // registers CTE, as a scalar subquery
      def estChain(regsFrom: String): String =
        s"""(SELECT CASE WHEN raw_est <= ${dlit(2.5 * HllM)} AND v_zero > 0
           |       THEN ${sround(s"${dlit(HllM.toDouble)} * ${sround(s"ln(${dlit(HllM.toDouble)} / v_zero)", 6)}", 6)}
           |       ELSE raw_est END
           | FROM (SELECT v_zero, ${sround(s"${dlit(HllAlphaC)} / CAST(s_total AS DOUBLE)", 6)} AS raw_est
           |       FROM (SELECT ($HllM - count(*)) AS v_zero,
           |                    sum(CAST(1 AS BIGINT) << CAST(53 - r AS INT)) + ($HllM - count(*)) * (CAST(1 AS BIGINT) << 53) AS s_total
           |             FROM $regsFrom)))""".stripMargin
      s"""WITH ab AS (SELECT event_type, CAST(user_id AS VARCHAR) AS item
         |            FROM events WHERE event_type IN ('view', 'click')),
         |hh AS (SELECT event_type, ${hexcast("item")} AS h FROM ab),
         |b AS (SELECT event_type, h // ${1L << 52} AS bucket, h % ${1L << 52} AS rest FROM hh),
         |rk AS (SELECT event_type, bucket, CASE $ladder ELSE 53 END AS rk FROM b),
         |regs AS (SELECT event_type, bucket, max(rk) AS r FROM rk GROUP BY event_type, bucket),
         |regsu AS (SELECT bucket, max(r) AS r FROM regs GROUP BY bucket),
         |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_intersection FROM
         |         (SELECT DISTINCT user_id FROM events WHERE event_type = 'view')
         |         JOIN (SELECT DISTINCT user_id FROM events WHERE event_type = 'click')
         |         USING (user_id)),
         |e AS (SELECT
         |        ${estChain("regs WHERE event_type = 'view'")} AS est_a,
         |        ${estChain("regs WHERE event_type = 'click'")} AS est_b,
         |        ${estChain("regsu")} AS est_union)
         |SELECT est_a, est_b, est_union,
         |       ${sround("est_a + est_b - est_union", 6)} AS est_intersection,
         |       exact_intersection
         |FROM e CROSS JOIN ex""".stripMargin
    },

    // the same per-p integer chains serially over ONE shared hash CTE
    "q232_hll_sweep" -> {
      def chain(p: Int): String = {
        val restBits = 60 - p; val m = 1L << p; val k = restBits + 1
        val ladder = ((restBits - 1) to 0 by -1)
          .map(b => s"WHEN rest >= ${1L << b} THEN ${restBits - b}").mkString(" ")
        s"""SELECT CAST($p AS INT) AS p, CAST($m AS BIGINT) AS m, v_zero, est FROM (
           |  SELECT *, CASE WHEN raw_est <= ${dlit(2.5 * m)} AND v_zero > 0
           |              THEN ${sround(s"${dlit(m.toDouble)} * (${sround(s"ln(${dlit(m.toDouble)} / v_zero)", 6)})", 6)}
           |              ELSE raw_est END AS est FROM (
           |    SELECT *, ($m - n_buckets) AS v_zero,
           |           ${sround(s"${dlit(hllSweepAlphaC(p))} / CAST(s_present + ($m - n_buckets) * (CAST(1 AS BIGINT) << $k) AS DOUBLE)", 6)} AS raw_est
           |    FROM (
           |      SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           |             CAST(sum(CAST(1 AS BIGINT) << CAST($k - r AS INT)) AS BIGINT) AS s_present
           |      FROM (SELECT bucket, max(rk) AS r FROM (
           |              SELECT h // ${1L << restBits} AS bucket,
           |                     CASE $ladder ELSE ${restBits + 1} END AS rk
           |              FROM (SELECT h % ${1L << restBits} AS rest, h FROM hh) q$p)
           |            GROUP BY bucket) rg$p)))""".stripMargin
      }
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id, $shinglesSql AS sh FROM toks),
         |s AS (SELECT unnest(sh) AS s FROM sh0),
         |hh AS (SELECT s, ${hexcast("s")} AS h FROM s),
         |ex AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS exact_distinct FROM hh),
         |u AS (${HllSweepPs.map(chain).mkString("\n UNION ALL \n")})
         |SELECT p, m, CAST(v_zero AS BIGINT) AS v_zero, est, exact_distinct,
         |       ${sround("abs(est - exact_distinct) / CAST(exact_distinct AS DOUBLE)", 6)} AS rel_err
         |FROM u CROSS JOIN ex""".stripMargin
    },

    // the same two-stage funnel serially (componentCtes supplies the l3
    // labels over all docs; restricting to exact survivors before the
    // min-per-label collapse mirrors the Spark cascade)
    "q216_dedup_cascade" ->
      s"""$componentCtes,
         |ex AS (SELECT md5($normSql) AS h, CAST(min(doc_id) AS BIGINT) AS doc_id
         |       FROM documents GROUP BY h),
         |sl AS (SELECT ex.doc_id, l3.label FROM ex JOIN l3 USING (doc_id)),
         |c2 AS (SELECT label, min(doc_id) AS canon2 FROM sl GROUP BY label),
         |t AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
         |             (SELECT count(*) FROM ex) AS n_after_exact,
         |             (SELECT count(*) FROM c2) AS n_after_neardup)
         |SELECT CAST(n_docs AS BIGINT) AS n_docs,
         |       CAST(n_docs - n_after_exact AS BIGINT) AS exact_dropped,
         |       CAST(n_after_exact AS BIGINT) AS n_after_exact,
         |       CAST(n_after_exact - n_after_neardup AS BIGINT) AS neardup_dropped,
         |       CAST(n_after_neardup AS BIGINT) AS n_after_neardup
         |FROM t""".stripMargin,

    // the same banded candidates and frequency algebra serially
    "q214_weighted_jaccard" ->
      s"""$sigCte,
         |exploded AS (SELECT doc_id, unnest([b0, b1, b2, b3]) AS bk FROM bands),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM exploded a JOIN exploded b ON a.bk = b.bk AND a.doc_id < b.doc_id),
         |tf AS (SELECT doc_id, t AS tok, CAST(count(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest(toks) AS t FROM toks) GROUP BY doc_id, t),
         |ta AS (SELECT doc_a, doc_b, tok, tf AS tfa FROM cand JOIN tf ON doc_a = tf.doc_id),
         |tb AS (SELECT doc_a, doc_b, tok, tf AS tfb FROM cand JOIN tf ON doc_b = tf.doc_id),
         |u AS (SELECT coalesce(ta.doc_a, tb.doc_a) AS doc_a,
         |             coalesce(ta.doc_b, tb.doc_b) AS doc_b,
         |             coalesce(tfa, 0) AS tfa, coalesce(tfb, 0) AS tfb
         |      FROM ta FULL OUTER JOIN tb
         |        ON ta.doc_a = tb.doc_a AND ta.doc_b = tb.doc_b AND ta.tok = tb.tok)
         |SELECT doc_a, doc_b,
         |       CAST(sum(least(tfa, tfb)) AS BIGINT) AS inter_w,
         |       CAST(sum(greatest(tfa, tfb)) AS BIGINT) AS union_w,
         |       ${sround("CAST(sum(least(tfa, tfb)) AS DOUBLE) / CAST(sum(greatest(tfa, tfb)) AS DOUBLE)", 6)} AS weighted_jaccard
         |FROM u GROUP BY doc_a, doc_b""".stripMargin,

    // the same prefix-key total order with ONE serial global row_number —
    // equality proves the bucket-offset numbering IS the global sort order
    "q194_sorted_neighborhood" -> {
      val jac = "len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(list_concat(sa.sh, sb.sh)))"
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, $shinglesSql AS sh FROM toks),
         |k AS (SELECT doc_id, substr($normSql, 1, 24) AS skey FROM documents),
         |r AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY skey, doc_id) AS BIGINT) AS rn
         |      FROM k),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(d.dd AS BIGINT) AS rank_gap
         |      FROM r a CROSS JOIN (SELECT unnest([1, 2]) AS dd) d
         |      JOIN r b ON b.rn = a.rn + d.dd)
         |SELECT doc_a, doc_b, rank_gap, ${sround(jac, 6)} AS jaccard
         |FROM p JOIN sh sa ON doc_a = sa.doc_id JOIN sh sb ON doc_b = sb.doc_id
         |WHERE ${sround(jac, 6)} >= 0.3""".stripMargin
    }
  )
}
