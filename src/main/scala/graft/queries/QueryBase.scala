package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, TimestampNTZType, TimestampType}

/** Shared helpers for query definitions + their DuckDB oracles. */
object QueryBase {

  type QFn = (SparkSession, String) => DataFrame

  /** Portable round-half-up — the SAME IEEE ops the oracle SQL uses
    * (floor(x*10^d + 0.5)/10^d), so rounded doubles hash-match. Engine
    * round() differs between Spark/DuckDB on ties, this does not.
    *
    * Overflow care: Spark's floor() returns LONG and SATURATES at ±2^63
    * (q221's µs means at sf0.001 hash-mismatched exactly there), while
    * DuckDB's floor stays DOUBLE. Below 2^52 the long floor IS the exact
    * double floor; at or above 2^52 every double is already integral, so
    * floor is the identity — branching there keeps the whole computation
    * in IEEE doubles like the oracle's, bit-identical at every magnitude
    * (and ±Inf passes through instead of saturating, also like DuckDB).
    *
    * NaN also passes through (= DuckDB's floor(NaN)): Spark's SQL NaN
    * semantics order NaN GREATER than every other double — the >= 2^52
    * guard is true, not null, for NaN — so the passthrough branch takes
    * it. ProundSpec pins all three non-finite cases. */
  def pround(c: Column, digits: Int): Column = {
    val p = math.pow(10, digits)
    val x = c * lit(p) + lit(0.5)
    when(abs(x) >= lit(4503599627370496.0), x)
      .otherwise(floor(x).cast("double")) / lit(p)
  }

  /** Scalar [[pround]] for plain Double code such as streaming state:
    * the identical IEEE ops. `math.pow(10, digits)` is exact for these
    * digits, and `math.floor` is already the identity from 2^52 up, so
    * the Column form's guard needs no branch here. */
  def pround(x: Double, digits: Int): Double = {
    val p = math.pow(10, digits)
    math.floor(x * p + 0.5) / p
  }

  /** Epoch-MICROSECOND integer column for a time column, whatever type the
    * data carries it as — the ONE place every oracle-facing time
    * ordering/bucketing threshold derives from (the DuckDB oracle side is
    * `epoch_us(ts)`, so both engines see the same µs integers):
    *
    *  - parquet TIMESTAMP / TIMESTAMP_NTZ (what the testdata's
    *    `timestamp[us]` events.ts reads as): `unix_micros`. The session
    *    timezone is pinned UTC ([[graft.SparkUtil.configure]]), so the
    *    NTZ→instant cast is the identity wall-clock mapping DuckDB's
    *    naive `epoch_us` uses.
    *  - integer NANOSECONDS (the legacy `nanosAsLong` layout, still what
    *    synthetic spec frames feed): `div 1000` — INTEGER division; FP
    *    division of ns epochs loses precision above 2^53.
    *
    * Dispatch happens ONCE per query on the frame's schema, never per row,
    * and the returned Column resolves against whatever frame the caller
    * applies it to (window specs included) — the input frame only supplies
    * the schema. */
  def tsUs(df: DataFrame, name: String = "ts"): Column =
    df.schema(name).dataType match {
      case TimestampType | TimestampNTZType => unix_micros(col(name).cast(TimestampType))
      case LongType | IntegerType           => expr(s"$name div 1000")
      case dt => throw new IllegalArgumentException(
        s"graft: time column '$name' has unsupported type $dt " +
          "(expected TIMESTAMP/TIMESTAMP_NTZ or integer nanoseconds)")
    }

  /** isfinite(value) mirroring the reference's moment filter
    * (src/symtseries.c:267): not NaN and not ±Inf. */
  def isFiniteCol(c: Column): Column =
    !isnan(c) && c =!= lit(Double.PositiveInfinity) && c =!= lit(Double.NegativeInfinity)

  /** Order-independent, engine-portable sum of doubles: quantize each value
    * to `digits` decimals as an integer-valued double (floor(x*10^d+0.5) —
    * identical IEEE ops in Spark and DuckDB), sum exactly (integer sums
    * commute; keep Σ|x|·10^d below 2^53), then scale back. Plain double
    * sums are nondeterministic under parallel partial aggregation, and
    * double->DECIMAL casts round differently between engines (Spark via
    * shortest-string repr, DuckDB via double arithmetic), so neither
    * hash-matches a single-threaded oracle; this does. */
  def xsum(c: Column, digits: Int): Column = {
    val p = math.pow(10, digits)
    sum(floor(c * lit(p) + lit(0.5))) / lit(p)
  }

  /** Cache a TRANSIENT per-run frame (a training artifact, a candidate
    * set, a truth scan) with a bounded lifecycle — the hardening of the
    * old "direct callers own clearCache()" contract. Each (session, site)
    * keeps ONE cached frame: re-running the same site unpersists the
    * previous run's frame first, so a caller looping queries outside
    * Bench/Verify holds at most one storage entry per site instead of
    * accumulating one per run. Unpersisting a superseded frame is always
    * correctness-safe (Spark recomputes from lineage — unlike at-rest
    * FILES, nothing can dangle). The [[SessionMemo]] drops an ending
    * context's entries (their cached RDDs die with it) and its FIFO bound
    * unpersists entries of sessions a caller minted and dropped
    * mid-application (tests and streaming clones still do; engine
    * queries take theirs from [[childSession]]). */
  private[graft] val tcacheMemo = new SessionMemo[DataFrame](64,
    onEvict = (_, df) => unpersistQuietly(df))

  private def unpersistQuietly(df: DataFrame): Unit =
    try df.unpersist() catch { case _: Throwable => () }

  def tcache(df: DataFrame, site: String): DataFrame = {
    val spark = df.sparkSession
    // TRUE MEMO HIT: when the site re-derives the SAME logical plan (the
    // 8-query recall ladder re-building the identical exact-truth frame,
    // a re-probed band frame, …), return the EXISTING frame instead of
    // replacing it — the replace path unpersists the predecessor first,
    // which silently threw away the materialized data and recomputed on
    // every caller even though the plan never changed. The .cache() on
    // the hit is a no-op when still cached and a cheap re-registration
    // when a clearCache() dropped it (Bench's standalone-timing
    // discipline is unchanged: it clears between queries, so a memo hit
    // still recomputes inside the timed query exactly as before).
    val hit = tcacheMemo.get(spark, site).orNull
    if (hit != null && ((hit eq df) ||
        hit.queryExecution.analyzed.sameResult(df.queryExecution.analyzed))) {
      // re-register only when a clearCache() actually dropped it — an
      // unconditional cache() here was the r16 bench tail's repeated
      // "Asked to cache already cached data" warning (one per memo hit)
      if (hit.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        hit.cache()
      return hit
    }
    // ORDER MATTERS on the replace path: unpersist the predecessor BEFORE
    // caching the new frame. A replaced frame can still share the
    // canonicalized plan the CacheManager keys entries by — unpersisting
    // the old object after cache() would remove the entry the new cache()
    // call just created (or no-opped onto), leaving the site uncached on
    // every run but the first.
    tcacheMemo.put(spark, site, df).filter(_ ne df).foreach(unpersistQuietly)
    df.cache()
  }

  /** Drop a [[tcache]] site eagerly: unpersist the frame and free its
    * registry slot. For BUILD-LOCAL frames (the one-shot at-rest builds
    * tcache corpus-sized intermediates that have no post-build consumer —
    * r18 ADVICE): AtRestTables guarantees the build closure runs once, so
    * its working frames should not sit in the 64-slot registry holding
    * memory until FIFO eviction. Safe at any time — a later tcache on the
    * same site just re-caches. */
  def tcacheDrop(spark: SparkSession, site: String): Unit =
    tcacheMemo.remove(spark, site).foreach(unpersistQuietly)

  /** Conf-isolated child sessions, one per (parent, conf set). */
  private[graft] val childMemo = new SessionMemo[SparkSession](16)

  /** THE conf-isolated child session: `parent.newSession()` with `confs`
    * set, built once per (parent, conf set) and reused by every later
    * call, whatever the order of `confs`. A query that needs confs its
    * parent must not see (a lowered AQE skew threshold, runtime blooms,
    * no broadcast) takes its session here instead of minting one per
    * execution: a fresh session has a fresh artifact classloader, which
    * misses Spark's generated-class cache on every class
    * ([[graft.SparkUtil.configure]]), and a fresh session key misses the
    * resolved-relation memo ([[graft.SparkUtil.table]]) on every read.
    * CodegenReuseSpec fails on a `newSession()` or `conf.set(` elsewhere
    * under graft.queries. */
  def childSession(parent: SparkSession, confs: (String, String)*): SparkSession =
    childMemo.getOrBuild(parent,
        confs.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n")) {
      val child = parent.newSession()
      confs.foreach { case (k, v) => child.conf.set(k, v) }
      child
    }

  /** Repartition a small single-file table before UDF-heavy work: the
    * testdata tables are one parquet file each, so Spark plans ONE input
    * split and the whole pipeline above the first shuffle runs on a single
    * core. One cheap round-robin shuffle buys full parallelism. A scan
    * that already plans many splits pays for an exchange it does not
    * need; skipping it from the scan's planned split count is still
    * open. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** THE tokenize, Spark surface — the filter-nonempty formulation of
    * the engine-wide tokenization invariant (twins:
    * `graft.sax.TextHash.tokenize` for driver-side Scala,
    * `graft.sql.TextSql.toks` for generated DuckDB SQL). Every Spark
    * query that tokenizes `text` uses THIS column, so the formulation
    * cannot drift per site (it was 33 inline copies before r16's
    * consolidation). */
  def toksCol: Column = filter(split(lower(col("text")), "\\s+"), t => t =!= "")

  /** Phase-1 fan-out for [[saltedTopK]] (q79's SkewSaltFan discipline):
    * pure plan shape — survivor supersets make results independent of the
    * value, so there is no oracle surface. ONE constant for every salted
    * rank in the engine. */
  val SaltFan = 16

  /** GDPR document-erasure cohort over the shared doc/vec id space
    * (q304/q305/q307 and [[graft.streaming.StreamingErasure]]): ids with
    * `id % EraseMod == EraseRes` are erased, EXCEPT ids below
    * [[EraseProtect]] — those are the serving workload's own query
    * docs/vectors (q302's HybridQueries, the ANN QueryCount), retained so
    * the post-erasure serve still has its queries. ONE place; both
    * engines embed these as literals ([[erasedId]] / [[erasedSql]]). The
    * mod-7 cohort is deliberately LARGE (~14% of the corpus) so erasure
    * visibly rewrites the served top-k — a forgotten tombstone join
    * cannot hash-match by luck. */
  val EraseMod = 7L
  val EraseRes = 3L
  val EraseProtect = 10L

  /** The erased-id predicate, Spark side. */
  def erasedId(id: Column): Column =
    (pmod(id, lit(EraseMod)) === lit(EraseRes)) && id >= lit(EraseProtect)

  /** The erased-id predicate, oracle side — same arithmetic as
    * [[erasedId]] (ids are non-negative, so `%` == pmod). */
  def erasedSql(idExpr: String): String =
    s"($idExpr % $EraseMod = $EraseRes AND $idExpr >= $EraseProtect)"

  /** Per-group top-`depth` by a TOTAL order with NO group-sized window
    * task — the q79/q296 salted two-phase rank, generalized (the r15
    * verdict's #1: this used to live as two private copies and five
    * queries still ranked corpus-sized frames with direct windows):
    *
    *  - phase 1 ranks inside (part, salt % [[SaltFan]]) and keeps ≤ depth
    *    rows per salt group, so the big sort runs SaltFan-way parallel
    *    per group and the surviving frame is ≤ SaltFan·depth rows/group;
    *  - phase 2 re-ranks only those survivors per group.
    *
    * Bit-identical to `row_number().over(partitionBy(part).orderBy(order))
    * <= depth`: `order` must be a TOTAL order of the group (include the
    * tie-break id), so every true top-depth row is also top-depth within
    * its own salt slice — phase 1 keeps a superset and phase 2 assigns
    * the exact ranks the direct window (and the oracle) would. Returns
    * the input columns plus `rankName` (callers select it away when the
    * oracle surface has no rank). `salt` must be deterministic per row —
    * pass the tie-break id column. */
  def saltedTopK(df: DataFrame, part: Seq[String], order: Seq[Column],
      salt: Column, depth: Int, rankName: String = "__stk_rnk"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySalt = Window.partitionBy((part :+ "__stk_salt").map(col): _*)
      .orderBy(order: _*)
    val byPart = Window.partitionBy(part.map(col): _*).orderBy(order: _*)
    df.withColumn("__stk_salt", pmod(salt, lit(SaltFan)))
      .withColumn("__stk_srn", row_number().over(bySalt))
      .where(col("__stk_srn") <= depth)
      .withColumn(rankName, row_number().over(byPart))
      .where(col(rankName) <= depth)
      .drop("__stk_salt", "__stk_srn")
  }

  /** THE probed-cell read of a cell-bucketed at-rest code table, shared
    * by every persisted ANN serve (`VectorQueries.annServe`,
    * `MultimodalQueries.mmProbe`, q303's generation pair): prune `codes`
    * to the sorted, driver-collected probed `cells` with a LITERAL
    * `cell IN (...)`, so the bucketed scan reads only the probed cells'
    * buckets; then, given a (cell, `idCol`) tombstone frame, anti-join
    * it pruned to the same cells (the q305/q310 merge-on-read leg: the
    * bounded tombstone slice broadcasts and drops erased candidates
    * before any scoring). An empty cell list reads nothing. ServePathSpec
    * fails the suite if another `cell IN` prune or cell-keyed anti join
    * appears under graft.queries. */
  def probedCodes(codes: DataFrame, cells: Seq[Long], tomb: Option[DataFrame],
                  idCol: String): DataFrame = {
    def prune(t: DataFrame) =
      if (cells.isEmpty) t.limit(0) else t.where(col("cell").isin(cells: _*))
    val live = prune(codes)
    tomb.fold(live)(t =>
      live.join(broadcast(prune(t)), Seq("cell", idCol), "left_anti"))
  }

  /** Driver-collect bound shared by [[stitchedRowNumber]]'s bucket guard
    * and `RelQueries.kaplanMeierOf`'s (the r15 ADVICE drift hazard: the
    * two guards protect the same collect shape, so they must retune
    * together). 2M (bucket, total) pairs ≈ tens of MB on the driver —
    * loud headroom, not a perf knob. */
  val StitchCollectBound = 1L << 21

  /** Global 1-based row_number over the TOTAL order (`key` ASC, `tie` ASC)
    * with NO single-task window — the q290 bucket-stitch generalized for
    * ranking, so corpus-sized ntile/rank frames (q197's deciles, q202's
    * RFM quartiles) survive 100 TB:
    *
    *  - the per-KEY count frame (the bounded value domain) range-buckets
    *    by `key div width`, so each per-bucket cumulative window task
    *    sees ≤ width consecutive distinct keys — skew-proof by
    *    construction;
    *  - the ≤ range/width bucket-total frame is collected, prefix-summed
    *    on the driver and broadcast back (bounded by construction — pick
    *    `width` so range/width stays collectable, e.g. a day of µs for
    *    timestamp keys);
    *  - each row's rank = its key's strictly-below count + a tie-local
    *    row_number partitioned by the EXACT key (parallel across keys;
    *    single-task only in tie multiplicity, the q61/q79 skew caveat).
    *
    * All arithmetic is exact BIGINT, so ranks are bit-identical to the
    * single-window `row_number().over(Window.orderBy(key, tie))`. Returns
    * (frame + `rnName` column, total row count). For DESC order pass the
    * negated key (trunc-toward-zero `div` stays monotone on negatives —
    * buckets near 0 just span up to 2·width keys).
    *
    * The driver-side prefix sum collects one row per NON-EMPTY bucket —
    * bounded only by the caller's width choice against the key domain, so
    * a mis-picked width (µs keys with width 1) is a silent driver OOM.
    * `maxBuckets` makes that loud: the collect is capped at
    * `limit(maxBuckets + 1)` rows (one fused job — the guard and the
    * prefix-sum input share a single bounded collect, the r18 fold), and
    * a breach fails the `require` with the width contract instead of an
    * OOM — at most maxBuckets+1 rows can ever reach the driver. */
  def stitchedRowNumber(df: DataFrame, key: Column, tie: Column,
      width: Long, site: String, rnName: String,
      maxBuckets: Long = StitchCollectBound): (DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val withK = df.withColumn("__k", key.cast("long"))
    val wIn = Window.partitionBy("__b").orderBy("__k")
      .rowsBetween(Window.unboundedPreceding, 0)
    val dom = tcache(withK.groupBy("__k").agg(count(lit(1)).as("__n"))
      .withColumn("__b", expr(s"__k div $width"))
      .withColumn("__cum_in", sum("__n").over(wIn)), site)
    val btF = dom.groupBy("__b").agg(sum("__n").as("__bt"))
    // the bound guard and the prefix-sum input come from ONE bounded
    // collect: limit(maxBuckets + 1) caps what can ever reach the driver
    // (a breach surfaces as the loud require below, never an OOM), and
    // folding the former separate count() job into the collect removes
    // one full pass over the bucket-total frame per stitched rank (r18:
    // 8 registry call sites pay this on every run)
    val btRaw = btF.limit(
      math.min(maxBuckets + 1, Int.MaxValue.toLong).toInt).collect()
    require(btRaw.length <= maxBuckets,
      s"stitchedRowNumber($site): more than $maxBuckets stitch buckets — " +
        s"width=$width is too narrow for this " +
        "key domain; pick a width so (key range / width) stays " +
        "driver-collectable (e.g. a day of µs for timestamp keys)")
    val bt = btRaw.map { r =>
        // contract: keys must be non-null (every current caller ranks a
        // non-null aggregate). The single-window forms this replaces order
        // NULL keys; here a null would land in a null bucket and surface
        // as an opaque NPE below — fail with the contract instead.
        require(!r.isNullAt(0),
          s"stitchedRowNumber($site): ranking key is NULL for ${r.getLong(1)} " +
            "rows — callers must coalesce or filter null keys first")
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
    val tot = bt.iterator.map(_._2).sum
    var acc = 0L
    val off = bt.map { case (b, x) => val o = acc; acc += x; (b, o) }
    val below = dom.join(broadcast(off.toSeq.toDF("__b", "__boff")), Seq("__b"))
      .select(col("__k"),
        (col("__boff") + col("__cum_in") - col("__n")).as("__lt"))
    val ranked = withK.join(below, Seq("__k"))
      .withColumn(rnName, col("__lt") +
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("__k").orderBy(tie)).cast("long"))
      .drop("__k", "__lt")
    (ranked, tot)
  }

  /** The exact Spark/DuckDB `ntile(k)` bucket from a
    * [[stitchedRowNumber]] rank and its driver-known total: n div k rows
    * per bucket, the first n mod k buckets one extra — integral `div`
    * arithmetic on the rank column (named, so the expression splices), no
    * window. Bit-identical to `ntile(k).over(orderBy(...))` on the same
    * total order. */
  def ntileOf(rnName: String, total: Long, k: Int): Column = {
    val base = total / k
    val rem = total % k
    if (base == 0L) expr(s"cast($rnName as int)")
    else {
      val cut = rem * (base + 1)
      expr(s"cast(case when $rnName <= $cut" +
        s" then ($rnName - 1) div ${base + 1} + 1" +
        s" else $rem + ($rnName - $cut - 1) div $base + 1 end as int)")
    }
  }
}
