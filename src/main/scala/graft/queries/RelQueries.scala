package graft.queries

import graft.SparkUtil.table
import graft.sql.OracleGen.{dlit, sround, xsumSql}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryBase._

/** Relational compositions over the TPC-H-ish tables — the scan / filter /
  * join / aggregate / window / sort / limit / set-op checklist around the
  * SAX core (SURVEY.md §2.3).
  *
  * Numeric policy: monetary sums use [[QueryBase.xsum]] (scaled-integer
  * double sums) so the aggregate is order-independent and engine-portable.
  *
  * Scale notes: nation/region/part/customer are broadcast-size dimensions
  * (explicit broadcast() hints; at 100 TB lineitem only the fact side
  * shuffles, and only when the aggregation key demands it).
  */
object RelQueries {

  /** Session inactivity threshold, in MICROSECONDS — microsecond precision
    * on both sides because the oracle's DuckDB reads the ns parquet column
    * as a us TIMESTAMP. One constant feeds the Spark def and the oracle
    * SQL so they cannot drift. */
  // shared with SaxQueries' q102 session ENCODE (one constant, both
  // surfaces, per the oracle-parity discipline)
  private[graft] val SessionGapUs = 2L * 24 * 3600 * 1000000L

  /** q79 rank depth; the oracle ranks the same top-k with one direct
    * window, so k feeds both surfaces from here (the fan-out is
    * [[QueryBase.SaltFan]], shared by every salted rank). */
  private val SkewTopK = 3

  /** q118 sketch geometry — [[QSketchBins]] equal-width bins over the
    * events.value range; [[QSketchQs]] the probed quantiles. ONE
    * definition, embedded into the oracle SQL (via dlit for the
    * non-representable 0.9/0.99). */
  private val QSketchBins = 64
  private val QSketchQs = Seq(0.5, 0.9, 0.99)

  /** q130/q131 one-pass sketch geometry: log-domain bin width (natural-log
    * units). Bin of a positive value is floor(quantized-ln(v) / width) — a
    * FIXED grid needing no data-dependent [lo, hi], the DDSketch insight
    * (Masson et al., VLDB 2019): geometric bins give a bounded RELATIVE
    * error, here (e^w − 1)/2 ≈ 1%. The ln is quantized to 6 decimals
    * BEFORE the divide (the q124/q50 quantize-early-ln parity discipline —
    * JVM and libm ln differ by 1 ulp on ~2% of inputs). Values ≤ 0 (the
    * sf0.1 events table has exact zeros) go to the dedicated [[QLowBin]]
    * store, which orders before every log bin. */
  private val QLogBinW = 0.02
  private val QLowBin = -1000000L

  /** q119 range-join radius, MICROSECONDS (the µs oracle discipline).
    * The bucket width below IS this τ — that equality is what makes the
    * ±1-bucket probe complete. */
  private[graft] val RangeTauUs = 3600000000L // 1 hour (µs) — ALSO the streaming range-join default

  /** The q130/q131 sketch row set: ONE combinable groupBy over the fixed
    * log-domain grid — (bin, cnt, vmin, vmax). One scan, map-side partial
    * aggregation, a bounded-dictionary result (≈ ln(dynamic range)/w
    * rows), mergeable by (+, min, max) across ANY sharding — the one-pass
    * 100 TB build q118's equal-width sketch (which needs a min/max
    * pre-pass to frame its bins) cannot do. */
  // private[graft]: SketchStreaming re-exports this as the live quantile
  // sketch — ONE definition feeds q130, q131, the oracle SQL and the
  // stream, so the surfaces cannot drift
  private[graft] def ddSketch(src: org.apache.spark.sql.DataFrame,
                              groupCols: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame = {
    val binOf = when(col("value") <= 0, lit(QLowBin))
      .otherwise(floor(pround(log(col("value")), 6) / lit(QLogBinW)).cast("long"))
    src.withColumn("bin", binOf)
      .groupBy(groupCols :+ col("bin"): _*)
      .agg(count(lit(1)).as("cnt"), min("value").as("vmin"), max("value").as("vmax"))
  }

  /** q132's at-rest JSONL + CSV copies of `documents` — the §2.3 source
    * surface beyond parquet. Built once per (session, sf dir) through the
    * [[AtRestTables]] lifecycle (same registry as the q78 word buckets
    * and the q127 IVF index): the build writes the files and registers
    * metastore tables over them, probes read through Spark's real
    * JSON/CSV scan paths. Full text rides in JSONL (JSON escaping makes
    * embedded newlines/quotes round-trip-safe); the CSV side carries the
    * typed projection a warehouse export would. */
  private[queries] def fileSourceTables(spark: org.apache.spark.sql.SparkSession,
                               dir: String): (String, String) = {
    val names = AtRestTables.get(spark, s"srcfmt|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val docs = table(spark, dir, "documents")
      val jT = s"graft_docs_jsonl_$sfx"
      val cT = s"graft_docs_csv_$sfx"
      docs.select("doc_id", "text", "lang").write.mode("overwrite")
        .format("json").option("path", s"$base/jsonl").saveAsTable(jT)
      docs.select("doc_id", "source", "n_chars").write.mode("overwrite")
        .format("csv").option("header", "true")
        .option("path", s"$base/csv").saveAsTable(cT)
      Seq(jT, cT)
    }
    (names(0), names(1))
  }

  /** q143's at-rest ORC copy of `documents` — the columnar source surface
    * beyond parquet (ORC ships in Spark's default distribution; it is the
    * other at-rest format a 100 TB lake commonly holds). Full text + the
    * typed columns ride in one table; probes read through Spark's native
    * vectorized ORC scan. Same [[AtRestTables]] lifecycle as the q132
    * JSONL/CSV sources. */
  private[queries] def orcSourceTable(spark: org.apache.spark.sql.SparkSession,
                             dir: String): String =
    AtRestTables.get(spark, s"orcfmt|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val t = s"graft_docs_orc_$sfx"
      table(spark, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").format("orc")
        .option("path", s"$base/orc").saveAsTable(t)
      Seq(t)
    }.head

  /** q134 partition grain: one directory per epoch-DAY of event time —
    * ONE constant, embedded into the oracle SQL so the two surfaces
    * cannot drift. */
  private[graft] val DayUs = 86400000000L

  /** q136 resample grain: one hour in µs (embedded into the oracle SQL —
    * the ONE-place constant discipline). Same value as [[RangeTauUs]] but
    * a distinct semantic: τ is a join radius, this is a grid step. */
  private[graft] val HourUs = 3600000000L

  /** q181 resample grain: one 7-day week in µs (embedded into the oracle
    * SQL). Same value as [[AttribUs]] but a distinct semantic: that is a
    * lookback radius, this is a grid step. */
  private[graft] val WeekUs = 7L * 86400000000L

  /** q137 bucket fan-out for the at-rest fact tables. Both sides MUST
    * share it — equal bucket counts on the join key are what let the
    * sort-merge join consume the on-disk layout with zero Exchange. */
  private[graft] val FactBuckets = 8

  /** Exact scaled-integer partial sum — the storable half of
    * [[QueryBase.xsum]]: floor(v*10^6+0.5) summed as a LONG, so at-rest
    * partial aggregates merge by plain integer addition (order- and
    * sharding-independent) and scale back to xsum's exact result. */
  private def sint6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(floor(c * lit(1000000.0) + lit(0.5))).cast("long")

  /** Integer aggregate partials per (day, event_type) — the storable,
    * addition-mergeable unit of the q138 materialized aggregate. ONE
    * definition feeds the at-rest base build, the q138 delta, and the
    * streaming [[graft.streaming.MvMaintenance]] merge, so the three
    * surfaces cannot drift. */
  private[graft] def dayTypePartials(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.select(col("event_type"), col("value"), QueryBase.tsUs(df).as("ts_us"))
      .withColumn("day", expr(s"ts_us div $DayUs"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"), sint6(col("value")).as("s"))

  /** Merge partial tables by plain addition and scale back — the read
    * side of [[dayTypePartials]] (exactly q138's probe arithmetic). */
  private[graft] def mergePartials(parts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    parts.groupBy("day", "event_type")
      .agg(sum("n").as("n_events"), sum("s").as("s_merged"))
      .select(col("day").cast("long").as("day"), col("event_type"),
        col("n_events"),
        (col("s_merged").cast("double") / lit(1000000.0)).as("sum_value"))

  /** q134's at-rest DATE-PARTITIONED copy of `events` — the layout every
    * 100 TB event store uses (one directory per day; a time-range query
    * reads only the days it touches, the scan never opens the rest).
    * Built once per (session, sf dir) through [[AtRestTables]], same
    * registry as the q132 file sources / q78 word buckets / q127 IVF
    * index. The partition column is the integer epoch-day of
    * [[QueryBase.tsUs]], so the layout derives from the same µs rule as
    * every other time surface. */
  private[queries] def partitionedEventsTable(spark: org.apache.spark.sql.SparkSession,
                                     dir: String): (String, String) = {
    val names = AtRestTables.get(spark, s"evpart|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val raw = table(spark, dir, "events")
      val pT = s"graft_events_byday_$sfx"
      val dT = s"graft_day_dim_$sfx"
      raw.select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), QueryBase.tsUs(raw).as("ts_us"))
        .withColumn("day", expr(s"ts_us div $DayUs"))
        .write.mode("overwrite").partitionBy("day")
        .option("path", s"$base/evday").saveAsTable(pT)
      // the calendar dimension a warehouse keeps beside a partitioned
      // fact: one row per observed day, dow = day % 7 (epoch day 0 was a
      // Thursday; the label is a deterministic tag, not a locale claim).
      // Written as its own table so q135's join filter is genuinely a
      // RELATION-side predicate — the shape dynamic partition pruning
      // exists for.
      val rawDim = table(spark, dir, "events")
      rawDim.select(QueryBase.tsUs(rawDim).as("ts_us"))
        .select(expr(s"ts_us div $DayUs").as("day")).distinct()
        .withColumn("dow", expr("day % 7").cast("int"))
        .write.mode("overwrite").option("path", s"$base/daydim").saveAsTable(dT)
      Seq(pT, dT)
    }
    (names(0), names(1))
  }

  /** q137's at-rest BUCKETED fact tables: orders and lineitem each
    * hash-bucketed on the ORDER KEY into [[FactBuckets]] buckets (and
    * sorted within buckets). The fact-fact join every warehouse runs —
    * at 100 TB neither side broadcasts and an unbucketed join shuffles
    * BOTH full tables every query; bucketing pays that shuffle once at
    * write time, and every subsequent join on the key reads co-located
    * buckets with zero Exchange (AtRestMaintenanceSpec pins the plan).
    * Same [[AtRestTables]] lifecycle as the q78 word buckets / q127 IVF
    * index / q134 day partitions. */
  private def bucketedFactTables(spark: org.apache.spark.sql.SparkSession,
                                 dir: String): (String, String) = {
    val names = AtRestTables.get(spark, s"factbkt|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val oT = s"graft_orders_bkt_$sfx"
      val lT = s"graft_lineitem_bkt_$sfx"
      table(spark, dir, "orders").write.mode("overwrite")
        .bucketBy(FactBuckets, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/obkt").saveAsTable(oT)
      table(spark, dir, "lineitem").write.mode("overwrite")
        .bucketBy(FactBuckets, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/lbkt").saveAsTable(lT)
      Seq(oT, lT)
    }
    (names(0), names(1))
  }

  /** q138's at-rest MATERIALIZED AGGREGATE over the "already ingested"
    * 90% of events (event_id % 10 != 0): per (day, event_type) row count
    * + exact scaled-integer value sum ([[sint6]]). The stored partials
    * are integers, so the incremental-maintenance merge is plain
    * addition — no recompute of history when a delta batch lands. */
  private[queries] def aggBaseTable(spark: org.apache.spark.sql.SparkSession,
                           dir: String): String =
    AtRestTables.get(spark, s"aggmv|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val t = s"graft_events_aggmv_$sfx"
      dayTypePartials(table(spark, dir, "events")
          .where(col("event_id") % 10 =!= 0))
        .write.mode("overwrite").option("path", s"$base/aggmv").saveAsTable(t)
      Seq(t)
    }.head

  /** Latest row per (user_id, event_type) by (ts_us, event_id) — the
    * UPSERT unit of the q149 CDC state table. ONE definition feeds the
    * base state build, the delta batch, and the merge, so the three
    * surfaces cannot drift (the dayTypePartials discipline for
    * latest-value semantics instead of additive semantics). */
  private[graft] def latestPerKey(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val p = df.select(col("user_id"), col("event_type"), col("event_id"),
      col("value"), QueryBase.tsUs(df).as("ts_us"))
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(desc("ts_us"), desc("event_id"))
    p.withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
  }

  /** q149's at-rest UPSERT STATE table: the latest (value, ts) per
    * (user_id, event_type) over the "already ingested" 90% (the q138
    * split rule). Where q138's MV stores ADDITIVE partials, this stores
    * LATEST-VALUE state — the other CDC semantic (MERGE INTO ... WHEN
    * MATCHED THEN UPDATE), the shape every mutable-dimension table at
    * rest has. */
  private[queries] def upsertStateTable(spark: org.apache.spark.sql.SparkSession,
                               dir: String): String =
    AtRestTables.get(spark, s"upsert|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val t = s"graft_events_state_$sfx"
      latestPerKey(table(spark, dir, "events")
          .where(col("event_id") % 10 =!= 0))
        .write.mode("overwrite").option("path", s"$base/state").saveAsTable(t)
      Seq(t)
    }.head

  /** q150 layout fan-out: the Z-ORDERED events copy is written as
    * [[ZFiles]] z-range files. Each dimension is rank-normalized to
    * [[ZNormBits]] bits before interleaving — unequal bit widths would
    * let the wider dimension dominate the curve's high bits and collapse
    * the layout back to 1-D clustering (user_id spans 11 bits at sf0.1,
    * the day span 5). */
  private[graft] val ZFiles = 16
  private[graft] val ZNormBits = 8

  /** q150's at-rest Z-ORDER-CLUSTERED copy of `events` + its 2-D min/max
    * manifest — the multi-column generalization of q141's 1-D range
    * clustering (the Delta OPTIMIZE ZORDER mechanism rebuilt from public
    * Spark): rows sort by the Morton interleave of (user_id, day) ranks,
    * so every file covers a RECTANGLE of the (user, time) plane and a
    * 2-D box predicate skips files on EITHER dimension — a 1-D layout
    * can only skip on its clustering key. The manifest keeps per-file
    * min/max of BOTH columns, derived from the written bytes (the q141
    * discipline). The z value exists only at write time (pure integer
    * bit-shifts, codegen'd); probes never compute it — they consult the
    * manifest boxes. */
  private[queries] def zorderedEventsTables(spark: org.apache.spark.sql.SparkSession,
                                   dir: String): (String, String) = {
    val names = AtRestTables.get(spark, s"zorder|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val zT = s"graft_events_zorder_$sfx"
      val mT = s"graft_events_zman_$sfx"
      buildZorderLayout(spark, table(spark, dir, "events"),
        s"$base/zdata", zT, s"$base/zman", mT)
      Seq(zT, mT)
    }
    (names(0), names(1))
  }

  /** The z-order clustering write, shared by the q150 at-rest build and
    * the q315 recluster-on-purge remediation (the remediated copy must
    * keep the ORIGINAL layout, bounds re-derived from what it holds). */
  private def buildZorderLayout(spark: org.apache.spark.sql.SparkSession,
                                raw: org.apache.spark.sql.DataFrame,
                                dataPath: String, zT: String,
                                manPath: String, mT: String): Unit = {
    val ev = raw.select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), QueryBase.tsUs(raw).as("ts_us"))
      .withColumn("day", expr(s"ts_us div $DayUs"))
    // domain bounds for rank normalization: one bounded driver-side
    // aggregate (the q141/q128 literal idiom — 4 longs, never data)
    val b = ev.agg(min("user_id"), max("user_id"), min("day"), max("day"))
      .collect()(0)
    val zdata =
      if (b.isNullAt(0)) ev.select("event_id", "user_id", "event_type", "value", "day")
      else {
        val (u0, u1, d0, d1) =
          (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
        val scale = 1L << ZNormBits
        val zbits = (0 until ZNormBits).map(i =>
          s"(((zu >> $i) & 1) << ${2 * i}) | (((zd >> $i) & 1) << ${2 * i + 1})")
          .mkString(" | ")
        ev.withColumn("zu",
            expr(s"((user_id - ${u0}L) * ${scale}L) div ${u1 - u0 + 1}L"))
          .withColumn("zd",
            expr(s"((day - ${d0}L) * ${scale}L) div ${d1 - d0 + 1}L"))
          .withColumn("z", expr(zbits))
          .repartitionByRange(ZFiles, col("z"))
          .sortWithinPartitions("z")
          .select("event_id", "user_id", "event_type", "value", "day")
      }
    zdata.write.mode("overwrite").option("path", dataPath).saveAsTable(zT)
    spark.read.parquet(dataPath)
      .select(input_file_name().as("file"), col("user_id"), col("day"))
      .groupBy("file")
      .agg(min("user_id").as("min_uid"), max("user_id").as("max_uid"),
        min("day").as("min_day"), max("day").as("max_day"),
        count(lit(1)).as("n_rows"))
      .write.mode("overwrite").option("path", manPath).saveAsTable(mT)
  }

  /** q153's correlated query text — ONE definition parameterized only by
    * the table name, so the Spark side and the DuckDB oracle run the
    * IDENTICAL statement (the strongest possible parity: same SQL, two
    * engines). Stays in the ANSI∩(Spark∩DuckDB) subset: floor/sum/count,
    * no dialect functions. */
  private def correlatedAboveAvgSql(tbl: String): String = {
    // string-cast literals: Spark parses a bare 10000.0 as DECIMAL,
    // DuckDB as DOUBLE — the CAST form is DOUBLE on both
    val p = "CAST('10000.0' AS DOUBLE)"
    val h = "CAST('0.5' AS DOUBLE)"
    s"""SELECT o_custkey,
       |       CAST(count(*) AS BIGINT) AS n_above,
       |       sum(floor(o_totalprice * $p + $h)) / $p AS sum_above
       |FROM $tbl o
       |WHERE o_totalprice > (
       |  SELECT (sum(floor(o2.o_totalprice * $p + $h)) / $p) / count(*)
       |  FROM $tbl o2 WHERE o2.o_custkey = o.o_custkey)
       |GROUP BY o_custkey""".stripMargin
  }

  /** q154's SNAPSHOT VERSIONS of the q138-shaped aggregate: v1 = integer
    * partials over the ingested 90%; v2 = v1 sum-merged with the delta,
    * written COPY-ON-WRITE as a separate table (v1's files are never
    * touched). Two immutable versions of one logical table — the
    * Iceberg/Delta time-travel mechanism in its minimal at-rest form:
    * readers pick a version; writers only ever add new ones. The v2
    * build reads v1's TABLE plus the delta rows, never raw history (the
    * q138 O(delta) discipline applied at write time). */
  private[queries] def mvSnapshotTables(spark: org.apache.spark.sql.SparkSession,
                               dir: String): (String, String) = {
    val names = AtRestTables.get(spark, s"mvsnap|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val v1T = s"graft_aggmv_v1_$sfx"
      val v2T = s"graft_aggmv_v2_$sfx"
      dayTypePartials(table(spark, dir, "events")
          .where(col("event_id") % 10 =!= 0))
        .write.mode("overwrite").option("path", s"$base/v1").saveAsTable(v1T)
      val delta = dayTypePartials(table(spark, dir, "events")
        .where(col("event_id") % 10 === 0))
      spark.table(v1T).unionByName(delta)
        .groupBy("day", "event_type")
        .agg(sum("n").as("n"), sum("s").as("s"))
        .write.mode("overwrite").option("path", s"$base/v2").saveAsTable(v2T)
      Seq(v1T, v2T)
    }
    (names(0), names(1))
  }

  /** q155's two-GENERATION at-rest layout: gen1 files carry the original
    * 3-column schema, gen2 files the WIDENED schema (+event_type) — the
    * shape every long-lived dataset reaches (columns get added; history
    * is never rewritten). The split is event_id parity, replayed by the
    * oracle. */
  private[queries] def schemaEvoTables(spark: org.apache.spark.sql.SparkSession,
                              dir: String): (String, String) = {
    val names = AtRestTables.get(spark, s"schevo|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val g1T = s"graft_evo_g1_$sfx"
      val g2T = s"graft_evo_g2_$sfx"
      val ev = table(spark, dir, "events")
      ev.where(col("event_id") % 2 === 0)
        .select("event_id", "user_id", "value")
        .write.mode("overwrite").option("path", s"$base/evo1").saveAsTable(g1T)
      ev.where(col("event_id") % 2 =!= 0)
        .select("event_id", "user_id", "value", "event_type")
        .write.mode("overwrite").option("path", s"$base/evo2").saveAsTable(g2T)
      Seq(g1T, g2T)
    }
    (names(0), names(1))
  }

  /** q164 debounce radius (µs) — ONE place, embedded into the oracle
    * SQL. 10 minutes: wide enough that real suppressions happen at
    * every test SF. */
  private[graft] val DebounceUs = 600000000L

  /** q172 attribution lookback (µs) — ONE place, embedded into the
    * oracle SQL. 7 days: long enough that most purchases attribute, short
    * enough that some genuinely do not (both branches exercised). */
  private[graft] val AttribUs = 604800000000L

  /** q161/q162 purge rule — ONE place, embedded into the oracle SQL:
    * delete the flagged users' (user_id % PurgeUserMod == PurgeUserRes)
    * events from the first [[PurgeDays]] observed days (the
    * "right-to-be-forgotten applied to aged data" shape). */
  private[graft] val PurgeUserMod = 50L
  private[graft] val PurgeUserRes = 7L
  private[graft] val PurgeDays = 10L

  /** The flagged-row predicate, shared by the CoW rewrite, the deletion
    * vector build, and (inverted) the oracle. */
  private def purgeFlag(cutoff: Long): org.apache.spark.sql.Column =
    (pmod(col("user_id"), lit(PurgeUserMod)) === PurgeUserRes) &&
      col("day") < cutoff

  /** q161's PURGED LAYOUT: the copy-on-write delete over the q134
    * day-partitioned events store. Only the day partitions inside the
    * purge window are rewritten (minus the flagged rows, into a new
    * generation directory); every other partition's ORIGINAL FILES are
    * referenced untouched by the new manifest — at 100 TB a purge
    * rewrites the few affected partitions, never the table (DeleteSpec
    * pins exactly that: kept manifest entries ARE the v1 paths).
    * Alongside it the DELETION-VECTOR table for q162's merge-on-read
    * variant: the same logical delete stored as keys, applied at read
    * time by an anti join with zero rewrite — the CoW/MoR pair every
    * table format offers, proven equal here. */
  private[queries] def purgedLayoutTables(spark: org.apache.spark.sql.SparkSession,
                                 dir: String): (String, String) = {
    val names = AtRestTables.get(spark, s"gdpr|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val mT = s"graft_purge_man_$sfx"
      val dvT = s"graft_purge_dv_$sfx"
      val (pT, _) = partitionedEventsTable(spark, dir)
      val dayOf = (f: String) =>
        "day=(-?\\d+)".r.findFirstMatchIn(f).map(_.group(1).toLong)
      val files = spark.table(pT).inputFiles.toIndexedSeq
      val days = files.flatMap(dayOf)
      val cutoff = if (days.isEmpty) 0L else days.min + PurgeDays
      val keepRows = files.filter(f => dayOf(f).exists(_ >= cutoff))
        .map(f => (f, "keep"))
      val rwRows =
        if (days.isEmpty) IndexedSeq.empty[(String, String)]
        else {
          spark.table(pT).where(col("day") < cutoff)
            .where(!purgeFlag(cutoff))
            .write.partitionBy("day").mode("overwrite").parquet(s"$base/rw")
          spark.read.parquet(s"$base/rw").inputFiles.toIndexedSeq
            .map(f => (f, "rw"))
        }
      import spark.implicits._
      (keepRows ++ rwRows).toDF("file", "gen")
        .write.mode("overwrite").option("path", s"$base/man").saveAsTable(mT)
      val dv = spark.table(pT).where(purgeFlag(cutoff))
        .select(col("event_id"), col("day").cast("long").as("day"))
      dv.write.mode("overwrite").option("path", s"$base/dv").saveAsTable(dvT)
      Seq(mT, dvT)
    }
    (names(0), names(1))
  }

  /** The q161/q162 oracle — the logical delete over raw events, shared
    * verbatim by both delete styles. */
  private def purgeOracleSql: String =
    s"""WITH e AS (SELECT event_type, user_id, value,
       |                  epoch_us(ts) // $DayUs AS day FROM events),
       |c AS (SELECT min(day) + $PurgeDays AS cutoff FROM e)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       |       CAST(count(DISTINCT day) AS BIGINT) AS n_days,
       |       ${xsumSql("value", 6)} AS sum_value
       |FROM e, c
       |WHERE NOT (user_id % $PurgeUserMod = $PurgeUserRes AND day < cutoff)
       |GROUP BY event_type""".stripMargin

  /** The q161/q162 post-delete report — ONE aggregation both delete
    * styles (and the oracle) produce, so CoW == MoR is checkable. */
  private def purgeReport(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("day")).as("n_days"),
        xsum(col("value"), 6).as("sum_value"))

  /** q142 dim attribute modulus — ONE place, embedded into the oracle SQL
    * (both engines' % truncates toward zero, so k = -1 maps to -1 in
    * both). */
  private[graft] val SkewW = 97

  /** q139/q159's child-session confs: runtime bloom filters at any
    * application-side size, broadcast off. One set, so both queries
    * share one [[QueryBase.childSession]]. */
  private val RuntimeBloomConfs = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** q141 layout fan-out: the range-clustered events copy is written as
    * [[SkipFiles]] disjoint user_id ranges (one file each). At 100 TB the
    * analogue is thousands of files; the manifest stays proportional to
    * the FILE count, never the row count. */
  private[graft] val SkipFiles = 16

  /** q141's at-rest RANGE-CLUSTERED events copy + its min/max MANIFEST —
    * zone-map / data-skipping the way Iceberg & Delta do it, built from
    * public Spark only: the data table is `repartitionByRange` on
    * user_id (each output file covers a disjoint key range), and the
    * manifest is derived by reading the WRITTEN FILES back
    * (input_file_name + min/max/count per file — stats from the bytes at
    * rest, never trusted from the writer's memory). Probes consult the
    * manifest first and open only the files whose [min,max] intersects
    * the predicate. Same [[AtRestTables]] lifecycle as the q134 day
    * partitions / q137 buckets. */
  private[queries] def rangedEventsTables(spark: org.apache.spark.sql.SparkSession,
                                 dir: String): (String, String) = {
    val names = AtRestTables.get(spark, s"evrange|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val rT = s"graft_events_ranged_$sfx"
      val mT = s"graft_events_skipman_$sfx"
      buildRangedLayout(spark, table(spark, dir, "events"),
        s"$base/ranged", rT, s"$base/skipman", mT)
      Seq(rT, mT)
    }
    (names(0), names(1))
  }

  /** The range-clustering write, shared by the q141 at-rest build and the
    * q315 recluster-on-purge remediation (original layout preserved:
    * same range fan-out, manifest re-derived from the written bytes). */
  private def buildRangedLayout(spark: org.apache.spark.sql.SparkSession,
                                raw: org.apache.spark.sql.DataFrame,
                                dataPath: String, rT: String,
                                manPath: String, mT: String): Unit = {
    raw.select("event_id", "user_id", "event_type", "value")
      .repartitionByRange(SkipFiles, col("user_id"))
      .sortWithinPartitions("user_id")
      .write.mode("overwrite").option("path", dataPath).saveAsTable(rT)
    spark.read.parquet(dataPath)
      .select(input_file_name().as("file"), col("user_id"))
      .groupBy("file")
      .agg(min("user_id").as("min_uid"), max("user_id").as("max_uid"),
        count(lit(1)).as("n_rows"))
      .write.mode("overwrite").option("path", manPath).saveAsTable(mT)
  }

  val defs: Map[String, QFn] = Map(
    // PARTITION-PRUNED time-range scan over the date-partitioned at-rest
    // events copy — the core 100 TB scan pattern (beside q78/q128's
    // BUCKET pruning this completes the source-pruning story: partition
    // pruning by time, bucket pruning by key). The 7-day window is
    // derived from the catalog's partition LISTING (SHOW PARTITIONS reads
    // metastore metadata, no data scan) and applied as a LITERAL range,
    // so Catalyst prunes at planning time: the FileScan's
    // PartitionFilters carry the bounds and only the touched day
    // directories are opened (PartitionPruneSpec pins it). The oracle
    // replays the same window over the raw parquet — equal results prove
    // the partitioned layout lossless AND the pruning semantics exact.
    "q134_partition_pruned_scan" -> ((spark, dir) => {
      val (pT, _) = partitionedEventsTable(spark, dir)
      val days = spark.sql(s"SHOW PARTITIONS $pT").collect()
        .map(_.getString(0).split("=")(1).toLong)
      // empty source -> degenerate range -> empty result, matching the
      // oracle's NULL min(day) bounds (EmptyInputSpec runs this path)
      val (lo, hi) =
        if (days.isEmpty) (0L, -1L) else (days.min + 7L, days.min + 13L)
      spark.table(pT)
        .where(col("day") >= lo && col("day") <= hi)
        .groupBy("day", "event_type")
        .agg(count(lit(1)).as("n_events"), xsum(col("value"), 6).as("sum_value"))
        .select(col("day").cast("long").as("day"), col("event_type"),
          col("n_events"), col("sum_value"))
    }),

    // DYNAMIC partition pruning — the RUNTIME half of the partition story
    // (q134 pins the static-literal half): the fact side is the
    // day-partitioned events table, the filter lives on the day-DIMENSION
    // relation (dow = 0, a predicate Catalyst cannot fold into a literal
    // day list at plan time), and Spark's DPP turns the dim's broadcast
    // build into a runtime partition filter on the fact scan — only the
    // qualifying day directories are opened, without the query author
    // ever enumerating them. THE mechanism a 100 TB star-schema scan
    // lives on (fact pruned through the dim filter, never fully read).
    // PartitionPruneSpec pins dynamicpruning in the fact scan's
    // PartitionFilters; the oracle replays the join over raw parquet.
    "q135_dynamic_partition_prune" -> ((spark, dir) => {
      val (pT, dT) = partitionedEventsTable(spark, dir)
      val dim = spark.table(dT).where(col("dow") === 0).select("day")
      spark.table(pT).join(dim, "day")
        .groupBy("day", "event_type")
        .agg(count(lit(1)).as("n_events"), xsum(col("value"), 6).as("sum_value"))
        .select(col("day").cast("long").as("day"), col("event_type"),
          col("n_events"), col("sum_value"))
    }),

    // GAP-FILL + LINEAR INTERPOLATION — the time-series regularization
    // operator (resample to an hourly grid, fill missing buckets by
    // interpolating between the nearest observed neighbors). q71 resamples
    // what EXISTS; this materializes what doesn't: per user, the grid
    // spans [first, last] observed hour (sequence + explode — grid size
    // is bounded by the resample window, which a 100 TB deployment bounds
    // explicitly), missing hours take
    //   prev + (next − prev) · (h − h_prev)/(h_next − h_prev)
    // from two IGNORE-NULLS window passes over the per-user partition —
    // the natural parallelism unit, no global sort, no self-join. Output
    // is the per-user series summary (count / filled count / xsum of the
    // full and interpolated-only series), so the oracle proves every
    // interpolated value bit-exactly through the scaled-integer sums.
    "q136_gapfill_interpolate" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val obs = raw
        .select(col("user_id"), QueryBase.tsUs(raw).as("ts_us"), col("value"))
        .withColumn("h", expr(s"ts_us div ${HourUs}L"))
        .groupBy("user_id", "h")
        .agg(pround(xsum(col("value"), 6) / count(lit(1)), 6).as("v"))
      val grid = obs.groupBy("user_id")
        .agg(min("h").as("mn"), max("h").as("mx"))
        .select(col("user_id"), explode(sequence(col("mn"), col("mx"))).as("h"))
      // BOTH lookups run as RUNNING frames (unbounded-preceding → current
      // row): the "next observation" comes from the h-DESCENDING running
      // frame, which is the same value as first-non-null over
      // current-row → unbounded-following but O(n) per partition —
      // Spark's UnboundedFollowingWindowFunctionFrame re-aggregates the
      // tail for EVERY row (O(n²) per partition; measured 18s → ~2s at
      // sf0.1 on this query). Two linear passes (one asc sort, one desc)
      // beat one quadratic frame at any scale.
      val wp = Window.partitionBy("user_id").orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy("user_id").orderBy(col("h").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val filled = grid.join(obs, Seq("user_id", "h"), "left")
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(wp))
        .withColumn("ph", last(when(col("v").isNotNull, col("h")), ignoreNulls = true).over(wp))
        .withColumn("nv", last(col("v"), ignoreNulls = true).over(wn))
        .withColumn("nh", last(when(col("v").isNotNull, col("h")), ignoreNulls = true).over(wn))
        .withColumn("fv", when(col("v").isNotNull, col("v")).otherwise(
          pround(col("pv") + (col("nv") - col("pv")) *
            ((col("h") - col("ph")).cast("double") /
              (col("nh") - col("ph")).cast("double")), 6)))
      filled.groupBy("user_id")
        .agg(count(lit(1)).as("n_hours"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_filled"),
          xsum(col("fv"), 6).as("sum_series"),
          coalesce(xsum(when(col("v").isNull, col("fv")), 6), lit(0.0)).as("sum_interp"))
    }),

    // CO-LOCATED FACT-FACT JOIN over the at-rest bucketed layout — the
    // join shape a 100 TB warehouse lives on: orders ⋈ lineitem on the
    // order key where NEITHER side is broadcast-size. Unbucketed, every
    // run of this join shuffles both full tables; with both sides
    // bucketed on the key (q137's at-rest tables) the scans themselves
    // satisfy the join's distribution and the SortMergeJoin runs with
    // ZERO Exchange below it (AtRestMaintenanceSpec pins the plan — the
    // only shuffle left is the small post-join reaggregation). The merge
    // hint forces the SMJ so the co-location is actually exercised (the
    // sf-scale orders side would otherwise broadcast — at real scale it
    // cannot). The oracle replays the join over raw parquet: equality
    // proves the bucketed layout lossless.
    "q137_bucketed_colocated_join" -> ((spark, dir) => {
      val (oT, lT) = bucketedFactTables(spark, dir)
      spark.table(oT).hint("merge")
        .join(spark.table(lT), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority", "l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          xsum(col("l_quantity"), 6).as("sum_qty"),
          xsum(col("l_extendedprice"), 6).as("sum_price"))
    }),

    // INCREMENTAL MATERIALIZED-AGGREGATE MAINTENANCE — the upsert/ETL
    // merge shape: an at-rest aggregate table holds integer PARTIALS
    // (count + scaled-integer sum) over the already-ingested 90% of
    // events; a new delta batch (event_id % 10 == 0 — keys OVERLAP the
    // base's, this is a real merge, not a disjoint union) aggregates
    // alone and merges by plain addition. History is never recomputed:
    // the probe reads the small base table + only the delta rows. At
    // 100 TB this is the difference between an O(delta) nightly load and
    // an O(corpus) one. The oracle recomputes the aggregate from ALL raw
    // events — equality proves merged-partials == full recompute exactly
    // (integer partials make the merge associative and bit-stable; the
    // scale-back division happens once, after the merge).
    "q138_incremental_mv_merge" -> ((spark, dir) => {
      val bT = aggBaseTable(spark, dir)
      val delta = dayTypePartials(table(spark, dir, "events")
        .where(col("event_id") % 10 === 0))
      mergePartials(spark.table(bT).unionByName(delta))
    }),

    // RUNTIME BLOOM-FILTER JOIN (semi-join reduction) — the OTHER way a
    // selective dim filter reaches a fact scan (q135's DPP prunes whole
    // partitions; this prunes ROWS of partitions that survive): Spark
    // builds a bloom filter over the filtered orders side's join keys at
    // runtime and pushes might_contain(xxhash64(l_orderkey)) into the
    // lineitem side BEFORE its shuffle — at 100 TB the probe-side shuffle
    // is the dominant cost, and the bloom cuts it to roughly the join's
    // true selectivity. Conf isolation via a child session: the
    // application-side threshold defaults to 10 GB (below that a bloom
    // isn't worth its overhead — at real scale the defaults fire on
    // their own; zeroing it exercises the mechanism at test scale), and
    // broadcast is disabled because sf-scale orders would broadcast where
    // the 100 TB table cannot (the q137 merge-hint reasoning). The bloom
    // is conservative (false positives only, the exact join predicate
    // still applies), so results are IDENTICAL to the plain join — which
    // is exactly what the oracle replays. RuntimeFilterSpec pins the
    // bloom_filter_agg + might_contain plan shape.
    "q139_runtime_bloom_join" -> ((spark0, dir) => {
      val spark = childSession(spark0, RuntimeBloomConfs: _*)
      val o = table(spark, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
      table(spark, dir, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_items"),
          xsum(col("l_extendedprice"), 6).as("sum_price"))
    }),

    // FILE-FORMAT SOURCES (§2.3 scans beyond parquet): documents written
    // to JSONL + CSV at rest, read back through Spark's JSON/CSV readers,
    // and PROVEN byte-identical to the parquet origin — the md5-derived
    // 60-bit fingerprint of every text survives the JSONL round trip (any
    // single corrupted char flips the per-lang sum), and the CSV side's
    // types/values survive via the join + numeric aggregates. The oracle
    // reads the parquet origin directly: equal results = lossless source.
    "q132_file_source_roundtrip" -> ((spark, dir) => {
      val (jT, cT) = fileSourceTables(spark, dir)
      val j = spark.table(jT)
        .withColumn("h",
          conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long") % 1000003L)
      j.join(spark.table(cT), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          sum("h").as("text_fp"),
          countDistinct("source").as("n_sources"))
    }),

    // RANGE JOIN, the scale-correct way: |Δts| ≤ τ pairs found by an
    // EQUI-join on (user_id, time-bucket) with bucket width exactly τ —
    // the probe side fans each event to its own and both adjacent
    // buckets (3 rows, broadcast-free map-side fan-out), so every
    // qualifying pair lands in exactly one (probe-bucket = neighbor-
    // bucket) match and the exact |Δ| ≤ τ predicate then filters
    // in-place. A naive theta join is O(n²) per user and unplannable as
    // anything but BroadcastNestedLoop at scale; this is one uniform
    // shuffle per side on (user_id, bucket) and work linear in true
    // temporal density — the interval-join plan every event-correlation
    // pipeline needs (the oracle IS the naive theta join, proving the
    // rewrite exact). Emits per-event neighbor counts (events with ≥ 1
    // neighbor; zero-neighbor events have no pair row by construction).
    "q119_range_join" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val ev = raw
        .select(col("event_id"), col("user_id"), QueryBase.tsUs(raw).as("ts_us"))
        .withColumn("b", expr(s"(ts_us div ${RangeTauUs}L)"))
      val probe = ev.select(col("event_id").as("p_eid"), col("user_id"), col("ts_us").as("p_us"),
        explode(array(col("b") - 1, col("b"), col("b") + 1)).as("b"))
      probe.join(ev.select(col("user_id"), col("b"),
          col("event_id").as("n_eid"), col("ts_us").as("n_us")),
          Seq("user_id", "b"))
        .where(col("n_eid") =!= col("p_eid") &&
          abs(col("n_us") - col("p_us")) <= RangeTauUs)
        .groupBy(col("p_eid"))
        .agg(count(lit(1)).as("n_neighbors"))
        .select(col("p_eid").as("event_id"), col("n_neighbors"))
    }),

    // HISTOGRAM MERGE — the q120/q121/q122 discipline applied to q118's
    // quantile sketch: shards (event_type partitions here) build bin
    // counts against the SHARED global [lo, hi] frame (min/max are
    // themselves mergeable — the cheap first pass a distributed build
    // runs), and the per-shard histograms sum-merge bin-identically to
    // the direct global build. Position-weighted checksums verify every
    // bin. With this row the engine's four sketch types (HLL, CMS, KMV,
    // histogram) all carry oracle-proven merge operators.
    "q123_hist_merge" -> ((spark, dir) => {
      val nb = QSketchBins
      val ev = table(spark, dir, "events").select(col("event_type"), col("value"))
      val stats = ev.agg(min("value").as("lo"), max("value").as("hi"))
      val width = (col("hi") - col("lo")) / nb
      val binned = ev.crossJoin(broadcast(stats))
        .select(col("event_type"),
          least(floor((col("value") - col("lo")) / width), lit(nb - 1).cast("long")).as("bin"))
      val perType = binned.groupBy("event_type", "bin").agg(count(lit(1)).as("cnt"))
      val typeParts = perType
        .select(concat(lit("type:"), col("event_type")).as("part"), col("bin"), col("cnt"))
      val merged = perType.groupBy("bin").agg(sum("cnt").as("cnt"))
        .select(lit("merged").as("part"), col("bin"), col("cnt"))
      val global = binned.groupBy("bin").agg(count(lit(1)).as("cnt"))
        .select(lit("global").as("part"), col("bin"), col("cnt"))
      typeParts.unionByName(merged).unionByName(global)
        .groupBy("part")
        .agg(count(lit(1)).as("n_bins"),
          sum("cnt").as("total"),
          sum(col("cnt") * (col("bin") + 1)).as("checksum"))
    }),

    // mergeable quantile sketch + measured error — the family member the
    // KMV/HLL/CMS trio was missing (distinct, distinct, frequency —
    // now quantiles). The sketch is a QSketchBins equal-width histogram:
    // ONE combinable groupBy over bin ids (map-side partial counts, a
    // 64-row result mergeable across any partitioning — the 100 TB
    // path), then linear interpolation inside the bin holding each
    // target rank. The EXACT rank quantile (q72's floor(q·(n−1))+1
    // definition, one global sort — the thing you run a sketch to
    // avoid; here it is the harness, like q40 under the recall queries)
    // sits beside it, and bound_ok oracle-checks the sketch theorem:
    // the rank-t value lives in the same bin the estimate interpolates,
    // so |est − exact| ≤ bin width. All arithmetic is exact IEEE on
    // both engines (min/max/counts, one division chain, quantized at
    // the end).
    //
    // The exact arm does NOT globally sort: bin id is monotone in value,
    // so the row with global rank t (by value, event_id) is provably the
    // row with LOCAL rank t − cum_prev inside the bin the cumulative
    // histogram locates. Rows are filtered to target bins first (≤ bin
    // population per target, ~n/64) and ranked per-target — the
    // single-partition WindowExec over all of events this replaces was
    // the inventory's one rows-scale unpartitioned sort.
    "q118_quantile_sketch" -> ((spark, dir) => {
      val nb = QSketchBins
      val ev = table(spark, dir, "events").select(col("value"), col("event_id"))
      val stats = ev.agg(min("value").as("lo"), max("value").as("hi"), count(lit(1)).as("n"))
      val width = (col("hi") - col("lo")) / nb
      val binOf = least(floor((col("value") - col("lo")) / width), lit(nb - 1).cast("long"))
      val binned = ev.crossJoin(broadcast(stats))
        .select(binOf.as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("cnt"))
      val cum = binned
        .withColumn("cum", sum("cnt").over(
          Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("cum_prev", col("cum") - col("cnt"))
      val tq = stats.select(explode(array(QSketchQs.map(lit): _*)).as("q"),
          col("lo"), col("hi"), col("n"))
        .withColumn("t", floor(col("q") * (col("n") - 1)) + 1)
      // per target: its rank t, the bin holding it, and that bin's stats
      val targets = cum.join(broadcast(tq),
        col("cum_prev") < col("t") && col("t") <= col("cum"))
      val est = targets
        .select(col("q"),
          (col("lo") + width * (col("bin").cast("double") +
            (col("t") - col("cum_prev")).cast("double") / col("cnt").cast("double"))).as("est_raw"),
          width.as("w"))
      val exact = ev.crossJoin(broadcast(stats))
        .select(col("value"), col("event_id"), binOf.as("bin"))
        .join(broadcast(targets.select(col("q").as("q2"), col("t"),
            col("bin").as("tbin"), col("cum_prev").as("cp"))),
          col("bin") === col("tbin"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("q2").orderBy(col("value"), col("event_id"))))
        .where(col("rn") === col("t") - col("cp"))
        .select(col("q2").as("q"), col("value").as("exact_raw"))
      est.join(exact, "q")
        .select(pround(col("q"), 6).as("q"),
          pround(col("est_raw"), 6).as("est_v"),
          pround(col("exact_raw"), 6).as("exact_v"),
          pround(abs(col("est_raw") - col("exact_raw")), 6).as("abs_err"),
          pround(col("w"), 6).as("bin_width"),
          (pround(abs(col("est_raw") - col("exact_raw")), 6) <= pround(col("w"), 6))
            .cast("int").as("bound_ok"))
    }),

    // ONE-PASS mergeable quantile sketch — the family member q118 leaves
    // open: q118's equal-width bins need a min/max PRE-pass to frame the
    // domain (two scans; impossible over an unbounded stream), while this
    // sketch bins on a FIXED log-domain grid ([[QLogBinW]]) so the build
    // is ONE combinable groupBy — no prior pass, no data-dependent frame,
    // shard-mergeable by (+, min, max) (q131 proves it). Each bin keeps
    // (cnt, vmin, vmax); the rank-t estimate is the midpoint of ITS bin's
    // observed extremes — exp-free (no γ^bin reconstruction, whose pow/exp
    // is not cross-engine exact), and carrying the unconditional theorem
    // the oracle checks per row: the exact rank-t value lies in the target
    // bin (bin id is monotone in value), est is the midpoint of that bin's
    // [vmin, vmax], so |est − exact| ≤ (vmax − vmin)/2 — with vmax/vmin <
    // e^w on log bins, a ≈1% relative-error guarantee. The exact arm
    // reuses q118's bin-filtered rank (rows filtered to target bins before
    // any window — no rows-scale unpartitioned sort).
    "q130_ddsketch_quantile" -> ((spark, dir) => {
      val ev = table(spark, dir, "events").select(col("value"), col("event_id"))
      val sk = ddSketch(ev)
      // everything below reads the BOUNDED sketch (≲ 600 rows at any
      // corpus size), not the data: n from the sketch itself (one-pass —
      // no count pre-scan), cumulative ranks over the tiny dictionary
      val n = sk.agg(sum("cnt").as("n"))
      val cum = sk
        .withColumn("cum", sum("cnt").over(
          Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("cum_prev", col("cum") - col("cnt"))
      val tq = n.select(explode(array(QSketchQs.map(lit): _*)).as("q"), col("n"))
        .withColumn("t", floor(col("q") * (col("n") - 1)) + 1)
      val targets = cum.join(broadcast(tq),
        col("cum_prev") < col("t") && col("t") <= col("cum"))
      val est = targets.select(col("q"), col("t"), col("bin"), col("cum_prev"),
        ((col("vmin") + col("vmax")) / 2).as("est_raw"),
        col("vmin"), col("vmax"))
      val binOf = when(col("value") <= 0, lit(QLowBin))
        .otherwise(floor(pround(log(col("value")), 6) / lit(QLogBinW)).cast("long"))
      val exact = ev.select(col("value"), col("event_id"), binOf.as("bin"))
        .join(broadcast(est.select(col("q").as("q2"), col("t"),
            col("bin").as("tbin"), col("cum_prev").as("cp"))),
          col("bin") === col("tbin"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("q2").orderBy(col("value"), col("event_id"))))
        .where(col("rn") === col("t") - col("cp"))
        .select(col("q2").as("q"), col("value").as("exact_raw"))
      est.join(exact, "q")
        .select(pround(col("q"), 6).as("q"),
          pround(col("est_raw"), 6).as("est_v"),
          pround(col("exact_raw"), 6).as("exact_v"),
          pround(abs(col("est_raw") - col("exact_raw")), 6).as("abs_err"),
          pround((col("vmax") - col("vmin")) / 2, 6).as("half_spread"),
          (pround(abs(col("est_raw") - col("exact_raw")), 6) <=
            pround((col("vmax") - col("vmin")) / 2, 6)).cast("int").as("bound_ok"))
    }),

    // merge proof for q130's sketch — the q120/q121/q122/q123 discipline:
    // per-shard (event_type) sketches merged by (sum cnt, min vmin,
    // max vmax) must equal the direct global build BIT-IDENTICALLY.
    // Position-weighted count checksums plus an order-independent xsum
    // over the bin extremes verify every cell of every bin; with this row
    // all five sketch types (HLL, CMS, KMV, histogram, log-quantile)
    // carry oracle-proven merge operators.
    "q131_ddsketch_merge" -> ((spark, dir) => {
      val ev = table(spark, dir, "events")
        .select(col("event_type"), col("value"))
      val perType = ddSketch(ev, col("event_type"))
      val typeParts = perType
        .select(concat(lit("type:"), col("event_type")).as("part"),
          col("bin"), col("cnt"), col("vmin"), col("vmax"))
      val merged = perType.groupBy("bin")
        .agg(sum("cnt").as("cnt"), min("vmin").as("vmin"), max("vmax").as("vmax"))
        .select(lit("merged").as("part"), col("bin"), col("cnt"), col("vmin"), col("vmax"))
      val global = ddSketch(ev.select(col("value")))
        .select(lit("global").as("part"), col("bin"), col("cnt"), col("vmin"), col("vmax"))
      typeParts.unionByName(merged).unionByName(global)
        .groupBy("part")
        .agg(count(lit(1)).as("n_bins"),
          sum("cnt").as("total"),
          sum(col("cnt") * (col("bin") - QLowBin + 1)).as("checksum"),
          xsum(col("vmin") + col("vmax"), 6).as("vchk"))
    }),

    // sessionization: split each user's event stream on inactivity gaps
    // via lag + running sum of session starts, then per-session stats —
    // the classic stream-analytics composition of window functions
    "q27_sessionize" -> ((spark, dir) => {
      val byU = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val raw = table(spark, dir, "events")
      raw
        .select(col("user_id"), QueryBase.tsUs(raw).as("ts_us"),
          col("event_id"), col("value"))
        .withColumn("prev_us", lag("ts_us", 1).over(byU))
        .withColumn("is_new",
          when(col("prev_us").isNull || col("ts_us") - col("prev_us") > SessionGapUs, 1)
            .otherwise(0))
        .withColumn("session_id",
          sum("is_new").over(byU.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
             xsum(col("value"), 6).as("sum_value"),
             expr("(max(ts_us) - min(ts_us)) div 1000000").as("duration_s"))
    }),
    // TPC-H Q1-style pricing summary: full-scan agg, map-side combinable
    "q20_pricing_summary" -> ((spark, dir) => {
      val l = table(spark, dir, "lineitem")
      val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      l.groupBy("l_returnflag", "l_linestatus").agg(
          xsum(col("l_quantity"), 4).as("sum_qty"),
          xsum(col("l_extendedprice"), 4).as("sum_base_price"),
          xsum(disc, 4).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", pround(col("sum_qty") / col("count_order"), 6))
    }),

    // 3-way join with broadcast dims + agg: revenue by nation in ASIA
    "q21_revenue_by_nation" -> ((spark, dir) => {
      val c = table(spark, dir, "customer")
      val o = table(spark, dir, "orders")
      val n = table(spark, dir, "nation")
      val r = table(spark, dir, "region")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .where(r("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(xsum(col("o_totalprice"), 4).as("revenue"),
             count(lit(1)).as("n_orders"))
    }),

    // top-k by aggregate: 10 biggest customers by spend
    "q22_top_customers" -> ((spark, dir) => {
      val c = table(spark, dir, "customer")
      val o = table(spark, dir, "orders")
      o.groupBy("o_custkey")
        .agg(xsum(col("o_totalprice"), 4).as("revenue"),
             count(lit(1)).as("n_orders"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"), col("n_orders"))
        .orderBy(desc("revenue"), col("c_custkey"))
        .limit(10)
    }),

    // window ranking: each customer's 3 largest orders
    "q23_order_rank" -> ((spark, dir) => {
      val o = table(spark, dir, "orders")
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      o.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rnk"))
        .where(col("rnk") <= 3)
    }),

    // fact-to-dim join + agg: per-brand lineitem stats. Unlike
    // nation/region (constant 25/5 rows, hinted), part GROWS with the
    // scale factor — no broadcast hint; AQE broadcasts while it fits and
    // falls back to a shuffle join when it doesn't.
    "q24_brand_agg" -> ((spark, dir) => {
      val p = table(spark, dir, "part")
      val l = table(spark, dir, "lineitem")
      l.join(p, l("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
             xsum(col("l_quantity"), 4).as("sum_qty"),
             xsum(col("l_extendedprice"), 4).as("sum_price"))
    }),

    // as-of join — an operator Spark lacks natively, composed from an
    // equi-join + window rank: for each (sampled) purchase event, the same
    // user's latest view/click strictly before it; purchases with no prior
    // match keep a NULL row (left as-of semantics). The standard
    // formulation at scale: join on the entity key, filter the time
    // range, keep rank-1 per left row (AQE handles key skew). Timestamps
    // compare at MICROSECOND precision on both sides (QueryBase.tsUs vs
    // the oracle's epoch_us) whatever carrier type the table arrives with.
    "q26_asof_join" -> ((spark, dir) => {
      val ev = table(spark, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase" && col("event_id") % 50 === 0)
        .select(col("event_id").as("purchase_id"), col("user_id"),
          QueryBase.tsUs(ev).as("p_us"))
      val views = ev.where(col("event_type").isin("view", "click"))
        .select(col("user_id"), QueryBase.tsUs(ev).as("v_us"), col("event_id"), col("value"))
      // explicit aliases: both frames share lineage from the same events
      // read, and `purchases("user_id") === views("user_id")` resolves to
      // the SAME attribute id — a trivially-true predicate Spark 4 only
      // rescues via self-join disambiguation (and other versions silently
      // turn into a filtered cross join)
      val w = Window.partitionBy("purchase_id").orderBy(desc("v_us"), desc("event_id"))
      purchases.alias("p").join(views.alias("v"),
          col("p.user_id") === col("v.user_id") && col("v.v_us") < col("p.p_us"), "left")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("purchase_id"), col("p.user_id").as("user_id"),
          col("v.event_id").as("asof_event"), pround(col("v.value"), 6).as("asof_value"))
    }),

    // multi-level aggregate: ROLLUP over (returnflag, linestatus) — the
    // grouping-sets surface. One shuffle produces all three levels
    // (Spark expands the sets map-side); grouping_id disambiguates
    // subtotal NULLs from data NULLs.
    "q54_rollup_pricing" -> ((spark, dir) =>
      table(spark, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(grouping_id().cast("long").as("gid"),
             xsum(col("l_quantity"), 4).as("sum_qty"),
             count(lit(1)).as("n"))
        .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n")),

    // exact per-group median by explicit rank arithmetic: rank values,
    // keep the middle one (odd n) or two (even n), average. Portable —
    // interpolating percentile builtins differ between engines; this is
    // the same row_number + integer-div + IEEE mean on both sides. One
    // window sort per group key, same shape as any ranked analytic.
    "q55_median_value" -> ((spark, dir) => {
      val byType = Window.partitionBy("event_type")
      table(spark, dir, "events")
        .select(col("event_type"), col("value"), col("event_id"))
        .withColumn("rn", row_number().over(byType.orderBy(col("value"), col("event_id"))))
        .withColumn("n", count(lit(1)).over(byType))
        .where(col("rn") === expr("(n + 1) div 2") || col("rn") === expr("n div 2 + 1"))
        .groupBy("event_type")
        .agg(max(col("n")).as("n_values"),
             pround(sum(col("value")) / count(lit(1)), 6).as("median_value"))
    }),

    // anti join: customers with no high-value order — the NOT EXISTS
    // probe that completes the join-type surface (inner/broadcast/theta/
    // as-of/semi/anti). The price filter runs BEFORE the join, so the
    // anti side shrinks to the qualifying keys at the scan (pushdown +
    // pruning), and AQE broadcasts whichever side fits.
    "q73_anti_join" -> ((spark, dir) =>
      table(spark, dir, "customer")
        .join(table(spark, dir, "orders")
            .where(col("o_totalprice") > 300000.0).select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")),

    // pivot: per-user event counts spread across a FIXED event-type value
    // list (explicit values keep the output schema static, so the pivot
    // is one map-side-combinable aggregation — a dynamic pivot would need
    // a driver-side distinct pass first). The canonical long-to-wide
    // reshape of feature engineering.
    "q74_pivot" -> ((spark, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      table(spark, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L, types)
        .select(col("user_id") +: types.map(t => col(t).as(s"n_$t")): _*)
    }),

    // time-series resample: downsample the event stream to fixed 1-hour
    // buckets per type — the resample/rollup every monitoring pipeline
    // runs. Bucket ids are INTEGER microsecond division off QueryBase.tsUs
    // (FP division of epoch integers would round near bucket edges). One
    // map-side-combinable aggregation.
    "q71_time_resample" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      raw
        .select(col("event_type"), QueryBase.tsUs(raw).as("ts_us"), col("value"))
        .withColumn("hour_bucket", expr("ts_us div 3600000000"))
        .drop("ts_us")
        .groupBy("event_type", "hour_bucket")
        .agg(count(lit(1)).as("n_events"), xsum(col("value"), 6).as("sum_value"))
        .withColumn("avg_value", pround(col("sum_value") / col("n_events"), 6))
    }),

    // exact multi-quantile by rank arithmetic (generalizes q55): the
    // lower (type-1) quantile at rank floor(q*(n-1)) + 1 per group.
    // Single pass: with rn and n both window columns, each row decides
    // FOR ITSELF which quantiles it is the target rank of (a per-row
    // filtered array + explode) — no second aggregation, no join back,
    // so the per-group window sort executes exactly once. (The earlier
    // formulation derived a target-rank frame from the same window and
    // joined it back — the ranked sort ran in two jobs.)
    "q72_quantiles" -> ((spark, dir) => {
      val qs = Seq(0.25, 0.5, 0.75, 0.95)
      val byType = Window.partitionBy("event_type")
      table(spark, dir, "events")
        .select(col("event_type"), col("value"), col("event_id"))
        .withColumn("rn", row_number().over(byType.orderBy(col("value"), col("event_id"))))
        .withColumn("n", count(lit(1)).over(byType))
        .select(col("event_type"),
          explode(filter(array(qs.map(lit): _*),
            q => col("rn") === floor(q * (col("n") - 1)) + lit(1))).as("q"),
          col("value").as("q_value"))
    }),

    // semi-structured extraction: pull a typed field out of the JSON
    // `props` payload and aggregate it — the schema-on-read pattern every
    // event pipeline runs before anything relational can happen. The
    // extraction is a codegen'd per-row expression (no UDF); the aggregate
    // is map-side combinable, so the op is scan-shaped at any scale.
    "q68_json_extract" -> ((spark, dir) =>
      table(spark, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
             sum(col("k")).as("sum_k"),
             min(col("k")).as("min_k"),
             max(col("k")).as("max_k"))
        .withColumn("avg_k", pround(col("sum_k").cast("double") / col("n_events"), 6))),

    // deliberately-skewed window top-k: event_type has FIVE values, so a
    // direct per-type rank funnels 1/5 of the corpus through one reducer
    // at any scale. This query ORIGINATED the two-phase salted ranking
    // that r15 generalized into QueryBase.saltedTopK — it now rides the
    // shared definition like every other salted rank (the r16 review
    // closed the one remaining hand-rolled copy), so the fan-out and the
    // superset argument live in exactly one place. Ranks are
    // bit-identical to the direct-window oracle. (q61 is the aggregation
    // face of this pattern; this is the row face.)
    "q79_skew_type_topk" -> ((spark, dir) =>
      saltedTopK(
        table(spark, dir, "events")
          .select(col("event_type"), col("event_id"), col("value")),
        Seq("event_type"), Seq(desc("value"), col("event_id")),
        col("event_id"), SkewTopK, "rnk")
        .select(col("event_type"), col("rnk"), col("event_id"), col("value"))),

    // set op: customers that are both big spenders and BUILDING segment
    "q25_segment_intersect" -> ((spark, dir) => {
      val c = table(spark, dir, "customer")
      val o = table(spark, dir, "orders")
      val spenders = o.groupBy("o_custkey")
        .agg(xsum(col("o_totalprice"), 4).as("rev"))
        .where(col("rev") > 100000.0)
        .select(col("o_custkey").as("custkey"))
      val building = c.where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
      spenders.intersect(building)
    }),

    // EXCEPT completes the set-op family next to q25's INTERSECT: the
    // high-spend customers OUTSIDE the BUILDING segment. Spark plans
    // except() as a left-anti aggregate — same bounded shuffle shape as
    // the q73 anti join, distinct-by-construction on the grouped side.
    "q95_segment_except" -> ((spark, dir) => {
      val c = table(spark, dir, "customer")
      val o = table(spark, dir, "orders")
      val spenders = o.groupBy("o_custkey")
        .agg(xsum(col("o_totalprice"), 4).as("rev"))
        .where(col("rev") > 100000.0)
        .select(col("o_custkey").as("custkey"))
      val building = c.where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
      spenders.except(building)
    }),

    // MIN/MAX FILE SKIPPING (zone maps) — the STATS half of the
    // source-pruning story: q134 prunes by partition VALUE, q137/q78/q128
    // by bucket, this by per-file min/max statistics over a
    // range-clustered layout, the Iceberg/Delta manifest mechanism
    // rebuilt from public Spark. The probe window is the middle third of
    // the observed user_id domain (derived by integer arithmetic both
    // engines replay); the manifest — FILE-count rows, 16 here, a few
    // thousand at 100 TB — is the only thing read before the data scan,
    // and only files whose [min_uid, max_uid] intersects the window are
    // opened (bounded driver-side collect of ≤ SkipFiles paths, the
    // deliberate q128-style literal plan). The residual BETWEEN still
    // reaches the parquet scan as PushedFilters, so row-group stats prune
    // WITHIN the opened files too (FileSkipSpec pins both). The oracle
    // replays the window over raw parquet: equal results prove the
    // clustered layout lossless and the manifest pruning exact.
    "q141_minmax_file_skip" -> ((spark, dir) => {
      val (rT, mT) = rangedEventsTables(spark, dir)
      val man = spark.table(mT)
      val b = man.agg(min("min_uid").as("umin"), max("max_uid").as("umax"))
        .collect()(0)
      val empty = b.isNullAt(0)
      val (lo, hi) =
        if (empty) (0L, -1L)
        else {
          val (umin, umax) = (b.getLong(0), b.getLong(1))
          (umin + (umax - umin) / 3, umin + (2 * (umax - umin)) / 3)
        }
      val files = man
        .where(col("max_uid") >= lo && col("min_uid") <= hi)
        .select("file").collect().map(_.getString(0))
      val pruned =
        if (files.isEmpty) spark.table(rT).limit(0)
        else spark.read.parquet(files.toIndexedSeq: _*)
      pruned
        .where(col("user_id") >= lo && col("user_id") <= hi)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          xsum(col("value"), 6).as("sum_value"))
    }),

    // AQE SKEW-JOIN — the RUNTIME half of the skew story (q79 pins the
    // authored half, two-phase salting): half the fact rows share ONE
    // join key (every even event_id lands on k = -1 — the "null-like
    // mega-key" every real fact table has), the dim is the customer key
    // dictionary plus that mega-key row, and with broadcast disabled the
    // sort-merge join's skewed shuffle partition is detected and SPLIT
    // by AQE at runtime (OptimizeSkewedJoin replicates the matching dim
    // partition per split — semantics preserved, stragglers gone; the
    // rule pattern-matches Sort-over-shuffle on both sides, which is why
    // the dim is a stored relation, not a derived distinct). Conf-
    // isolated in a child session like q139: the production defaults
    // (256 MB threshold, factor 5) fire on their own at real scale; the
    // lowered thresholds here only make the mechanism observable at test
    // SF. AqeSkewSpec pins skew=true in the executed plan; the oracle
    // replays the join naively — equal results prove the split exact.
    "q142_aqe_skew_join" -> ((spark0, dir) => {
      val spark = childSession(spark0,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "128b",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64b",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b")
      // AQE splits a skewed reduce partition at MAP-output granularity; a
      // test-SF parquet file scans as one map task, whose single chunk is
      // unsplittable — fan the fact over 16 mappers first (at 100 TB the
      // scan has thousands of map tasks and this round-robin never exists)
      val ev = table(spark, dir, "events").repartition(16)
      val fact = ev.select(col("event_type"), col("value"),
        when(col("event_id") % 2 === 0, lit(-1L))
          .otherwise(col("user_id")).as("k"))
      val dim = table(spark, dir, "customer").select(col("c_custkey").as("k"))
        .unionByName(spark.range(1).select(lit(-1L).as("k")))
        .withColumn("w", (col("k") % lit(SkewW)).cast("long"))
      fact.join(dim, "k")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"), sum("w").as("sum_w"),
          xsum(col("value"), 6).as("sum_value"))
    }),

    // MERGE / CDC UPSERT — the latest-value sibling of q138's additive
    // MV: the at-rest state table holds one row per (user_id, event_type)
    // key (latest by event time over the ingested 90%), the delta batch
    // collapses to ITS latest per key, and the merge is an argmax over
    // state ∪ delta-state — at most two rows per key, O(|state| +
    // |delta|), history never re-read. This is MERGE INTO ... WHEN
    // MATCHED THEN UPDATE / WHEN NOT MATCHED THEN INSERT expressed as a
    // window over the keyed union: matched keys take whichever side is
    // newer (the split is by event_id, so delta rows are NOT uniformly
    // newer — the tie rule genuinely decides), unmatched keys pass
    // through. At 100 TB this is the nightly dimension-table upsert.
    // AtRestMaintenanceSpec pins the O(delta) plan (state table + only
    // delta raw rows); the oracle recomputes latest-per-key from ALL raw
    // events — equality proves merged state == full recompute.
    "q149_merge_upsert" -> ((spark, dir) => {
      val sT = upsertStateTable(spark, dir)
      val delta = latestPerKey(table(spark, dir, "events")
        .where(col("event_id") % 10 === 0))
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(desc("ts_us"), desc("event_id"))
      spark.table(sT).unionByName(delta)
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("user_id"), col("event_type"),
          col("event_id").as("last_event_id"),
          col("value").as("last_value"), col("ts_us").as("last_ts_us"))
    }),

    // Z-ORDER 2-D FILE SKIPPING — the multi-column completion of the
    // source-pruning story: q141 skips on ONE range-clustered key; here
    // the (user window × day window) box probe consults the 2-D manifest
    // and opens only files whose rectangle intersects BOTH ranges.
    // Middle-third windows on each dimension (derived from the manifest
    // by the q141 integer arithmetic, replayed by the oracle); the
    // residual predicates still reach the opened files' scans as
    // PushedFilters. ZorderSkipSpec pins that files are skipped on the
    // DAY dimension specifically — files a 1-D user_id clustering could
    // never skip — and that skipped boxes are genuinely disjoint from
    // the probe box. The oracle replays the box over raw parquet:
    // equality proves the z-clustered layout lossless and the 2-D
    // pruning exact.
    "q150_zorder_file_skip" -> ((spark, dir) => {
      val (zT, mT) = zorderedEventsTables(spark, dir)
      val man = spark.table(mT)
      val b = man.agg(min("min_uid").as("u0"), max("max_uid").as("u1"),
        min("min_day").as("d0"), max("max_day").as("d1")).collect()(0)
      val empty = b.isNullAt(0)
      val (ulo, uhi, dlo, dhi) =
        if (empty) (0L, -1L, 0L, -1L)
        else {
          val (u0, u1, d0, d1) =
            (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
          (u0 + (u1 - u0) / 3, u0 + (2 * (u1 - u0)) / 3,
            d0 + (d1 - d0) / 3, d0 + (2 * (d1 - d0)) / 3)
        }
      val files = man
        .where(col("max_uid") >= ulo && col("min_uid") <= uhi &&
          col("max_day") >= dlo && col("min_day") <= dhi)
        .select("file").collect().map(_.getString(0))
      val pruned =
        if (files.isEmpty) spark.table(zT).limit(0)
        else spark.read.parquet(files.toIndexedSeq: _*)
      pruned
        .where(col("user_id") >= ulo && col("user_id") <= uhi &&
          col("day") >= dlo && col("day") <= dhi)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("day")).as("n_days"),
          xsum(col("value"), 6).as("sum_value"))
    }),

    // ORDERED STRING AGGREGATION — the LISTAGG/string_agg surface:
    // collect_list's order is partition-nondeterministic, so the
    // portable formulation sorts the collected array before joining —
    // the ONLY way a string aggregate hash-matches a serial oracle (and
    // the right habit at 100 TB, where collect order is a race). Small
    // bounded groups (segments × priorities); the concatenated key list
    // makes every member hash-visible.
    "q165_string_agg" -> ((spark, dir) => {
      val c = table(spark, dir, "customer")
        .select(col("c_mktsegment").as("segment"), col("c_custkey"))
        .where(col("c_custkey") % 100 === 0)
      c.groupBy("segment")
        .agg(count(lit(1)).as("n"),
          array_join(array_sort(collect_list(col("c_custkey").cast("string"))), ",")
            .as("members"))
    }),

    // RANK / DENSE_RANK over GENUINE TIES — q23/q79 pin row_number, but
    // rank semantics only differ when the ordering key actually ties:
    // customers ranked by ORDER COUNT tie in droves, rank() leaves
    // gaps, dense_rank() doesn't, and both depend only on the tied
    // VALUE (not arrival order) so they are deterministic without a
    // tiebreaker — which row_number here would NOT be. The top-5 dense
    // ranks keep the output bounded while crossing several tie groups.
    // Scale note: a global rank is a global sort — so the plan first
    // derives the 5th-highest DISTINCT count (a value-domain-sized
    // aggregate + bounded driver collect, the q141 idiom) and runs the
    // window only over the survivors. For every surviving row the
    // survivor rank EQUALS the global rank (all strictly-greater rows
    // survive the >= threshold filter), so the shortcut is exact.
    "q166_rank_ties" -> ((spark, dir) => {
      val counts = table(spark, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      val top = counts.select("n_orders").distinct()
        .orderBy(desc("n_orders")).limit(5).collect().map(_.getLong(0))
      val survivors =
        if (top.isEmpty) counts.limit(0) else counts.where(col("n_orders") >= top.min)
      val w = Window.orderBy(desc("n_orders"))
      survivors
        .withColumn("rnk", rank().over(w))
        .withColumn("drnk", dense_rank().over(w))
        .where(col("drnk") <= 5)
        .groupBy("n_orders", "rnk", "drnk")
        .agg(count(lit(1)).as("n_customers"), min("o_custkey").as("min_custkey"))
    }),

    // SCD TYPE-2 INTERVALS — the dimension-history sibling of q149's
    // SCD1 latest-value state: every purchase event becomes a validity
    // interval [valid_from, valid_to) via ONE lead() pass per user (the
    // warehouse pattern for "what was the attribute worth AT time t"),
    // open-ended + flagged current on the newest row. One shuffle on
    // the user key, linear per partition; the unique (ts, event_id)
    // ordering makes lead() deterministic. The oracle runs the same
    // window serially.
    "q163_scd2_intervals" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      raw.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("value"),
          QueryBase.tsUs(raw).as("ts_us"))
        .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
        .select(col("user_id"), col("event_id"), col("value"),
          col("ts_us").as("valid_from_us"), col("valid_to_us"),
          col("valid_to_us").isNull.as("is_current"))
    }),

    // DEBOUNCE DEDUP — the stream-cleaning operator applied in batch:
    // drop any event within [[DebounceUs]] of the SAME user's previous
    // raw event (the lag formulation — one window pass, deterministic;
    // the chained-suppression variant needs iteration and buys little
    // on real telemetry). First event per user always survives (NULL
    // lag). One per-user window, one pass;
    // the report counts kept/dropped per event_type so every decision
    // is hash-visible. The oracle replays the same lag rule.
    "q164_debounce" -> ((spark, dir) =>
      debounceEvents(spark, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          coalesce(xsum(when(col("keep"), col("value")), 6), lit(0.0))
            .as("sum_kept_value"))),

    // COPY-ON-WRITE PURGE — the at-rest DELETE story's write-side half:
    // flagged users' rows are removed from the aged partitions by
    // rewriting ONLY those partitions into a new generation; every
    // partition outside the purge window is referenced by the new
    // manifest AS ITS ORIGINAL FILES (DeleteSpec pins the byte reuse).
    // The probe reads the manifest (file-count-sized, the q141 idiom)
    // and unions the per-generation basePath reads so the day partition
    // column survives. The oracle replays the logical delete over raw
    // events — equality proves the selective rewrite removed exactly
    // the flagged rows and nothing else.
    "q161_purge_cow" -> ((spark, dir) => {
      val (mT, _) = purgedLayoutTables(spark, dir)
      val (pT, _) = partitionedEventsTable(spark, dir)
      val files = spark.table(mT).select("file").collect().map(_.getString(0))
      if (files.isEmpty) purgeReport(spark.table(pT).limit(0))
      else {
        val byBase = files.groupBy(f => f.substring(0, f.indexOf("/day=")))
        val parts = byBase.toSeq.sortBy(_._1).map { case (b, fs) =>
          spark.read.option("basePath", b).parquet(fs.toIndexedSeq: _*)
            .select("event_id", "user_id", "event_type", "value", "day")
        }
        purgeReport(parts.reduce(_ unionByName _))
      }
    }),

    // MERGE-ON-READ DELETE — the same logical purge as q161 with ZERO
    // rewrite: the deletion-vector table stores the deleted keys, and
    // every read applies them as an ANTI JOIN against the intact v1
    // layout (the Iceberg/Delta deletion-vector mechanism in its
    // logical-key form). CoW pays the write once and reads clean; MoR
    // writes nothing and pays a key-sized anti join per read — the
    // trade every table format exposes. Same oracle as q161: the two
    // delete styles MUST agree (DeleteSpec also pins it in-engine).
    "q162_purge_mor" -> ((spark, dir) => {
      val (_, dvT) = purgedLayoutTables(spark, dir)
      val (pT, _) = partitionedEventsTable(spark, dir)
      purgeReport(
        spark.table(pT).join(spark.table(dvT).select("event_id"),
          Seq("event_id"), "left_anti"))
    }),

    // EXACT-PARALLEL CORRELATION / COVARIANCE — the statistical
    // aggregates engines ship as corr()/covar_pop() are DOUBLE-sum
    // based, so under parallel partial aggregation their results drift
    // with partitioning (the same reason QueryBase.xsum exists). Here
    // the five moments (Σx, Σy, Σxy, Σx², Σy²) accumulate as exact
    // INTEGERS over the 4-digit-quantized value and the hour-of-day, so
    // any partitioning merges bit-identically; the closed-form corr /
    // covar / stddev then evaluate in identical IEEE double ops on both
    // engines from identical integer moments. (Larger corpora lower the
    // quantization digits to keep Σy² inside BIGINT — the formulation
    // stays exact; only the grain moves.) One map-side-combinable
    // aggregation, scan-shaped at any scale.
    "q160_exact_corr" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val m = raw
        .select(col("event_type"), QueryBase.tsUs(raw).as("ts_us"), col("value"))
        .withColumn("x", expr(s"(ts_us div ${HourUs}L) % 24"))
        .withColumn("y", floor(col("value") * lit(10000.0) + lit(0.5)).cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
      val (nD, sxD, syD, sxxD, syyD, sxyD) =
        (col("n").cast("double"), col("sx").cast("double"),
          col("sy").cast("double"), col("sxx").cast("double"),
          col("syy").cast("double"), col("sxy").cast("double"))
      m.select(col("event_type"), col("n"),
        pround((nD * sxyD - sxD * syD) /
          sqrt((nD * sxxD - sxD * sxD) * (nD * syyD - syD * syD)), 6)
          .as("corr_vh"),
        pround((sxyD / nD - (sxD / nD) * (syD / nD)) / lit(10000.0), 6)
          .as("covar_vh"),
        pround(sqrt(syyD / nD - (syD / nD) * (syD / nD)) / lit(10000.0), 6)
          .as("stddev_v"))
    }),

    // COMPOSED STAR-SCHEMA PLAN — q135's DPP and q139's runtime bloom
    // firing together on ONE fact scan, which is what a real 100 TB
    // star query looks like: the day dimension's filter prunes whole
    // PARTITIONS via dynamic partition pruning (broadcast-hinted, so
    // DPP reuses the exchange), and the customer-segment dimension's
    // filter prunes ROWS of the surviving partitions via a runtime
    // bloom pushed below the fact side of the sort-merge join
    // (broadcast disabled globally so the segment join genuinely
    // shuffles — the 100 TB reality the bloom exists for; the hint
    // overrides the threshold for the day dim only). Conf-isolated
    // child session (q139/q142 idiom); StarPlanSpec pins BOTH runtime
    // filters in the executed plan; the oracle replays the two joins
    // over raw parquet.
    "q159_star_runtime_filters" -> ((spark0, dir) => {
      val (pT, dT) = partitionedEventsTable(spark0, dir)
      val spark = childSession(spark0, RuntimeBloomConfs: _*)
      val days = broadcast(spark.table(dT).where(col("dow") === 0).select("day"))
      val seg = table(spark, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("user_id"))
      spark.table(pT).join(days, "day").join(seg, "user_id")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), xsum(col("value"), 6).as("sum_value"))
    }),

    // FULL OUTER reconciliation — completes the join-type surface
    // (inner/broadcast q21, semi q64, anti q73, left q154, range q119,
    // as-of q71): the referential-integrity audit every warehouse runs
    // after a load — which customer keys have no event
    // activity, which active user ids have no customer row, and what
    // the matched population carries.
    // Both sides pre-aggregate to key-sized frames before the join
    // (never outer-joining raw fact rows), then one full outer join +
    // status classification. At 100 TB: two shuffles on the key and a
    // key-sized join — the audit costs no more than the aggregates.
    "q158_full_outer_audit" -> ((spark, dir) => {
      val c = table(spark, dir, "customer")
        .groupBy(col("c_custkey").as("key")).agg(count(lit(1)).as("n_cust"))
      // activity rides as SCALED-INTEGER partials through both
      // aggregation levels (the q138 sint discipline) — re-summing
      // xsum's double output across keys would be order-dependent at
      // the ulp
      val raw = table(spark, dir, "events")
      val e = raw
        .groupBy(col("user_id").as("key"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * lit(1000000.0) + lit(0.5)))
            .cast("long").as("sc"))
      c.join(e, Seq("key"), "full_outer")
        .select(
          when(col("n_cust").isNotNull && col("n_events").isNotNull, "matched")
            .when(col("n_cust").isNotNull, "customer_only")
            .otherwise("activity_only").as("status"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("sc"), lit(0L)).as("sc"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_keys"),
          sum(col("n_events")).as("n_events"),
          (sum(col("sc")).cast("double") / lit(1000000.0)).as("sum_value"))
    }),

    // EVENT FUNNEL — the product-analytics sequence query: how many
    // users did view → click → purchase IN THAT ORDER (first-touch
    // semantics: each stage's timestamp is the user's EARLIEST such
    // event, and a stage counts only if it strictly follows the
    // previous stage's first touch). One conditional aggregation per
    // user then one global roll-up — two combinable aggs, no joins, no
    // window: the whole funnel is a scan at any scale. Strict <
    // comparisons on the µs timestamps (ties cannot satisfy the funnel,
    // same rule both engines); NULL stage times propagate to false in
    // both engines' < semantics. Conversion ratios are NULL-guarded for
    // the empty corpus (Spark and DuckDB disagree on 0/0 otherwise).
    "q156_event_funnel" -> ((spark, dir) => {
      val stage = funnelStages(spark, dir)
      stage.agg(
          count(when(col("t1").isNotNull, lit(1))).as("n_view"),
          count(when(col("t1") < col("t2"), lit(1))).as("n_view_click"),
          count(when(col("t1") < col("t2") && col("t2") < col("t3"), lit(1)))
            .as("n_funnel"))
        .select(col("n_view"), col("n_view_click"), col("n_funnel"),
          when(col("n_view") > 0,
            pround(col("n_view_click").cast("double") / col("n_view"), 6))
            .as("conv_click"),
          when(col("n_view_click") > 0,
            pround(col("n_funnel").cast("double") / col("n_view_click"), 6))
            .as("conv_purchase"))
    }),

    // COHORT RETENTION — the other canonical event-analytics query: users
    // grouped by FIRST-SEEN day (their cohort), retention = how many are
    // active again k days later, k ≤ 7. Distinct (user, day) activity
    // first (one combinable distinct), each user's cohort day via a
    // per-user min, then one equi-join back on user_id and a (cohort, k)
    // count-distinct — the join's right side is user-count-sized (a
    // dimension, not the event stream), and nothing is ever quadratic.
    // Integer day arithmetic end to end; the oracle replays identically.
    "q157_cohort_retention" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val act = raw
        .select(col("user_id"), QueryBase.tsUs(raw).as("ts_us"))
        .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"))
        .distinct()
      val cohort = act.groupBy("user_id").agg(min("day").as("cohort_day"))
      act.join(cohort, "user_id")
        .withColumn("k", col("day") - col("cohort_day"))
        .where(col("k") <= 7)
        .groupBy("cohort_day", "k")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .select(col("cohort_day").cast("long").as("cohort_day"),
          col("k").cast("long").as("k"), col("n_users"))
    }),

    // SCHEMA EVOLUTION read — one logical table whose files span two
    // schema generations (gen2 added event_type; gen1 was never
    // rewritten), scanned through Spark's native mergeSchema parquet
    // read: ONE FileScan whose ReadSchema is the union, gen1 rows
    // surfacing NULL for the added column (coalesced to the 'unknown'
    // default every evolved pipeline defines). At 100 TB rewriting
    // history for every added column is impossible — schema-merge reads
    // are how evolved datasets stay queryable. The oracle replays the
    // generation rule over raw events (parity split → label), proving
    // the evolved layout lossless and the null-fill semantics exact.
    "q155_schema_evolution" -> ((spark, dir) => {
      val (g1T, g2T) = schemaEvoTables(spark, dir)
      val paths = (spark.table(g1T).inputFiles ++ spark.table(g2T).inputFiles)
        .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
      val merged =
        if (paths.isEmpty) spark.table(g2T) // zero-row source: full schema, no files
        else spark.read.option("mergeSchema", "true").parquet(paths.toIndexedSeq: _*)
      merged
        .select(coalesce(col("event_type"), lit("unknown")).as("event_type"),
          col("value"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), xsum(col("value"), 6).as("sum_value"))
    }),

    // SNAPSHOT TIME TRAVEL — reading a table AS OF an earlier version
    // after a later one exists: v1 (pre-merge) and v2 (post-merge) are
    // both at rest, immutable, in separate directories; the probe joins
    // the two snapshots and emits the per-key version diff — the audit
    // query time travel exists for ("what did last night's load change?")
    // — reading ONLY the two version tables, never raw history
    // (SnapshotSpec pins zero raw-event scans in the plan). v2's keys
    // are a superset of v1's by construction, so a left join from v2
    // sees every key; absent-in-v1 keys read as 0. The oracle recomputes
    // both versions from the raw split — equality proves v1 survived the
    // v2 write byte-intact AND the copy-on-write merge is exact.
    "q154_snapshot_diff" -> ((spark, dir) => {
      val (v1T, v2T) = mvSnapshotTables(spark, dir)
      val v1 = spark.table(v1T).select(col("day"), col("event_type"),
        col("n").as("n_v1"), col("s").as("s_v1"))
      val v2 = spark.table(v2T).select(col("day"), col("event_type"),
        col("n").as("n_v2"), col("s").as("s_v2"))
      v2.join(v1, Seq("day", "event_type"), "left")
        .select(col("day").cast("long").as("day"), col("event_type"),
          coalesce(col("n_v1"), lit(0L)).as("n_v1"), col("n_v2"),
          (col("n_v2") - coalesce(col("n_v1"), lit(0L))).as("n_added"),
          ((col("s_v2") - coalesce(col("s_v1"), lit(0L))).cast("double") /
            lit(1000000.0)).as("sum_added"))
    }),

    // CORRELATED SCALAR SUBQUERY — the optimizer surface none of the
    // other queries touch: each order compares against ITS customer's
    // average price, written as a genuinely correlated subquery (SQL
    // text, not a pre-joined frame). Catalyst DECORRELATES it into one
    // aggregate + equi-join — executed naively it would re-run the inner
    // aggregate per outer row, which at 100 TB is the difference between
    // one shuffle and a million scans. The average uses the portable
    // scaled-integer formulation inline (the xsum discipline in SQL
    // form: per-order quantized integers sum exactly, the two divisions
    // are identical IEEE ops on both engines), so the > boundary cannot
    // drift. The oracle runs the SAME correlated text on DuckDB.
    "q153_correlated_subquery" -> ((spark, dir) => {
      table(spark, dir, "orders").createOrReplaceTempView("graft_q153_orders")
      spark.sql(correlatedAboveAvgSql("graft_q153_orders"))
    }),

    // RANKING-FAMILY WINDOW SUITE — completes the window-function
    // surface beside row_number (q23/q79), lead/lag ignore-nulls (q136)
    // and rolling collect (q02): NTILE decile assignment, PERCENT_RANK
    // and CUME_DIST in one per-type pass, aggregated per (type, decile).
    // The (value, event_id) ordering key is UNIQUE, so rank == row
    // position and every function is deterministic (percent_rank over a
    // tied order would not hash-match a serial oracle). One shuffle on
    // the partition key, same as any window at 100 TB; percent_rank is
    // exact IEEE integer division on both engines, quantized into the
    // xsum.
    "q152_window_suite" -> ((spark, dir) => {
      val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
      table(spark, dir, "events")
        .select(col("event_type"), col("event_id"), col("value"))
        .withColumn("decile", ntile(10).over(w).cast("long"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .groupBy("event_type", "decile")
        .agg(count(lit(1)).as("n"),
          xsum(col("pr"), 6).as("sum_pr"),
          pround(max(col("cd")), 6).as("max_cd"),
          min("value").as("min_value"), max("value").as("max_value"))
    }),

    // ORC SOURCE round trip — q132's columnar sibling (JSONL/CSV cover
    // the text formats; ORC is the other columnar at-rest format Spark
    // ships natively). Same proof shape: the md5-derived per-text
    // fingerprint makes any single corrupted byte flip a per-lang sum,
    // the typed columns ride through min/sum aggregates, and the oracle
    // reads the PARQUET origin — equal results prove the ORC copy
    // lossless through Spark's vectorized ORC scan (FileSourceSpec pins
    // that the plan reads orc, not parquet). The lang predicate is
    // pushed into the ORC reader the same way parquet scans get
    // PushedFilters.
    "q143_orc_source_roundtrip" -> ((spark, dir) => {
      val o = spark.table(orcSourceTable(spark, dir))
        .where(col("lang") =!= "und")
        .withColumn("h",
          conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long") % 1000003L)
      o.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          sum("h").as("text_fp"),
          min("doc_id").as("min_doc"),
          countDistinct("source").as("n_sources"))
    }),

    // CUBE grouping sets — completes the grouping-set surface beside
    // q54's ROLLUP (rollup emits the prefix lattice, cube the full
    // power set; the 100 TB shape is identical: Spark expands the sets
    // and keeps every aggregate map-side combinable, one exchange on the
    // expanded key). gid disambiguates the (NULL, NULL) total row from
    // genuine NULL keys, same as q54.
    "q145_cube_pricing" -> ((spark, dir) =>
      table(spark, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(grouping_id().cast("long").as("gid"),
          xsum(col("l_extendedprice"), 4).as("sum_price"),
          count(lit(1)).as("n"))
        .select("l_returnflag", "l_linestatus", "gid", "sum_price", "n")),

    // UNPIVOT (wide → long) — the inverse of q74's pivot: the three
    // lineitem measures unpivoted to (metric, v) rows via stack(), then
    // one combinable per-metric aggregation. stack is a projection-time
    // row generator — no shuffle beyond the final group-by, and the scan
    // still prunes to exactly the three measure columns.
    "q146_unpivot_metrics" -> ((spark, dir) =>
      table(spark, dir, "lineitem")
        .select(expr("stack(3, 'quantity', l_quantity, " +
          "'extendedprice', l_extendedprice, " +
          "'discount', l_discount) AS (metric, v)"))
        .groupBy("metric")
        .agg(count(lit(1)).as("n"), xsum(col("v"), 6).as("sum_v"),
          min("v").as("min_v"), max("v").as("max_v"))),

    // SCALABLE GLOBAL ROW NUMBER — a total-order enumeration without the
    // single-partition global window (which at 100 TB moves the whole
    // table through one task): per-day counts roll into cumulative
    // OFFSETS over the bounded day domain (the q86 bounded-domain cumsum
    // idiom — day-count-sized, broadcast back), and each day partition
    // numbers its own rows independently; global_rn = offset + local rn.
    // The unique (ts_us, event_id) ordering makes every rank
    // deterministic, and the Σ rn·event_id checksum per type makes every
    // single assignment hash-visible (any row numbered differently moves
    // the weighted sum). This is how zipWithIndex/ORDER-BY-rank ships at
    // scale: one count pass + one partition-local window, no global sort.
    "q167_global_rownumber" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val e = raw.select(col("event_id"), col("event_type"),
          QueryBase.tsUs(raw).as("ts_us"))
        .withColumn("day", expr(s"ts_us div $DayUs"))
      val offsets = e.groupBy("day").agg(count(lit(1)).as("cnt"))
        .withColumn("offset", coalesce(sum("cnt").over(
          Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select("day", "offset")
      val w = Window.partitionBy("day").orderBy(col("ts_us"), col("event_id"))
      e.join(broadcast(offsets), "day")
        .withColumn("rn", col("offset") + row_number().over(w))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          min("rn").as("min_rn"), max("rn").as("max_rn"),
          sum(col("rn") * col("event_id")).as("rn_checksum"))
    }),

    // MARKOV TRANSITION MATRIX — per-user event-type bigrams via ONE
    // lag() pass (the q164 window, reused for sequence mining instead of
    // cleaning), aggregated to the |types|² transition-count matrix with
    // row-normalized probabilities. The normalizing window runs over the
    // bounded type×type domain (≤ 25 rows here, never the event stream),
    // so the only data-sized work is the per-user shuffle + one
    // combinable count — the session-behavior model a funnel (q156)
    // summarizes is measured here edge by edge.
    "q168_markov_transitions" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val counts = raw.select(col("user_id"), col("event_id"),
          col("event_type").as("next_type"), QueryBase.tsUs(raw).as("ts_us"))
        .withColumn("prev_type", lag("next_type", 1).over(w))
        .where(col("prev_type").isNotNull)
        .groupBy("prev_type", "next_type")
        .agg(count(lit(1)).as("n"))
      val byPrev = Window.partitionBy("prev_type")
      counts.withColumn("p",
        pround(col("n").cast("double") / sum("n").over(byPrev).cast("double"), 6))
    }),

    // COLUMN PROFILE — the data-validation operator (the Deequ/profiler
    // shape): per-column row/non-null/exact-distinct counts + null rate
    // in ONE scan. Multiple exact count(DISTINCT col)s compile to
    // Catalyst's Expand (one pass over the input, one row-replica per
    // profiled column, partial-aggregated map-side) — the profiler never
    // rescans per column; stack() then unpivots the 1-row aggregate into
    // the per-column report. At 100 TB this is the standard
    // quality-gate scan that precedes ingestion.
    "q170_column_profile" -> ((spark, dir) => {
      val cols = Seq("l_orderkey", "l_partkey", "l_quantity",
        "l_returnflag", "l_linestatus")
      val aggs = count(lit(1)).as("n_rows") +:
        cols.flatMap(c => Seq(
          count(col(c)).as(s"nn_$c"),
          countDistinct(col(c)).as(s"nd_$c")))
      val one = table(spark, dir, "lineitem").agg(aggs.head, aggs.tail: _*)
      val stack = cols.map(c => s"'$c', nn_$c, nd_$c").mkString(", ")
      one.select(col("n_rows"),
          expr(s"stack(${cols.size}, $stack) AS (col_name, n_notnull, n_distinct)"))
        .select(col("col_name"), col("n_rows"), col("n_notnull"),
          col("n_distinct"),
          when(col("n_rows") === 0, lit(0.0))
            .otherwise(pround((col("n_rows") - col("n_notnull")).cast("double") /
              col("n_rows").cast("double"), 6)).as("null_rate"))
    }),

    // TIME-WEIGHTED AVERAGE (TWAP) — the step-function integral per
    // user: each value holds until the user's next event (lead), so the
    // average weighs values by their holding DURATION, not their count —
    // the finance/telemetry aggregate a plain avg() silently gets wrong
    // on irregular samples. Values quantize to 2 decimals as integers
    // (Σ vq·Δt ≤ 5.6e4 · 2.6e12 µs ≈ 1.5e17, safely inside BIGINT), the
    // µs weights are exact integers, so the weighted sums merge
    // bit-identically under any partitioning; one window pass + one
    // combinable aggregation per user.
    "q171_twap" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val e = raw.select(col("user_id"), col("value"), col("event_id"),
          QueryBase.tsUs(raw).as("ts_us"))
        .withColumn("next_us", lead("ts_us", 1).over(w))
        .withColumn("vq", floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
      e.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("next_us").isNotNull,
            col("vq") * (col("next_us") - col("ts_us")))).as("wsum"),
          (max("ts_us") - min("ts_us")).as("span_us"))
        .where(col("span_us") > 0)
        .select(col("user_id"), col("n_events"),
          pround((col("wsum").cast("double") / lit(100.0)) /
            col("span_us").cast("double"), 6).as("twap"))
    }),

    // LAST-TOUCH ATTRIBUTION — every purchase attributes to the SAME
    // user's most recent preceding click within [[AttribUs]]: one
    // IGNORE-NULLS last() over the strictly-preceding frame (the q136
    // carry-forward idiom) finds the click timestamp in a single
    // per-user pass — no purchase×click self-join, which at 100 TB is
    // the difference between a window and a quadratic blowup. The report
    // buckets purchases by attributed/organic with exact µs delay sums,
    // so every attribution decision and delay is hash-visible.
    "q172_last_touch" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val e = raw.select(col("user_id"), col("event_type"), col("value"),
          col("event_id"), QueryBase.tsUs(raw).as("ts_us"))
        .withColumn("last_click_us",
          last(when(col("event_type") === "click", col("ts_us")), true).over(w))
        .where(col("event_type") === "purchase")
        .withColumn("attributed",
          col("last_click_us").isNotNull &&
            col("ts_us") - col("last_click_us") <= AttribUs)
      e.groupBy("attributed")
        .agg(count(lit(1)).as("n_purchases"),
          xsum(col("value"), 6).as("revenue"),
          coalesce(sum(when(col("attributed"),
            col("ts_us") - col("last_click_us"))), lit(0L)).as("sum_delay_us"))
    }),

    // CO-OCCURRENCE MINING (market-basket) — support + lift for the
    // top-20 part pairs appearing in the same order: the A-priori first
    // step. The pair space comes from a per-BASKET self-join on the
    // order key — fan-out bounded by basket_size² per order (single
    // digits here, never corpus²) — then one combinable count per pair.
    // Lift = P(ab)/(P(a)P(b)) from exact integer supports; the top-20
    // cut orders by (support DESC, pa, pb), a total order, so the limit
    // is deterministic under any parallelism (TakeOrdered, no global
    // sort materialized). Item counts join only the 20 survivors.
    "q173_cooccurrence" -> ((spark, dir) => {
      val d = tcache(table(spark, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct(), "q173:baskets")
      val nOrders = d.agg(countDistinct(col("ok")).as("n_orders"))
      val items = d.groupBy("pk").agg(count(lit(1)).as("cnt"))
      val top = d.as("a").join(d.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
        .agg(count(lit(1)).as("support"))
        .orderBy(desc("support"), col("pa"), col("pb"))
        .limit(20)
      top
        .join(items.select(col("pk").as("pa"), col("cnt").as("cnt_a")), "pa")
        .join(items.select(col("pk").as("pb"), col("cnt").as("cnt_b")), "pb")
        .crossJoin(broadcast(nOrders))
        .select(col("pa"), col("pb"), col("support"),
          pround((col("support") * col("n_orders")).cast("double") /
            (col("cnt_a") * col("cnt_b")).cast("double"), 6).as("lift"))
    }),

    // SKYLINE / PARETO FRONTIER — the multi-objective "best tradeoffs"
    // operator (maximize quantity AND price): a point survives iff no
    // other point is ≥ in both dimensions and > in one. The naive
    // formulation is an O(n²) dominance NOT-EXISTS — the oracle runs
    // exactly that — but over a bounded first dimension the frontier
    // collapses to per-x maxima + ONE descending running-max pass: a
    // per-x max survives iff it strictly beats the best price among all
    // higher quantities. The running max runs over the x-DOMAIN-sized
    // aggregate (≤ |distinct quantities| rows), so the data-sized work
    // is one combinable groupBy — the dominance join never happens.
    // Comparisons only, no double arithmetic: bit-exact for free.
    "q174_skyline" -> ((spark, dir) => {
      val m = table(spark, dir, "lineitem")
        .groupBy(col("l_quantity").as("qty"))
        .agg(max("l_extendedprice").as("max_price"), count(lit(1)).as("n_items"))
      val w = Window.orderBy(desc("qty")).rowsBetween(Window.unboundedPreceding, -1)
      m.withColumn("best_higher", max("max_price").over(w))
        .where(col("best_higher").isNull || col("max_price") > col("best_higher"))
        .select(col("qty"), col("max_price"), col("n_items"))
    }),

    // SESSION PATH MINING — the top-10 3-step event-type paths inside
    // [[SessionGapUs]] sessions (q27's session rule, ONE constant for
    // all three surfaces): two lag() passes over the per-user window
    // derive (prev2 > prev1 > cur) trigrams, kept only when all three
    // steps share a session; counts are combinable, and the top-10 cut
    // orders by (n DESC, path) so ties resolve deterministically. The
    // behavioral-sequence operator q156's fixed funnel generalizes to —
    // discovered paths instead of an assumed one; work is one per-user
    // shuffle + one bounded-domain count (paths ≤ |types|³).
    "q175_session_paths" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val sess = raw.select(col("user_id"), col("event_type"), col("event_id"),
          QueryBase.tsUs(raw).as("ts_us"))
        .withColumn("prev_us", lag("ts_us", 1).over(w))
        .withColumn("is_new",
          when(col("prev_us").isNull ||
            col("ts_us") - col("prev_us") > SessionGapUs, 1).otherwise(0))
        .withColumn("session_id",
          sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      val ws = Window.partitionBy("user_id", "session_id")
        .orderBy(col("ts_us"), col("event_id"))
      sess
        .withColumn("p1", lag("event_type", 1).over(ws))
        .withColumn("p2", lag("event_type", 2).over(ws))
        .where(col("p2").isNotNull)
        .select(concat_ws(">", col("p2"), col("p1"), col("event_type")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("path"))
        .limit(10)
    }),

    // SLIDING-WINDOW AGGREGATION in batch — the 3-hour window advancing
    // hourly (q71's tumbling resample generalized to OVERLAP): each
    // event contributes to the 3 windows that contain its hour via a
    // bounded explode (window_size rows per event, a constant), then ONE
    // combinable aggregation on (type, window_end) — never a self-join
    // of the stream against hour ranges, never a per-window rescan. The
    // batch analogue of the streaming sliding window, and how overlap
    // ships at 100 TB: replication factor = window/slide, map-side.
    "q177_sliding_window" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      raw.select(col("event_type"), col("value"), QueryBase.tsUs(raw).as("ts_us"))
        .withColumn("h", expr(s"ts_us div ${HourUs}L"))
        .select(col("event_type"), col("value"),
          explode(expr("sequence(h, h + 2)")).as("wend"))
        .groupBy("event_type", "wend")
        .agg(count(lit(1)).as("n_events"), xsum(col("value"), 6).as("sum_value"))
    }),

    // MEDIAN ABSOLUTE DEVIATION — robust location + spread per type by
    // EXACT rank arithmetic (the q72 idiom, twice): the lower median is
    // the rank-(n+1)÷2 value under the unique (value, event_id) order,
    // deviations |x − med| are one exact IEEE subtraction, and MAD is
    // the same rank selection over them. Robust statistics are the
    // outlier-immune quality gate (μ/σ move with a single corrupt
    // value; median/MAD don't). Two per-type window passes + a 5-row
    // broadcast join; comparisons and one subtraction — no rounding
    // discipline needed until the output.
    "q178_mad" -> ((spark, dir) => {
      val e = table(spark, dir, "events")
        .select(col("event_type"), col("value"), col("event_id"))
      val cnt = e.groupBy("event_type").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
      val med = e.withColumn("rn", row_number().over(w))
        .join(broadcast(cnt), "event_type")
        .where(expr("rn = (n + 1) div 2"))
        .select(col("event_type"), col("value").as("med"))
      val w2 = Window.partitionBy("event_type").orderBy(col("d"), col("event_id"))
      e.join(broadcast(med), "event_type")
        .select(col("event_type"), col("event_id"),
          abs(col("value") - col("med")).as("d"), col("med"))
        .withColumn("rn", row_number().over(w2))
        .join(broadcast(cnt), "event_type")
        .where(expr("rn = (n + 1) div 2"))
        .select(col("event_type"), col("n"),
          pround(col("med"), 6).as("median"), pround(col("d"), 6).as("mad"))
    }),

    // SCD2 POINT-IN-TIME LOOKUP, JOIN-FREE — every non-purchase event
    // reads the user's latest purchase value at-or-before its timestamp.
    // q26 builds as-of from join + rank (work = Σ per-key pair fan-out);
    // this is the OTHER rewrite, the one that deletes the join entirely:
    // interleave dimension-version rows and fact rows in ONE per-user
    // ordered stream (dim sorts before fact at equal ts via the kind
    // key, so `<=` semantics fall out of the sort) and carry the version
    // value forward with an IGNORE-NULLS last() over the
    // strictly-preceding frame. One shuffle on the entity key, linear
    // per partition, no fan-out — at 100 TB this is the temporal-join
    // plan that survives users with thousands of versions AND facts.
    // The oracle runs the naive theta join + per-fact argmax, proving
    // the interleave exact. PlanShapeSpec pins the join-free plan.
    "q179_scd2_lookup" -> ((spark, dir) => {
      val ev = table(spark, dir, "events")
      val base = ev.select(col("user_id"), col("event_type"), col("event_id"),
        QueryBase.tsUs(ev).as("ts_us"), col("value"))
      val dim = base.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("event_id"),
          lit(null).cast("string").as("event_type"),
          col("value").as("dv"), lit(0).as("k"))
      val fact = base.where(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"), lit(null).cast("double").as("dv"), lit(1).as("k"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("k"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      dim.unionByName(fact)
        .withColumn("asof_value", last(col("dv"), true).over(w))
        .where(col("k") === 1)
        .groupBy(col("event_type"), col("asof_value").isNotNull.as("matched"))
        .agg(count(lit(1)).as("n_events"),
          coalesce(xsum(col("asof_value"), 6), lit(0.0)).as("sum_asof_value"))
    }),

    // CONTRIBUTION ANALYSIS (top-N + OTHERS) — the BI rollup every
    // dashboard ends with: revenue share per nation, top-3 kept by name,
    // the long tail collapsed into one OTHERS bucket. Revenue stays a
    // SCALED INTEGER through both aggregation levels (per-nation, then
    // per-bucket), so the OTHERS sum is order-independent and the two
    // divisions (de-scale, share-of-total) are identical IEEE from
    // identical integers; the top-3 cut is a (rq DESC, name) total
    // order. Work: the q21 broadcast-dim star + two nation-count-sized
    // aggregates — the fact scan happens once.
    "q180_contribution" -> ((spark, dir) => {
      val nrev = table(spark, dir, "orders")
        .join(broadcast(table(spark, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))), col("o_custkey") === col("c_custkey"))
        .join(broadcast(table(spark, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(floor(col("o_totalprice") * lit(10000.0) + lit(0.5)).cast("long")).as("rq"))
      val top = nrev.orderBy(desc("rq"), col("n_name")).limit(3)
        .select(col("n_name").as("top_name"))
      val tot = nrev.agg(sum("rq").as("tq"))
      nrev.join(broadcast(top), col("n_name") === col("top_name"), "left")
        .select(when(col("top_name").isNotNull, col("n_name"))
          .otherwise(lit("OTHERS")).as("bucket"), col("rq"))
        .groupBy("bucket").agg(sum("rq").as("srq"))
        .crossJoin(broadcast(tot))
        .select(col("bucket"),
          pround(col("srq").cast("double") / lit(10000.0), 4).as("revenue"),
          pround(col("srq").cast("double") / col("tq").cast("double"), 6).as("share"))
    }),

    // WEEK-OVER-WEEK GROWTH — the trend metric over the resampled
    // series: one combinable (type, week) aggregation over the stream,
    // then lag + ratio over the BOUNDED types×weeks domain (the window
    // never sees the event stream). First weeks and zero-denominator
    // weeks report NULL growth rather than a fabricated number.
    "q181_wow_growth" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val wk = raw.select(col("event_type"), col("value"),
          QueryBase.tsUs(raw).as("ts_us"))
        .withColumn("week", expr(s"ts_us div ${WeekUs}L"))
        .groupBy("event_type", "week")
        .agg(count(lit(1)).as("n"), xsum(col("value"), 6).as("sum_value"))
      val w = Window.partitionBy("event_type").orderBy("week")
      wk.withColumn("prev_n", lag("n", 1).over(w))
        .select(col("event_type"), col("week"), col("n"), col("sum_value"),
          when(col("prev_n").isNull || col("prev_n") === 0,
            lit(null).cast("double"))
            .otherwise(pround((col("n") - col("prev_n")).cast("double") /
              col("prev_n").cast("double"), 6)).as("wow_growth"))
    }),

    // NULL-SAFE JOIN SEMANTICS — the `<=>` / IS NOT DISTINCT FROM
    // surface: a key derived with nullif (error events carry NULL)
    // joined against its own dimension under BOTH equality semantics.
    // Plain `=` silently drops every NULL-keyed row (the classic silent
    // data loss in backfills); null-safe equality matches NULL to NULL
    // and keeps them — the per-key report shows exactly the rows the
    // naive join loses. Null-safe equi-keys still hash-partition (NULL
    // is just another key value), so the join shape is unchanged at
    // scale.
    "q182_nullsafe_join" -> ((spark, dir) => {
      val ev = table(spark, dir, "events")
      val l = ev.where(col("event_id") % 20 === 0)
        .select(expr("nullif(event_type, 'error')").as("k"))
      val d = ev.groupBy(expr("nullif(event_type, 'error')").as("dk"))
        .agg(count(lit(1)).as("kc"))
      val ns = l.join(broadcast(d), col("k") <=> col("dk"), "left")
        .groupBy("k").agg(count(lit(1)).as("n_left"), count(col("kc")).as("n_nullsafe"))
      val eq = l.join(broadcast(d), col("k") === col("dk"), "left")
        .groupBy("k").agg(count(col("kc")).as("n_eq"))
      ns.as("a").join(eq.as("b"), col("a.k") <=> col("b.k"))
        .select(col("a.k").as("k"), col("n_left"), col("n_nullsafe"), col("n_eq"))
    }),

    // ROLLING 7-DAY ACTIVE USERS — distinct-count over OVERLAPPING
    // windows, which q177's additive replication alone cannot do
    // (distinct doesn't sum): collapse to distinct (user, day) FIRST —
    // one combinable pass that shrinks the stream to activity grain —
    // then replicate each activity day to the 7 windows containing it
    // and dedup (user, window) before counting. Two bounded shuffles,
    // replication factor = window/slide, never a per-window rescan: the
    // WAU/MAU dashboard shape at any scale.
    "q183_rolling_wau" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val ud = raw.select(col("user_id"), QueryBase.tsUs(raw).as("ts_us"))
        .withColumn("day", expr(s"ts_us div $DayUs"))
        .select("user_id", "day").distinct()
      ud.select(col("user_id"), explode(expr("sequence(day, day + 6)")).as("wend"))
        .distinct()
        .groupBy("wend").agg(count(lit(1)).as("wau"))
    }),

    // PSI DRIFT DETECTION — the population-stability monitor every
    // model/data pipeline runs between a reference window and current
    // data: per type, the REFERENCE half's exact deciles (rank
    // arithmetic, value-at-rank is deterministic under ties) become 9
    // cutpoints, both halves bin by cutpoints-below-value (one
    // broadcast array + a map-side lambda — no per-bin join), and
    // PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref) with ε-clamped
    // probabilities and the quantize-early log discipline. The per-type
    // window that totals the terms runs over the bounded bins domain
    // with scaled-integer sums, so the chained doubles hash-match the
    // serial oracle. Split = older/newer half by global day midpoint.
    "q184_psi_drift" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val e = raw.select(col("event_type"), col("value"),
          QueryBase.tsUs(raw).as("ts_us"))
        .withColumn("day", expr(s"ts_us div $DayUs"))
      val mm = e.agg(min("day").as("d0"), max("day").as("d1"))
      val tagged = tcache(e.crossJoin(broadcast(mm))
        .withColumn("cur", col("day") >= expr("(d0 + d1 + 1) div 2"))
        .select("event_type", "value", "cur"), "q184:tagged")
      val ref = tagged.where(!col("cur"))
      val refN = ref.groupBy("event_type").agg(count(lit(1)).as("n"))
      val rnW = Window.partitionBy("event_type").orderBy("value")
      val ranks = (1 to 9).map(k => s"(($k * n) div 10)").mkString(", ")
      val cutarr = ref.withColumn("rn", row_number().over(rnW))
        .join(broadcast(refN), "event_type")
        .where(expr(s"n >= 10 AND rn IN ($ranks)"))
        .groupBy("event_type")
        .agg(array_sort(collect_list(col("value"))).as("cs"))
      val counts = tagged.join(broadcast(cutarr), "event_type")
        .withColumn("bin", size(filter(col("cs"), x => col("value") > x)))
        .groupBy("event_type", "bin")
        .agg(sum(when(!col("cur"), 1L).otherwise(0L)).as("nref"),
          sum(when(col("cur"), 1L).otherwise(0L)).as("ncur"))
      val tots = counts.groupBy("event_type")
        .agg(sum("nref").as("tref"), sum("ncur").as("tcur"))
      val eps = lit(1e-6)
      val withP = counts.join(broadcast(tots), "event_type")
        .withColumn("pr", greatest(col("nref").cast("double") /
          col("tref").cast("double"), eps))
        .withColumn("pc", greatest(col("ncur").cast("double") /
          col("tcur").cast("double"), eps))
        .withColumn("psi_term",
          pround((col("pc") - col("pr")) * pround(log(col("pc") / col("pr")), 6), 9))
      val byType = Window.partitionBy("event_type")
      withP
        .withColumn("psi",
          sum(floor(col("psi_term") * lit(1.0e9) + lit(0.5))).over(byType) / lit(1.0e9))
        .select(col("event_type"), col("bin"), col("nref"), col("ncur"),
          pround(col("pr"), 6).as("p_ref"), pround(col("pc"), 6).as("p_cur"),
          col("psi_term"), col("psi"))
    }),

    // ARGMAX AS A COMBINABLE AGGREGATE — top-1 per group WITHOUT a
    // window or sort: max(struct(value, tiebreak, payload)) compares
    // lexicographically, merges associatively under any partitioning
    // (partial max per partition, one merge per group), and the
    // embedded (event_id) tiebreak makes ties deterministic — the
    // max_by/arg_max surface done the way it scales. A window top-1
    // sorts every partition; this is one map-side aggregation. Both
    // extremes reported per type.
    "q185_argmax_aggregate" -> ((spark, dir) => {
      val e = table(spark, dir, "events")
        .select(col("event_type"), col("value"), col("event_id"), col("user_id"))
      e.groupBy("event_type")
        .agg(max(struct(col("value"), col("event_id"), col("user_id"))).as("mx"),
          min(struct(col("value"), col("event_id"), col("user_id"))).as("mn"))
        .select(col("event_type"),
          pround(col("mx.value"), 6).as("max_value"),
          col("mx.event_id").as("max_event"), col("mx.user_id").as("max_user"),
          pround(col("mn.value"), 6).as("min_value"),
          col("mn.event_id").as("min_event"), col("mn.user_id").as("min_user"))
    }),

    // BAG-SEMANTICS SET OPS — EXCEPT ALL / INTERSECT ALL beside q25/q95's
    // distinct variants: multiset difference keeps max(cntA − cntB, 0)
    // COPIES and intersection min(cntA, cntB) — the semantics that
    // matter when comparing event VOLUMES between cohorts, where the
    // distinct forms collapse everything to membership. Spark plans both
    // as count-aggregated joins (never materializing per-copy rows
    // unexpanded? it generates rows — the aggregate after bounds the
    // output); the report collapses to per-type counts either way.
    "q187_bag_setops" -> ((spark, dir) => {
      val ev = table(spark, dir, "events")
      val a = ev.where(col("user_id") % 2 === 0).select("event_type")
      val b = ev.where(col("user_id") % 2 =!= 0).select("event_type")
      val ex = a.exceptAll(b).groupBy("event_type")
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      val in = a.intersectAll(b).groupBy("event_type")
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      ex.unionByName(in).select("op", "event_type", "n")
    }),

    // CUSTOM GROUPING SETS — the third lattice beside q54's ROLLUP
    // prefix chain and q145's CUBE power set: an explicit, non-rollup,
    // non-cube set list ((flag, status), (status), ()) — exactly the
    // subtotal combinations a report needs and nothing else, still ONE
    // shuffle (Spark expands the sets map-side like rollup/cube). The
    // IDENTICAL statement runs on both engines (the q153 discipline);
    // grouping() disambiguates subtotal NULLs from data NULLs.
    "q188_grouping_sets" -> ((spark, dir) => {
      table(spark, dir, "lineitem")
        .createOrReplaceTempView("graft_q188_lineitem")
      spark.sql(groupingSetsSql("graft_q188_lineitem"))
    }),

    // VALUE-RANGE WINDOW FRAMES — RANGE BETWEEN over the µs event-time
    // axis: each event's trailing-1-hour burst count/volume per user,
    // where every ROWS frame in the registry counts rows, this frame
    // bounds by the ORDER VALUE (ties = peers, included together). The
    // burst-rate signal rate limiters and anomaly monitors run; one
    // per-user window pass, combinable per-type report with integer
    // checksums so every frame result is hash-visible.
    "q189_range_frame" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
        .rangeBetween(-HourUs, 0L)
      raw.select(col("event_type"), col("event_id"), col("user_id"), col("value"),
          QueryBase.tsUs(raw).as("ts_us"))
        .withColumn("vq", floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
        .withColumn("n_hour", count(lit(1)).over(w))
        .withColumn("svq_hour", sum("vq").over(w))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          max("n_hour").as("max_burst"),
          sum(col("n_hour") * col("event_id")).as("burst_checksum"),
          sum("svq_hour").as("volume_checksum"))
    }),

    // BENFORD DIGIT PROFILING — the fraud/quality screen auditors run on
    // monetary columns: leading-digit histogram of l_extendedprice per
    // returnflag vs Benford's log10(1+1/d) expectation, plus the χ²
    // deviation. The digit comes from the CENTS INTEGER's decimal string
    // (integer→string is engine-portable; double formatting is not), the
    // expected probabilities are quantized ONCE in Scala and embedded as
    // literals into both engines ([[BenfordP]]), and χ² totals over the
    // bounded 9-digit domain with the q184 scaled-integer window. One
    // scan, one shuffle on (flag, digit) — a 45-row result at any scale.
    "q190_benford_profile" -> ((spark, dir) => {
      val li = table(spark, dir, "lineitem")
        .withColumn("vq", floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long"))
        .withColumn("d", substring(col("vq").cast("string"), 1, 1).cast("int"))
      val counts = li.groupBy(col("l_returnflag"), col("d"))
        .agg(count(lit(1)).as("n"))
      val tot = Window.partitionBy("l_returnflag")
      val pExp = element_at(array(BenfordP.map(lit): _*), col("d"))
      counts
        .withColumn("nn", sum("n").over(tot))
        .withColumn("exp_n", col("nn").cast("double") * pExp)
        .withColumn("chi2_term",
          pround((col("n").cast("double") - col("exp_n")) *
            (col("n").cast("double") - col("exp_n")) / col("exp_n"), 6))
        .withColumn("chi2",
          sum(floor(col("chi2_term") * lit(1.0e6) + lit(0.5))).over(tot) / lit(1.0e6))
        .select(col("l_returnflag"), col("d"), col("n"),
          pround(col("n").cast("double") / col("nn").cast("double"), 6).as("p_obs"),
          pround(pExp, 9).as("p_benford"), col("chi2_term"), col("chi2"))
    }),

    // GINI CONCENTRATION — revenue-inequality per market segment, the
    // concentration metric data governance tracks (is one customer 90% of
    // the volume?). Exact rank formula G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx)
    // over cents-integer revenues with a (rev, custkey) total order, so
    // every term is BIGINT-exact until one final double division. One
    // fact aggregation (orders→customer revenue), a broadcast dim join
    // for the segment, one per-segment sort — the same shape at 100 TB
    // because the ranked set is ONE ROW PER CUSTOMER, not per order.
    "q191_gini_concentration" -> ((spark, dir) => {
      val rev = table(spark, dir, "orders")
        .withColumn("cents", floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long"))
        .groupBy("o_custkey").agg(sum("cents").as("rev"))
      val cust = table(spark, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"))
      val ranked = rev.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .withColumn("i", row_number().over(
          Window.partitionBy("c_mktsegment").orderBy(col("rev"), col("o_custkey"))))
      ranked.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum("rev").as("total_rev"),
          sum(col("i") * col("rev")).as("iwsum"))
        .select(col("c_mktsegment"), col("n"), col("total_rev"),
          pround((lit(2L) * col("iwsum") - (col("n") + lit(1L)) * col("total_rev"))
            .cast("double") /
            (col("n") * col("total_rev")).cast("double"), 9).as("gini"))
    }),

    // TRUNCATED-EWMA SMOOTHING — the per-key exponentially-weighted
    // moving average monitoring pipelines chart, truncated at lag 7 so it
    // is ONE window pass of bounded lags instead of an unbounded
    // recurrence (the tail weight below 0.4% — and a recurrence is not
    // parallelizable; this is). Weights α(1−α)^k (α=0.5) are quantized to
    // integer millionths ONCE in Scala ([[EwmaWq]]) and every per-row
    // term is a BIGINT product, so the weighted mean is exact until one
    // final division. Per-type combinable report keeps output bounded.
    "q192_ewma_smoothing" -> ((spark, dir) =>
      ewmaEvents(spark, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), xsum(col("ewma"), 6).as("sum_ewma"),
          max("ewma").as("max_ewma"))),

    // TWO-PROPORTION A/B Z-TEST — the experiment readout every product
    // pipeline computes: split users by id parity, conversion = value
    // above [[AbConvThreshold]], pooled z = (p₁−p₂)/√(p̂(1−p̂)(1/n₁+1/n₂)).
    // Counts are exact integers from ONE conditional-aggregation scan (no
    // per-cohort subqueries), √ is IEEE-correctly-rounded (portable,
    // unlike ln/exp), and every double stage is pround'd in the same
    // order on both engines. 5 rows out at any scale.
    "q193_ab_ztest" -> ((spark, dir) => {
      val conv = (col("value") > lit(AbConvThreshold)).cast("long")
      val a = (col("user_id") % 2 === 0).cast("long")
      table(spark, dir, "events")
        .groupBy("event_type")
        .agg(sum(a).as("n1"), sum(a * conv).as("c1"),
          sum(lit(1L) - a).as("n2"), sum((lit(1L) - a) * conv).as("c2"))
        .withColumn("p1", pround(col("c1").cast("double") / col("n1").cast("double"), 9))
        .withColumn("p2", pround(col("c2").cast("double") / col("n2").cast("double"), 9))
        .withColumn("p", pround((col("c1") + col("c2")).cast("double") /
          (col("n1") + col("n2")).cast("double"), 9))
        .withColumn("se", sqrt(pround(col("p") * (lit(1.0) - col("p")) *
          (lit(1.0) / col("n1").cast("double") + lit(1.0) / col("n2").cast("double")), 12)))
        .select(col("event_type"), col("n1"), col("c1"), col("n2"), col("c2"),
          col("p1"), col("p2"),
          pround((col("p1") - col("p2")) / nullif(col("se"), lit(0.0)), 6).as("z"))
    }),

    // MUTUAL INFORMATION PROFILE — the feature-relevance screen beside
    // q170's per-column profile: MI between event_type and a bounded
    // value bucket, I = Σ p(x,y)·ln(p(x,y)/(p(x)·p(y))). ONE combinable
    // (type, bucket) count is the only data-sized work; marginals and the
    // total come from broadcast re-aggregations of that ≤|types|·|bins|
    // frame, logs are quantize-early (the q50/q184 discipline), and the
    // MI total is a scaled-integer window over the bounded cell domain.
    "q195_mutual_information" -> ((spark, dir) => {
      val c = table(spark, dir, "events")
        .withColumn("bucket", least(floor(col("value") / lit(50.0)), lit(9.0)).cast("int"))
        .groupBy("event_type", "bucket").agg(count(lit(1)).as("n_xy"))
      val nx = c.groupBy("event_type").agg(sum("n_xy").as("n_x"))
      val ny = c.groupBy("bucket").agg(sum("n_xy").as("n_y"))
      val tot = c.agg(sum("n_xy").as("nn"))
      c.join(broadcast(nx), "event_type").join(broadcast(ny), "bucket")
        .crossJoin(broadcast(tot))
        .withColumn("p_xy", pround(col("n_xy").cast("double") / col("nn").cast("double"), 9))
        .withColumn("p_x", pround(col("n_x").cast("double") / col("nn").cast("double"), 9))
        .withColumn("p_y", pround(col("n_y").cast("double") / col("nn").cast("double"), 9))
        .withColumn("mi_term",
          pround(col("p_xy") * pround(log(col("p_xy") / (col("p_x") * col("p_y"))), 6), 9))
        .withColumn("mi",
          sum(floor(col("mi_term") * lit(1.0e9) + lit(0.5)))
            .over(Window.partitionBy(lit(1))) / lit(1.0e9))
        .select(col("event_type"), col("bucket"), col("n_xy"), col("mi_term"), col("mi"))
    }),

    // LARGE-VOLUME CUSTOMERS — the TPC-H Q18 shape: orders whose total
    // quantity clears a threshold, joined back to customer detail. The
    // HAVING set is tiny (≈1% of orders), so after the one fact
    // aggregation (map-side combinable, keyed on the order key lineitem
    // already groups by) everything downstream is selective: the orders
    // join shuffles only the surviving keys and the customer dim
    // broadcasts. Quantities aggregate as cents integers (exact under
    // any partitioning); the date reports as epoch-µs per the µs
    // discipline.
    "q196_volume_customers" -> ((spark, dir) => {
      val big = table(spark, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(floor(col("l_quantity") * lit(100.0) + lit(0.5)).cast("long")).as("qsum"))
        .where(col("qsum") > lit(VolumeQtyHundredths))
      val o = table(spark, dir, "orders")
      val od = o.select(col("o_orderkey"), col("o_custkey"),
        QueryBase.tsUs(o, "o_orderdate").as("orderdate_us"))
      val cust = table(spark, dir, "customer").select(col("c_custkey"), col("c_name"))
      big.join(od, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("orderdate_us"),
          (col("qsum").cast("double") / lit(100.0)).as("sum_qty"))
    }),

    // DECILE LIFT/GAINS TABLE — the model-evaluation readout for a
    // targeting score: users ranked by total spend, split into NTILE
    // deciles, per-decile conversion (any purchase) and CUMULATIVE lift
    // vs the base rate. The only data-sized work is one per-user
    // aggregation — and the USER-sized ranked frame no longer rides a
    // single-task ntile window: the global rank is the bucket-stitched
    // QueryBase.stitchedRowNumber (per-spend-range windows + driver
    // offsets) and the decile is the exact ntile arithmetic from that
    // rank (QueryBase.ntileOf) — bit-identical to the former
    // ntile().over(), survives any user count. Every rate divides exact
    // integers under the same pround order on both engines.
    "q197_decile_lift" -> ((spark, dir) => {
      val u = table(spark, dir, "events")
        .groupBy("user_id")
        .agg(sum(floor(col("value") * lit(100.0) + lit(0.5)).cast("long")).as("spend"),
          max(when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L))).as("conv"))
      val (ranked, nUsers) = QueryBase.stitchedRowNumber(
        u, -col("spend"), col("user_id"), 4096L, "q197:rank", "rn")
      val d = ranked.withColumn("decile", QueryBase.ntileOf("rn", nUsers, 10))
      val g = d.groupBy("decile")
        .agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
      val wcum = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, 0)
      val tot = g.agg(sum("n_users").as("tu"), sum("n_conv").as("tc"))
      g.withColumn("cum_users", sum("n_users").over(wcum))
        .withColumn("cum_conv", sum("n_conv").over(wcum))
        .crossJoin(broadcast(tot))
        .select(col("decile"), col("n_users"), col("n_conv"),
          pround(col("n_conv").cast("double") / col("n_users").cast("double"), 9).as("conv_rate"),
          pround(
            pround(col("cum_conv").cast("double") / col("cum_users").cast("double"), 9) /
              pround(col("tc").cast("double") / col("tu").cast("double"), 9), 6).as("cum_lift"))
    }),

    // TIME-TO-CONVERT QUANTILES — the funnel-latency metric beside q156's
    // conversion counts: per user, first view → first purchase gap in µs,
    // then the exact median and p90 by the q72 rank arithmetic (value at
    // rank floor(q·(n−1))+1 under the unique (gap, user) order). The gap
    // frame is CONVERTED-USER-sized and its rank is bucket-stitched
    // (QueryBase.stitchedRowNumber) — no single-task window even when
    // the converted set itself is corpus-proportional.
    "q198_time_to_convert" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val u = raw.select(col("user_id"), col("event_type"),
          QueryBase.tsUs(raw).as("ts_us"))
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "view", col("ts_us"))).as("tv"),
          min(when(col("event_type") === "purchase", col("ts_us"))).as("tp"))
      val gaps = u.where(col("tv").isNotNull && col("tp").isNotNull &&
          col("tp") >= col("tv"))
        .select(col("user_id"), (col("tp") - col("tv")).as("gap_us"))
      // bucket-stitched global rank (hour-wide gap buckets) instead of a
      // single-task row_number + count-over-constant window — the
      // converted-user frame is reduced but still corpus-proportional
      val (ranked, nConv) = QueryBase.stitchedRowNumber(
        gaps, col("gap_us"), col("user_id"), 3600000000L, "q198:rank", "rn")
      ranked.select(
          explode(filter(array(Seq(0.5, 0.9).map(lit): _*),
            q => col("rn") === floor(q * (lit(nConv) - lit(1L))) + lit(1))).as("q"),
          col("gap_us"), lit(nConv).as("n_converted"))
    }),

    // INTERVAL MAX-CONCURRENCY — the overlap sweep: each event opens a
    // 30-minute interval; max concurrent intervals per user = the peak of
    // a ±1 running sum over the per-user (t, delta, id) order (ends sort
    // before starts at the same instant — half-open semantics, touching
    // intervals never overlap). The classic O(n²) interval self-join
    // becomes ONE per-user window pass over 2n boundary points; the
    // report histograms per-user peaks, so output is bounded by the max
    // concurrency, not the stream.
    "q201_max_concurrency" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val e = raw.select(col("user_id"), col("event_id"),
        QueryBase.tsUs(raw).as("t0"))
      val pts = e.select(col("user_id"), col("t0").as("t"),
          lit(1L).as("d"), col("event_id"))
        .unionByName(e.select(col("user_id"),
          (col("t0") + lit(ConcDurUs)).as("t"), lit(-1L).as("d"), col("event_id")))
      val w = Window.partitionBy("user_id")
        .orderBy(col("t"), col("d"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      pts.withColumn("c", sum("d").over(w))
        .groupBy("user_id").agg(max("c").as("max_conc"))
        .groupBy("max_conc").agg(count(lit(1)).as("n_users"))
    }),

    // SESSION CUMULATIVE VALUE — the running-total-with-reset window
    // composition: q27's gap sessionization assigns session ids, then a
    // second per-(user, session) running frame accumulates the quantized
    // value — the "basket so far" signal, where a plain per-user cumsum
    // never resets. Both window passes ride ONE (user_id) shuffle (same
    // partitioning, Spark reuses the exchange); per-session peaks are
    // BIGINT-exact; output is SESSION-sized.
    "q213_session_cumsum" -> ((spark, dir) => {
      val byU = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val raw = table(spark, dir, "events")
      val sess = raw
        .select(col("user_id"), QueryBase.tsUs(raw).as("ts_us"),
          col("event_id"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("vq"))
        .withColumn("prev_us", lag("ts_us", 1).over(byU))
        .withColumn("is_new",
          when(col("prev_us").isNull || col("ts_us") - col("prev_us") > SessionGapUs, 1)
            .otherwise(0))
        .withColumn("session_id",
          sum("is_new").over(byU.rowsBetween(Window.unboundedPreceding, 0)))
      val byS = Window.partitionBy("user_id", "session_id")
        .orderBy("ts_us", "event_id").rowsBetween(Window.unboundedPreceding, 0)
      sess.withColumn("cum_vq", sum("vq").over(byS))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          (max("cum_vq").cast("double") / lit(100.0)).as("peak_value"),
          (sum("vq").cast("double") / lit(100.0)).as("total_value"),
          sum(col("cum_vq") * col("event_id")).as("cum_checksum"))
    }),

    // VALUE WINDOW SUITE — first_value / last_value / nth_value over the
    // full per-user partition (frame = whole partition, so every row of a
    // user agrees), completing the window-function surface beside q152's
    // rank suite, the lag/lead passes and q189's range frames. One
    // user-keyed window; per-type integer checksums make every assignment
    // hash-visible.
    "q229_window_value_suite" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      raw.select(col("event_type"), col("event_id"), col("user_id"),
          QueryBase.tsUs(raw).as("ts_us"))
        .withColumn("first_ev", first("event_id").over(w))
        .withColumn("last_ev", last("event_id").over(w))
        .withColumn("third_ev", nth_value(col("event_id"), 3).over(w))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("first_ev") * col("event_id")).as("first_checksum"),
          sum(col("last_ev") * col("event_id")).as("last_checksum"),
          sum(when(col("third_ev").isNotNull, col("third_ev")).otherwise(0L) *
            col("event_id")).as("third_checksum"))
    }),

    // DROPOUT DETECTION — events after which the same user goes silent
    // for over an hour (or forever): ONE lead() pass per user, the
    // inverse of q189's trailing burst frame — churn/timeout points. The
    // per-type report counts dropouts and terminal events and checksums
    // the exact dropout set.
    "q230_dropout_points" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      raw.select(col("event_type"), col("event_id"), col("user_id"),
          QueryBase.tsUs(raw).as("ts_us"))
        .withColumn("next_us", lead("ts_us", 1).over(w))
        .withColumn("dropout",
          col("next_us").isNull || col("next_us") - col("ts_us") > HourUs)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("dropout"), 1L).otherwise(0L)).as("n_dropouts"),
          sum(when(col("next_us").isNull, 1L).otherwise(0L)).as("n_terminal"),
          sum(when(col("dropout"), col("event_id")).otherwise(0L)).as("dropout_checksum"))
    }),

    // EXACT MODE — the most frequent value bucket per type as a
    // combinable two-level aggregation + q185's argmax struct (count
    // DESC via negation, bucket tiebreak): no window over data-sized
    // partitions, the "mode" aggregate engines special-case, built from
    // primitives that merge under any partitioning.
    "q231_mode_per_group" -> ((spark, dir) => {
      val e = table(spark, dir, "events")
        .withColumn("bucket", floor(col("value") / lit(10.0)).cast("long"))
      e.groupBy("event_type", "bucket").agg(count(lit(1)).as("n"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_buckets"),
          max(struct(col("n"), (-col("bucket")).as("nb"))).as("b"))
        .select(col("event_type"), col("n_buckets"),
          (-col("b.nb")).as("mode_bucket"), col("b.n").as("mode_n"))
    }),

    // MIN-COST SUPPLIER — the TPC-H Q2 shape without a partsupp table:
    // for each size-10 part, the supplier offering the lowest observed
    // price. The per-(part, supplier) min is a combinable aggregate over
    // the fact; the per-part argmin is q185's min(struct(cost, suppkey))
    // — no window, merges under any partitioning; part and supplier are
    // broadcast dims. Cents-integer prices keep every comparison exact.
    "q225_min_cost_supplier" -> ((spark, dir) => {
      val parts = table(spark, dir, "part")
        .where(col("p_size") === 10).select(col("p_partkey"), col("p_name"))
      val cost = table(spark, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .groupBy("p_partkey", "p_name", "l_suppkey")
        .agg(min("cents").as("min_cents"))
      val best = cost.groupBy("p_partkey", "p_name")
        .agg(min(struct(col("min_cents"), col("l_suppkey"))).as("b"))
      val supp = table(spark, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      best.join(broadcast(supp), col("b.l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("p_name"), col("s_name"),
          (col("b.min_cents").cast("double") / lit(100.0)).as("min_price"))
    }),

    // TRADE MATRIX — the TPC-H Q7 shape: revenue by (customer nation ×
    // supplier nation). One fact-fact shuffle on the order key joins
    // lineitem to orders; customer, supplier and both nation legs
    // broadcast; revenue quantizes extprice·(1−discount) to cents
    // per row before the order-independent sum. A |nations|² matrix out
    // at any scale.
    "q226_trade_matrix" -> ((spark, dir) => {
      val li = table(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            lit(100.0) + lit(0.5)).cast("long").as("cents"))
      val o = table(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val cust = table(spark, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val supp = table(spark, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val nat = table(spark, dir, "nation").select(col("n_nationkey"), col("n_name"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat.select(col("n_nationkey").as("cnk"),
          col("n_name").as("cust_nation"))), col("c_nationkey") === col("cnk"))
        .join(broadcast(nat.select(col("n_nationkey").as("snk"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("snk"))
        .groupBy("cust_nation", "supp_nation")
        .agg(count(lit(1)).as("n_items"),
          (sum("cents").cast("double") / lit(100.0)).as("revenue"))
    }),

    // ERROR-RATE SLO — the per-day reliability readout: error share of
    // each day's events with a breach flag against the [[SloThreshold]]
    // budget, plus the running breach count — one combinable (day)
    // aggregation, a bounded-domain running window, exact integer ratios.
    "q220_error_rate_slo" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val daily = raw.select(QueryBase.tsUs(raw).as("ts_us"), col("event_type"))
        .withColumn("day", expr(s"ts_us div $DayUs"))
        .groupBy("day")
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"))
        .withColumn("err_rate",
          pround(col("n_err").cast("double") / col("n").cast("double"), 9))
        .withColumn("breach", col("err_rate") > lit(SloThreshold))
      val wrun = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      daily.withColumn("breaches_so_far",
        sum(when(col("breach"), 1L).otherwise(0L)).over(wrun))
    }),

    // SHIPPING-DELAY QUANTILES — the fulfilment-latency readout over a
    // fact-fact temporal join: per order priority, exact median/p90 of
    // the lineitem ship − order µs gap (BIGINT-exact — no day floor,
    // whose negative-value semantics differ between engines) by the q72
    // rank arithmetic, plus the exact integer mean. One join shuffled on
    // the order key both sides, one per-priority window.
    "q221_shipping_delay" -> ((spark, dir) => {
      val li = table(spark, dir, "lineitem")
      val o = table(spark, dir, "orders")
      val j = li.select(col("l_orderkey"), col("l_linenumber"),
          QueryBase.tsUs(li, "l_shipdate").as("ship_us"))
        .join(o.select(col("o_orderkey"), col("o_custkey"),
          QueryBase.tsUs(o, "o_orderdate").as("order_us"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"), col("l_orderkey"), col("l_linenumber"),
          (col("ship_us") - col("order_us")).as("gap_us"))
      val byP = Window.partitionBy("o_orderpriority")
      val rnW = byP.orderBy(col("gap_us"), col("l_orderkey"), col("l_linenumber"))
      j.withColumn("rn", row_number().over(rnW))
        .withColumn("n", count(lit(1)).over(byP))
        .withColumn("mean_gap_us",
          (sum("gap_us").over(byP).cast("double") / col("n").cast("double")))
        .select(col("o_orderpriority"),
          explode(filter(array(Seq(0.5, 0.9).map(lit): _*),
            q => col("rn") === floor(q * (col("n") - 1)) + lit(1))).as("q"),
          col("gap_us"), col("n"), pround(col("mean_gap_us"), 6).as("mean_gap_us"))
    }),

    // REORDER INTERVALS — customer-lifecycle cadence: per market segment,
    // the exact median gap between a customer's consecutive orders. One
    // lag() pass over (custkey, date, key) order, a broadcast dim join
    // for the segment, rank-arithmetic median over the CUSTOMER-sized gap
    // frame.
    "q222_reorder_interval" -> ((spark, dir) => {
      val o = table(spark, dir, "orders")
      val byC = Window.partitionBy("o_custkey")
        .orderBy(col("order_us"), col("o_orderkey"))
      val gaps = o.select(col("o_orderkey"), col("o_custkey"),
          QueryBase.tsUs(o, "o_orderdate").as("order_us"))
        .withColumn("prev_us", lag("order_us", 1).over(byC))
        .where(col("prev_us").isNotNull)
        .withColumn("gap_us", col("order_us") - col("prev_us"))
      val cust = table(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val g = gaps.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      val byS = Window.partitionBy("c_mktsegment")
      val rnW = byS.orderBy(col("gap_us"), col("o_orderkey"))
      g.withColumn("rn", row_number().over(rnW))
        .withColumn("n", count(lit(1)).over(byS))
        .where(col("rn") === floor(lit(0.5) * (col("n") - 1)) + lit(1))
        .select(col("c_mktsegment"), col("n").as("n_gaps"),
          col("gap_us").as("median_gap_us"))
    }),

    // PERCENTILE-RANK PROBE — the inverse of the quantile queries
    // (q72 asks "what value sits at p", this asks "what fraction sits
    // below v" for fixed reference values): exact integer counts from one
    // conditional-aggregation scan, map-side combinable, |types|×|probes|
    // rows out. The calibration readout monitoring thresholds are tuned
    // against.
    "q218_percentile_probe" -> ((spark, dir) => {
      val probes = Seq(50.0, 100.0, 250.0)
      table(spark, dir, "events")
        .select(col("event_type"), col("value"),
          explode(array(probes.map(lit): _*)).as("probe"))
        .groupBy("event_type", "probe")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") < col("probe"), 1L).otherwise(0L)).as("n_lt"),
          sum(when(col("value") <= col("probe"), 1L).otherwise(0L)).as("n_le"))
        .withColumn("pct_lt",
          pround(col("n_lt").cast("double") / col("n").cast("double"), 9))
        .withColumn("pct_le",
          pround(col("n_le").cast("double") / col("n").cast("double"), 9))
    }),

    // Z-SCORE OUTLIERS — the event-level anomaly gate beside q207's daily
    // bursts: per-type μ/σ from BIGINT-exact quantized-value moments (one
    // combinable scan), every event's z-score against them, |z| > 3
    // flagged. The moments frame is |types|-sized and broadcasts back, so
    // the whole op is two scans and zero data-sized shuffles; the
    // per-type report carries exact flag counts and the max |z|.
    "q219_zscore_outliers" -> ((spark, dir) => {
      val e = table(spark, dir, "events")
        .select(col("event_type"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("vq"))
      val mom = e.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vq").as("sv"),
          sum(col("vq") * col("vq")).as("svv"))
        .withColumn("mu", pround(col("sv").cast("double") /
          (col("n").cast("double") * lit(100.0)), 9))
        // clamp at zero: a (near-)constant stratum can leave the rounded
        // variance a hair negative; sqrt(NaN) would poison everything after
        .withColumn("sigma", sqrt(greatest(pround(
          col("svv").cast("double") / (col("n").cast("double") * lit(10000.0)) -
            col("mu") * col("mu"), 9), lit(0.0))))
      e.join(broadcast(mom.select("event_type", "mu", "sigma")), "event_type")
        .withColumn("z", pround((col("vq").cast("double") / lit(100.0) - col("mu")) /
          col("sigma"), 6))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(abs(col("z")) > 3.0, 1L).otherwise(0L)).as("n_outliers"),
          max(abs(col("z"))).as("max_abs_z"))
    }),

    // RFM SEGMENTATION — the marketing-analytics classic: per customer,
    // Recency (latest order, epoch-µs), Frequency (order count), Monetary
    // (cents-integer total); each dimension quartiled by NTILE under a
    // deterministic (metric DESC, custkey) order so quartile 1 is always
    // the best; the report histograms the 4³ segment lattice. One
    // customer-sized aggregation is the data-sized work — the three
    // ranking passes ride the bucket-stitched rank (no single-task
    // window at any customer count), and the segment report is ≤64
    // rows at any scale.
    "q202_rfm_segments" -> ((spark, dir) => {
      val o = table(spark, dir, "orders")
      val cust = o.select(col("o_custkey"),
          QueryBase.tsUs(o, "o_orderdate").as("od_us"),
          floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
        .groupBy("o_custkey")
        .agg(max("od_us").as("recency"), count(lit(1)).as("frequency"),
          sum("cents").as("monetary"))
      // three bucket-stitched global ranks instead of three single-task
      // ntile windows (QueryBase.stitchedRowNumber — bit-identical, scale
      // path per axis): recency keys are µs, so its stitch buckets by
      // day; frequency/monetary by 4096-wide value ranges
      val cc = tcache(cust, "q202:cust")
      val (rr, nCust) = QueryBase.stitchedRowNumber(
        cc, -col("recency"), col("o_custkey"), DayUs, "q202:r", "rn_r")
      val (rf, _) = QueryBase.stitchedRowNumber(
        rr, -col("frequency"), col("o_custkey"), 4096L, "q202:f", "rn_f")
      val (rm, _) = QueryBase.stitchedRowNumber(
        rf, -col("monetary"), col("o_custkey"), 4096L, "q202:m", "rn_m")
      val scored = rm
        .withColumn("r_q", QueryBase.ntileOf("rn_r", nCust, 4))
        .withColumn("f_q", QueryBase.ntileOf("rn_f", nCust, 4))
        .withColumn("m_q", QueryBase.ntileOf("rn_m", nCust, 4))
      scored.groupBy("r_q", "f_q", "m_q")
        .agg(count(lit(1)).as("n_customers"), sum("monetary").as("seg_cents"))
        .withColumn("avg_monetary",
          pround(col("seg_cents").cast("double") /
            (col("n_customers").cast("double") * lit(100.0)), 6))
    }),

    // CUSUM CHANGEPOINT — the classic level-shift detector over the daily
    // mean series per type: cusum_t = Σ_{d≤t} (mean_d − grand_mean), the
    // day of max |cusum| is the changepoint candidate. ONE combinable
    // (type, day) aggregation is the data-sized work; means divide exact
    // integers, the running sum is the q184 scaled-integer window over
    // the bounded type×day domain, and the peak flag rides a second
    // bounded window — every row of the ≤|types|·|days| report is
    // hash-visible.
    "q204_cusum_changepoint" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val daily = raw.select(col("event_type"), QueryBase.tsUs(raw).as("ts_us"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("vq"))
        .withColumn("day", expr(s"ts_us div $DayUs"))
        .groupBy("event_type", "day")
        .agg(sum("vq").as("sv"), count(lit(1)).as("n"))
      val tot = daily.groupBy("event_type")
        .agg(sum("sv").as("tsv"), sum("n").as("tn"))
      val wrun = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      val byType = Window.partitionBy("event_type")
      daily.join(broadcast(tot), "event_type")
        .withColumn("mean_d", pround(col("sv").cast("double") /
          (col("n").cast("double") * lit(100.0)), 6))
        .withColumn("gmean", pround(col("tsv").cast("double") /
          (col("tn").cast("double") * lit(100.0)), 6))
        .withColumn("dev", col("mean_d") - col("gmean"))
        .withColumn("cusum",
          sum(floor(col("dev") * lit(1.0e6) + lit(0.5))).over(wrun) / lit(1.0e6))
        .withColumn("is_peak", abs(col("cusum")) === max(abs(col("cusum"))).over(byType))
        .select(col("event_type"), col("day"), col("n"), col("mean_d"),
          col("dev"), col("cusum"), col("is_peak"))
    }),

    // DAILY AUTOCORRELATION — lag-1 serial correlation of the per-type
    // daily mean series, the rhythm/trend diagnostic beside q203's weekly
    // profile: consecutive-day (x, y) pairs from one lag() over the
    // bounded type×day domain, Pearson r from BIGINT-exact moments of the
    // quantized means (the q160 exact-parallel-corr discipline — no
    // engine-native corr(), whose double-sum order is nondeterministic).
    "q205_daily_autocorr" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val daily = raw.select(col("event_type"), QueryBase.tsUs(raw).as("ts_us"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("vq"))
        .withColumn("day", expr(s"ts_us div $DayUs"))
        .groupBy("event_type", "day")
        .agg(sum("vq").as("sv"), count(lit(1)).as("n"))
        .withColumn("qm", floor((col("sv").cast("double") / col("n").cast("double")) *
          lit(100.0) + lit(0.5)).cast("long"))
      val wday = Window.partitionBy("event_type").orderBy("day")
      val pairs = daily.withColumn("qx", lag("qm", 1).over(wday))
        .where(col("qx").isNotNull)
        .withColumn("qy", col("qm"))
      pairs.groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          sum("qx").as("sx"), sum("qy").as("sy"),
          sum(col("qx") * col("qy")).as("sxy"),
          sum(col("qx") * col("qx")).as("sxx"),
          sum(col("qy") * col("qy")).as("syy"))
        .withColumn("r", pround(
          (col("n_pairs") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((col("n_pairs") * col("syy") - col("sy") * col("sy")).cast("double"))), 6))
        .select("event_type", "n_pairs", "r")
    }),

    // BURST-DAY DETECTION — days whose event count clears mean + 2·σ of
    // the per-type daily series (σ population, from BIGINT-exact count
    // moments — the monitoring alarm q189's hourly frames feed): one
    // combinable daily count, moments re-aggregated from the bounded
    // type×day frame, the threshold comparison between identically
    // derived doubles on both engines. Every day row reports, flagged.
    "q207_burst_days" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val daily = raw.select(col("event_type"), QueryBase.tsUs(raw).as("ts_us"))
        .withColumn("day", expr(s"ts_us div $DayUs"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"))
      val mom = daily.groupBy("event_type")
        .agg(count(lit(1)).as("nd"), sum("n").as("sn"),
          sum(col("n") * col("n")).as("snn"))
        .withColumn("mu", pround(col("sn").cast("double") / col("nd").cast("double"), 9))
        .withColumn("sigma", sqrt(greatest(pround(
          col("snn").cast("double") / col("nd").cast("double") -
            col("mu") * col("mu"), 9), lit(0.0))))
      daily.join(broadcast(mom.select("event_type", "nd", "mu", "sigma")), "event_type")
        .withColumn("is_burst",
          col("n").cast("double") > col("mu") + lit(2.0) * col("sigma"))
        .select(col("event_type"), col("day"), col("n"), col("mu"),
          pround(col("sigma"), 6).as("sigma"), col("is_burst"))
    }),

    // DAILY MIX ENTROPY — the diversity-drift monitor: Shannon entropy of
    // each day's event-type distribution, H_d = −Σ p·ln(p) over the
    // bounded |types| support, beside the day's global-mix KL divergence
    // D(day‖global) = Σ p·ln(p/q) — the categorical sibling of q184's
    // decile PSI (a collapsing mix shows as falling H and rising KL). One
    // combinable (day, type) count is the data-sized work; probabilities
    // divide exact integers, logs are quantize-early, and both totals are
    // scaled-integer windows over the bounded day×type domain.
    "q208_mix_entropy_kl" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val c = raw.select(col("event_type"), QueryBase.tsUs(raw).as("ts_us"))
        .withColumn("day", expr(s"ts_us div $DayUs"))
        .groupBy("day", "event_type").agg(count(lit(1)).as("n"))
      val dtot = c.groupBy("day").agg(sum("n").as("dn"))
      val gtot = c.groupBy("event_type").agg(sum("n").as("gn"))
      val all = c.agg(sum("n").as("nn"))
      val byDay = Window.partitionBy("day")
      c.join(broadcast(dtot), "day")
        .join(broadcast(gtot), "event_type")
        .crossJoin(broadcast(all))
        .withColumn("p", pround(col("n").cast("double") / col("dn").cast("double"), 9))
        .withColumn("q", pround(col("gn").cast("double") / col("nn").cast("double"), 9))
        .withColumn("h_term", pround(-col("p") * pround(log(col("p")), 6), 9))
        .withColumn("kl_term", pround(col("p") * pround(log(col("p") / col("q")), 6), 9))
        .withColumn("entropy",
          sum(floor(col("h_term") * lit(1.0e9) + lit(0.5))).over(byDay) / lit(1.0e9))
        .withColumn("kl",
          sum(floor(col("kl_term") * lit(1.0e9) + lit(0.5))).over(byDay) / lit(1.0e9))
        .select(col("day"), col("event_type"), col("n"), col("p"),
          col("h_term"), col("kl_term"), col("entropy"), col("kl"))
    }),

    // TPC-H Q6 REVENUE EFFECT — the pure-scan what-if: revenue that would
    // change if mid-band discounts were dropped (discount ∈ [0.05, 0.07],
    // quantity < 24). No join, no window — ONE map-side-combinable
    // aggregation whose filter and 2-column projection reach the parquet
    // scan (PushedFilters + pruned ReadSchema); per-row revenue terms
    // quantize the price·discount product to integer 1e-4ths before the
    // order-independent sum. The simplest query in the inventory and the
    // purest scan-throughput measurement.
    "q211_q6_revenue_effect" -> ((spark, dir) =>
      table(spark, dir, "lineitem")
        .where(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .select((floor(col("l_extendedprice") * col("l_discount") * lit(10000.0) +
          lit(0.5)) / lit(10000.0)).as("term"))
        .agg(count(lit(1)).as("n"), xsum(col("term"), 4).as("revenue_effect"))),

    // DAY-OF-WEEK SEASONALITY — the weekly-cycle profile dashboards chart:
    // dow from pure epoch-day integer arithmetic ((day+3) mod 7, 0=Monday
    // — no calendar functions, whose week conventions differ between
    // engines), one combinable (type, dow) aggregation with
    // scaled-integer value sums. Scan-shaped; 35 rows out at any scale.
    "q203_dow_profile" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      raw.select(col("event_type"), col("value"), QueryBase.tsUs(raw).as("ts_us"))
        .withColumn("dow", expr(s"((ts_us div $DayUs) + 3) % 7"))
        .groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n"), xsum(col("value"), 6).as("sum_value"))
        .withColumn("avg_value",
          pround(col("sum_value") / col("n").cast("double"), 6))
    }),

    // TPC-H Q9 SHAPE — product-type profit by supplier nation and order
    // year (this schema has no partsupp, so cost is the part's retail
    // price × quantity — the same two-term profit arithmetic). Both
    // terms quantize to integer cents PER ROW before the
    // order-independent sum, so profit = Σ(rev_cents − cost_cents) is
    // exact; lineitem⋈orders is the one shuffle, part and
    // supplier⋈nation broadcast. |nations|×|years| rows out.
    "q253_q9_product_profit" -> ((spark, dir) => {
      val o = table(spark, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year"))
      val li = table(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            lit(100.0) + lit(0.5)).cast("long").as("rev_cents"),
          col("l_quantity"))
      val part = table(spark, dir, "part")
        .where(col("p_type") === "ECONOMY")
        .select(col("p_partkey"), col("p_retailprice"))
      val supp = table(spark, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val nat = table(spark, dir, "nation").select(col("n_nationkey"), col("n_name"))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .withColumn("cost_cents",
          floor(col("p_retailprice") * col("l_quantity") * lit(100.0) + lit(0.5))
            .cast("long"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), col("o_year"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("rev_cents") - col("cost_cents")).as("profit_cents"))
        .select(col("nation"), col("o_year"), col("n_items"),
          (col("profit_cents").cast("double") / lit(100.0)).as("profit"))
    }),

    // EXACT WEIGHTED MEDIAN — the robust-stats aggregate a plain median
    // ignores weights for: per return flag, the smallest price whose
    // cumulative QUANTITY weight reaches half the total. Entirely
    // integer (cents × quantity-hundredths) under a unique
    // (cents, orderkey, linenumber) total order, so the running-sum
    // window and the 2·cum ≥ tot threshold are bit-portable; the
    // qualifying-row pick is a combinable min. One per-flag window pass
    // over the fact — the same shape as q72's rank quantiles.
    "q249_weighted_median" -> ((spark, dir) => {
      val li = table(spark, dir, "lineitem")
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long").as("cents"),
          floor(col("l_quantity") * lit(100.0) + lit(0.5)).cast("long").as("qh"),
          col("l_orderkey"), col("l_linenumber"))
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("cents"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val tw = Window.partitionBy("l_returnflag")
      li.withColumn("cum", sum("qh").over(w))
        .withColumn("tot", sum("qh").over(tw))
        .groupBy("l_returnflag")
        .agg(min("tot").as("total_qh"),
          min(when(lit(2L) * col("cum") >= col("tot"), col("cents"))).as("med_cents"))
        .select(col("l_returnflag"), col("total_qh"),
          (col("med_cents").cast("double") / lit(100.0)).as("weighted_median_price"))
    }),

    // WINSORIZED MEAN — the outlier treatment that CLAMPS instead of
    // dropping: per event type, values clip to the exact [p05, p95]
    // rank-picked cutpoints (the q72 floor(q·(n−1))+1 convention under
    // the unique (value, event_id) order), then one combinable
    // scaled-integer mean over the clamped values beside the raw mean.
    // The 10-row cutpoint frame broadcasts back onto the scan — the
    // clamp pass is map-side at any scale.
    "q250_winsorized_mean" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val byType = Window.partitionBy("event_type")
      val ranked = raw.select(col("event_type"), col("value"), col("event_id"))
        .withColumn("rn", row_number().over(byType.orderBy(col("value"), col("event_id"))))
        .withColumn("n", count(lit(1)).over(byType))
      val cuts = ranked.groupBy("event_type")
        .agg(min(when(col("rn") === floor(lit(0.05) * (col("n") - 1)) + lit(1),
            col("value"))).as("lo"),
          min(when(col("rn") === floor(lit(0.95) * (col("n") - 1)) + lit(1),
            col("value"))).as("hi"))
      raw.select(col("event_type"), col("value"))
        .join(broadcast(cuts), Seq("event_type"))
        .withColumn("clamped", greatest(col("lo"), least(col("hi"), col("value"))))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          min("lo").as("lo"), min("hi").as("hi"),
          sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clip_low"),
          sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clip_high"),
          xsum(col("value"), 6).as("sum_raw"),
          xsum(col("clamped"), 6).as("sum_winsorized"))
        .select(col("event_type"), col("n"), col("lo"), col("hi"),
          col("n_clip_low"), col("n_clip_high"),
          pround(col("sum_raw") / col("n").cast("double"), 6).as("mean_raw"),
          pround(col("sum_winsorized") / col("n").cast("double"), 6).as("mean_winsorized"))
    }),

    // TPC-H Q3 SHAPE — unshipped-revenue shipping priority: BUILDING-
    // segment orders placed before the pivot whose lineitems ship after
    // it, top-10 by revenue. One orderkey fact-fact shuffle; the customer
    // dim broadcasts; the top-10 cut orders by INTEGER cents (then
    // orderkey) so the limit set is deterministic on both engines.
    "q235_q3_shipping_priority" -> ((spark, dir) => {
      val cust = table(spark, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val o0 = table(spark, dir, "orders")
      val o = o0.select(col("o_orderkey"), col("o_custkey"),
          QueryBase.tsUs(o0, "o_orderdate").as("order_date_us"))
        .where(col("order_date_us") < Cut98Us)
      val li0 = table(spark, dir, "lineitem")
      val li = li0.select(col("l_orderkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            lit(100.0) + lit(0.5)).cast("long").as("cents"))
        .where(QueryBase.tsUs(li0, "l_shipdate") > Cut98Us)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderkey", "order_date_us")
        .agg(sum("cents").as("rev_cents"))
        .orderBy(col("rev_cents").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("order_date_us"),
          (col("rev_cents").cast("double") / lit(100.0)).as("revenue"))
    }),

    // TPC-H Q4 SHAPE — order-priority checking via EXISTS: orders in a
    // 6-month window with at least one lineitem shipped > 60 days after
    // the order date, counted per priority. The EXISTS is a LEFT SEMI
    // join (equi on the order key + the lateness theta residual) — one
    // orderkey shuffle, no fan-out, five rows out at any scale.
    "q236_q4_priority_check" -> ((spark, dir) => {
      val o0 = table(spark, dir, "orders")
      val o = o0.select(col("o_orderkey"), col("o_orderpriority"),
          QueryBase.tsUs(o0, "o_orderdate").as("odate_us"))
        .where(col("odate_us") >= Jan97Us && col("odate_us") < Jul97Us)
      val li0 = table(spark, dir, "lineitem")
      val li = li0.select(col("l_orderkey"),
        QueryBase.tsUs(li0, "l_shipdate").as("ship_us"))
      o.join(li, col("o_orderkey") === col("l_orderkey") &&
          col("ship_us") > col("odate_us") + lit(LateShipUs), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    }),

    // TPC-H Q5 SHAPE — local-supplier volume: 1997 revenue per ASIA
    // nation where the customer and the lineitem's supplier share the
    // nation. lineitem⋈orders is the one data-sized shuffle; customer,
    // supplier and the nation⋈region leg all broadcast; the locality
    // predicate is a post-join filter on two broadcast-sourced keys.
    "q237_q5_local_supplier" -> ((spark, dir) => {
      val o0 = table(spark, dir, "orders")
      val o = o0.select(col("o_orderkey"), col("o_custkey"),
          QueryBase.tsUs(o0, "o_orderdate").as("odate_us"))
        .where(col("odate_us") >= Jan97Us && col("odate_us") < Cut98Us)
      val li = table(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            lit(100.0) + lit(0.5)).cast("long").as("cents"))
      val cust = table(spark, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val supp = table(spark, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val nat = table(spark, dir, "nation")
        .join(broadcast(table(spark, dir, "region")
          .where(col("r_name") === "ASIA").select(col("r_regionkey"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .where(col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_items"),
          (sum("cents").cast("double") / lit(100.0)).as("revenue"))
    }),

    // TPC-H Q10 SHAPE — returned-item reporting: per-customer lost
    // revenue from 'R'-flagged lineitems of Q1-1997 orders, top 20. The
    // orderkey join is the shuffle; the per-customer aggregate is
    // customer-sized and joins the broadcast dims AFTER the top-k cut
    // ordering by integer cents (then custkey) keeps the cut exact.
    "q238_q10_returned_items" -> ((spark, dir) => {
      val o0 = table(spark, dir, "orders")
      val o = o0.select(col("o_orderkey"), col("o_custkey"),
          QueryBase.tsUs(o0, "o_orderdate").as("odate_us"))
        .where(col("odate_us") >= Jan97Us && col("odate_us") < Apr97Us)
      val li = table(spark, dir, "lineitem")
        .where(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            lit(100.0) + lit(0.5)).cast("long").as("cents"))
      val perCust = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey").agg(sum("cents").as("rev_cents"))
        .orderBy(col("rev_cents").desc, col("o_custkey")).limit(20)
      val cust = table(spark, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          floor(col("c_acctbal") * lit(100.0) + lit(0.5)).cast("long").as("bal_cents"))
      val nat = table(spark, dir, "nation").select(col("n_nationkey"), col("n_name"))
      perCust.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("o_custkey").as("c_custkey"), col("c_name"), col("n_name"),
          (col("bal_cents").cast("double") / lit(100.0)).as("c_acctbal"),
          (col("rev_cents").cast("double") / lit(100.0)).as("lost_revenue"))
    }),

    // TPC-H Q13 SHAPE — customer order-count distribution: orders per
    // customer (P-status excluded, the 'special request' analogue)
    // through a LEFT OUTER join so zero-order customers keep a 0 bucket,
    // then the count-of-counts histogram. Both aggregates are combinable;
    // the outer join's right side is pre-aggregated to customer size.
    "q239_q13_order_distribution" -> ((spark, dir) => {
      val cnt = table(spark, dir, "orders")
        .where(col("o_orderstatus") =!= "P")
        .groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
      table(spark, dir, "customer").select(col("c_custkey"))
        .join(cnt, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
    }),

    // TPC-H Q14 SHAPE — promo-revenue share of a ship month: two integer
    // cents sums in ONE conditional-aggregation pass (no second scan for
    // the denominator); the part dim broadcasts. A 1-row report whose
    // only double op is the final pround'd division.
    "q240_q14_promo_share" -> ((spark, dir) => {
      val li0 = table(spark, dir, "lineitem")
      val li = li0.select(col("l_partkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            lit(100.0) + lit(0.5)).cast("long").as("cents"))
        .where(QueryBase.tsUs(li0, "l_shipdate") >= Sep97Us &&
          QueryBase.tsUs(li0, "l_shipdate") < Oct97Us)
      val part = table(spark, dir, "part").select(col("p_partkey"), col("p_type"))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .agg(sum(when(col("p_type") === "PROMO", col("cents")).otherwise(0L)).as("promo_cents"),
          sum("cents").as("total_cents"))
        .select(col("promo_cents"), col("total_cents"),
          pround(lit(100.0) * col("promo_cents").cast("double") /
            col("total_cents").cast("double"), 6).as("promo_share"))
    }),

    // TPC-H Q15 SHAPE — top supplier(s) by Q1-1997 revenue: the
    // supplier-sized revenue frame compares against its own broadcast
    // 1-row max, keeping EVERY supplier at the max (the tie semantics
    // argmax flattens); supplier dim broadcasts onto the survivors.
    "q246_q15_top_supplier" -> ((spark, dir) => {
      val li0 = table(spark, dir, "lineitem")
      val rev = li0.select(col("l_suppkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            lit(100.0) + lit(0.5)).cast("long").as("cents"))
        .where(QueryBase.tsUs(li0, "l_shipdate") >= Jan97Us &&
          QueryBase.tsUs(li0, "l_shipdate") < Apr97Us)
        .groupBy("l_suppkey").agg(sum("cents").as("rev_cents"))
      val mx = rev.agg(max("rev_cents").as("max_cents"))
      val supp = table(spark, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      rev.crossJoin(broadcast(mx)).where(col("rev_cents") === col("max_cents"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("rev_cents").cast("double") / lit(100.0)).as("total_revenue"))
    }),

    // TPC-H Q17 SHAPE — small-quantity-order revenue: lineitems of one
    // brand's parts below 20% of their part's average quantity. The
    // threshold comparison is INTEGER-EXACT — qh < sum_qh/(5n) rewritten
    // as 5·n·qh < sum_qh, no division anywhere — and the per-part
    // threshold frame (≤ parts-of-one-brand rows) broadcasts back onto
    // the already-filtered lineitems. One brand-pruned scan, zero
    // data-sized shuffles.
    "q241_q17_small_quantity" -> ((spark, dir) => {
      val p = table(spark, dir, "part")
        .where(col("p_brand") === "Brand#12").select(col("p_partkey"))
      val li = tcache(table(spark, dir, "lineitem")
        .select(col("l_partkey"),
          floor(col("l_quantity") * lit(100.0) + lit(0.5)).cast("long").as("qh"),
          floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select("l_partkey", "qh", "cents"), "q241:brandli")
      val th = li.groupBy("l_partkey")
        .agg(count(lit(1)).as("n"), sum("qh").as("sum_qh"))
      li.join(broadcast(th), Seq("l_partkey"))
        .where(lit(5L) * col("n") * col("qh") < col("sum_qh"))
        .agg(count(lit(1)).as("n_li"),
          pround(sum("cents").cast("double") / lit(100.0) / lit(7.0), 6).as("avg_yearly"))
    }),

    // TPC-H Q19 SHAPE — disjunctive discounted revenue: three (brand ×
    // size-band × quantity-band) OR-branches evaluated in one pass over
    // the broadcast part join. The disjunction references both sides, so
    // it cannot pre-filter either alone — the shape that exercises
    // post-join predicate evaluation; quantity compares in exact
    // hundredths.
    "q242_q19_disjunctive_revenue" -> ((spark, dir) => {
      val li = table(spark, dir, "lineitem")
        .select(col("l_partkey"),
          floor(col("l_quantity") * lit(100.0) + lit(0.5)).cast("long").as("qh"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            lit(100.0) + lit(0.5)).cast("long").as("cents"))
      val part = table(spark, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val cond =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("qh").between(100L, 1100L)) ||
        (col("p_brand") === "Brand#15" && col("p_size").between(1, 10) &&
          col("qh").between(1000L, 2000L)) ||
        (col("p_brand") === "Brand#20" && col("p_size").between(1, 15) &&
          col("qh").between(2000L, 3000L))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .where(cond)
        .agg(count(lit(1)).as("n_li"),
          (sum("cents").cast("double") / lit(100.0)).as("revenue"))
    }),

    // TPC-H Q21 SHAPE — the waiting-kept supplier: for finished orders
    // with ≥ 2 distinct suppliers, blame the one whose lineitem shipped
    // LAST (lexicographic (ship_us, suppkey) struct max — deterministic
    // under ties), top-10 blamed suppliers. One orderkey shuffle; both
    // per-order aggregates (distinct-supplier count, argmax) ride the
    // same groupBy; the supplier dim broadcasts onto the ≤10 survivors.
    "q244_q21_waiting_supplier" -> ((spark, dir) => {
      val o = table(spark, dir, "orders")
        .where(col("o_orderstatus") === "F").select(col("o_orderkey"))
      val li0 = table(spark, dir, "lineitem")
      val li = li0.select(col("l_orderkey"), col("l_suppkey"),
        QueryBase.tsUs(li0, "l_shipdate").as("ship_us"))
      val blamed = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          max(struct(col("ship_us"), col("l_suppkey"))).as("m"))
        .where(col("n_supp") >= 2)
        .groupBy(col("m.l_suppkey").as("s_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_suppkey")).limit(10)
      blamed.join(broadcast(table(spark, dir, "supplier")
          .select(col("s_suppkey").as("sk"), col("s_name"))),
          col("s_suppkey") === col("sk"))
        .select(col("s_suppkey"), col("s_name"), col("numwait"))
    }),

    // TPC-H Q22 SHAPE — dormant high-balance customers: balance above
    // the positive-balance average (INTEGER-EXACT: cents·n_pos >
    // sum_pos_cents, no division) with no orders on or after the pivot
    // (ANTI join against the pre-projected recent-order keys), reported
    // per nation. The 1-row average frame broadcasts; the anti join's
    // right side is custkey-sized.
    "q243_q22_dormant_customers" -> ((spark, dir) => {
      val cust = table(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          floor(col("c_acctbal") * lit(100.0) + lit(0.5)).cast("long").as("bal_cents"))
      val avgF = cust.where(col("bal_cents") > 0L)
        .agg(count(lit(1)).as("n_pos"), sum("bal_cents").as("sum_pos"))
      val o0 = table(spark, dir, "orders")
      val recent = o0.select(col("o_custkey"),
          QueryBase.tsUs(o0, "o_orderdate").as("odate_us"))
        .where(col("odate_us") >= Cut98Us).select(col("o_custkey")).distinct()
      cust.crossJoin(broadcast(avgF))
        .where(col("bal_cents") * col("n_pos") > col("sum_pos"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"),
          (sum("bal_cents").cast("double") / lit(100.0)).as("totacctbal"))
    }),

    // TPC-H Q8 SHAPE — national market share: of AMERICA customers'
    // PROMO-part revenue, the fraction supplied by ONE nation, per order
    // year (calendar year() over the µs timestamp — identical NTZ
    // semantics on both engines under the UTC session). lineitem⋈orders
    // shuffles once; part, supplier and the customer⋈nation⋈region leg
    // broadcast; numerator and denominator are one conditional pass.
    "q245_q8_market_share" -> ((spark, dir) => {
      val o = table(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("o_year"))
      val li = table(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            lit(100.0) + lit(0.5)).cast("long").as("cents"))
      val part = table(spark, dir, "part")
        .where(col("p_type") === "PROMO").select(col("p_partkey"))
      val supp = table(spark, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val amCust = table(spark, dir, "customer")
        .join(broadcast(table(spark, dir, "nation")
          .join(broadcast(table(spark, dir, "region")
            .where(col("r_name") === "AMERICA").select(col("r_regionkey"))),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(amCust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .groupBy("o_year")
        .agg(sum(when(col("s_nationkey") === ShareNationKey, col("cents"))
            .otherwise(0L)).as("nation_cents"),
          sum("cents").as("total_cents"))
        .select(col("o_year"), col("nation_cents"), col("total_cents"),
          pround(col("nation_cents").cast("double") /
            col("total_cents").cast("double"), 6).as("mkt_share"))
    }),

    // TPC-H Q12 SHAPE — shipping-priority audit: for 1997-shipped
    // lineitems that shipped LATE (> 60 days after the order date — this
    // schema's commitdate/receiptdate analogue, the q236 constant), count
    // critical-priority vs other orders per returnflag (the shipmode
    // stand-in). Both sides are fact-sized, so this is the one deliberate
    // fact⋈fact orderkey shuffle with a theta residual; three rows out at
    // any scale.
    "q256_q12_late_priority" -> ((spark, dir) => {
      val li0 = table(spark, dir, "lineitem")
      val li = li0.select(col("l_orderkey"), col("l_returnflag"),
          QueryBase.tsUs(li0, "l_shipdate").as("ship_us"))
        .where(col("ship_us") >= Jan97Us && col("ship_us") < Cut98Us)
      val o0 = table(spark, dir, "orders")
      val o = o0.select(col("o_orderkey"), col("o_orderpriority"),
        QueryBase.tsUs(o0, "o_orderdate").as("odate_us"))
      li.join(o, col("l_orderkey") === col("o_orderkey") &&
          col("ship_us") > col("odate_us") + lit(LateShipUs))
        .groupBy("l_returnflag")
        .agg(
          sum(when(col("o_orderpriority") === "1-URGENT" ||
            col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority") =!= "1-URGENT" &&
            col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L)).as("low_line_count"))
    }),

    // TPC-H Q11 SHAPE — important-part value concentration: per-part
    // shipped value through ShareNation's suppliers, keeping parts whose
    // value exceeds 0.1% of the nation total (INTEGER-EXACT:
    // value_cents·1000 > total_cents, no division — this schema carries
    // no partsupp, so lineitem is the supply-fact association). The
    // grouped frame is computed ONCE (tcache) and feeds both the 1-row
    // broadcast total and the HAVING probe; one partkey shuffle total.
    "q257_q11_important_parts" -> ((spark, dir) => {
      val supp = table(spark, dir, "supplier")
        .where(col("s_nationkey") === ShareNationKey).select(col("s_suppkey"))
      val byPart = tcache(table(spark, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .groupBy("l_partkey").agg(sum("cents").as("value_cents")), "q257:bypart")
      val tot = byPart.agg(sum("value_cents").as("total_cents"))
      byPart.crossJoin(broadcast(tot))
        .where(col("value_cents") * lit(1000L) > col("total_cents"))
        .select(col("l_partkey"), col("value_cents"),
          (col("value_cents").cast("double") / lit(100.0)).as("value"))
    }),

    // TPC-H Q16 SHAPE — supplier breadth per part attribute: distinct
    // suppliers that ever shipped each retained (brand, type, size)
    // combination, excluding negative-balance suppliers (the customer-
    // complaints analogue). The observed (partkey, suppkey) pairs dedup
    // in ONE partkey-side shuffle; the exclusion list and the filtered
    // part dim both broadcast; countDistinct rides the group-by shuffle.
    "q258_q16_supplier_counts" -> ((spark, dir) => {
      val excl = table(spark, dir, "supplier")
        .where(col("s_acctbal") < lit(0.0)).select(col("s_suppkey").as("xk"))
      val pairs = table(spark, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .join(broadcast(excl), col("l_suppkey") === col("xk"), "left_anti")
      val p = table(spark, dir, "part")
        .where(col("p_brand") =!= "Brand#12" && col("p_type") =!= "MEDIUM" &&
          col("p_size").isin(Q16Sizes: _*))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      pairs.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // TPC-H Q20 SHAPE — promotion-ready suppliers: suppliers for whom
    // some PROMO part shipped MORE than half its lifetime volume during
    // 1997 (2·qty97 > qtot in quantity hundredths — the availqty>½·year
    // analogue without partsupp). Both the year slice and the lifetime
    // total ride ONE (suppkey, partkey) aggregation pass (conditional
    // sum, no self-join); the supplier dim broadcasts onto the
    // qualifying-part counts.
    "q259_q20_part_promotion" -> ((spark, dir) => {
      val promo = table(spark, dir, "part")
        .where(col("p_type") === "PROMO").select(col("p_partkey"))
      val li0 = table(spark, dir, "lineitem")
      val qual = li0.select(col("l_partkey"), col("l_suppkey"),
          floor(col("l_quantity") * lit(100.0) + lit(0.5)).cast("long").as("qh"),
          QueryBase.tsUs(li0, "l_shipdate").as("ship_us"))
        .join(broadcast(promo), col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum(when(col("ship_us") >= Jan97Us && col("ship_us") < Cut98Us,
            col("qh")).otherwise(0L)).as("qty97"),
          sum("qh").as("qtot"))
        .where(col("qty97") * lit(2L) > col("qtot"))
      qual.groupBy("l_suppkey").agg(count(lit(1)).as("n_parts"))
        .join(broadcast(table(spark, dir, "supplier")
            .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_parts"))
    }),

    // NEYMAN ALLOCATION — the optimal stratified-sample design beside
    // q58's proportional strata and q97's weighted draw: a fixed sample
    // budget splits across strata ∝ N_h·σ_h (high-variance strata earn
    // more probes — the survey-sampling theorem every data-curation
    // sampler should apply instead of proportional-by-count). σ_h comes
    // from the q219 BIGINT-exact moment discipline, then quantizes to
    // integer MICROS so the weights, shares and floor-allocations are
    // all integer arithmetic (no floor-on-double boundary risk). One
    // combinable aggregation is the data-sized work; the stratum frame
    // (|event types| rows) carries everything else.
    "q262_neyman_allocation" -> ((spark, dir) => {
      val e = table(spark, dir, "events")
        .select(col("event_type"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("vq"))
      val mom = e.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vq").as("sv"),
          sum(col("vq") * col("vq")).as("svv"))
        .withColumn("mu", pround(col("sv").cast("double") /
          (col("n").cast("double") * lit(100.0)), 9))
        // clamp at zero: a (near-)constant stratum can leave the rounded
        // variance a hair negative; sqrt(NaN) would poison everything after
        .withColumn("sigma", sqrt(greatest(pround(
          col("svv").cast("double") / (col("n").cast("double") * lit(10000.0)) -
            col("mu") * col("mu"), 9), lit(0.0))))
        .withColumn("w", col("n") *
          floor(col("sigma") * lit(1000000.0) + lit(0.5)).cast("long"))
      val tot = mom.agg(sum("w").as("wtot"))
      // wtot = 0 (every stratum constant-valued) must not ANSI-throw on
      // the integer division — the q234 empty/degenerate-corpus guard
      mom.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n"),
          pround(col("sigma"), 6).as("sigma"), col("w"),
          when(col("wtot") > 0L, pround(col("w").cast("double") /
            col("wtot").cast("double"), 6)).otherwise(lit(0.0)).as("share"),
          when(col("wtot") > 0L,
            expr(s"(CAST($NeymanBudget AS BIGINT) * w) div wtot"))
            .otherwise(lit(0L)).as("alloc_n"))
    }),

    // SWEEP-LINE PEAK CONCURRENCY — the "max concurrent sessions" ops
    // question (peak viewers, license high-water marks, capacity
    // planning) answered WITHOUT an interval self-join: sessions become
    // ±1 boundary rows, and per-day running sums of the net delta give
    // the concurrency curve. Concurrency at instant t (inclusive ends)
    // = cum(starts ≤ t) − cum(ends < t) = cum(ns − ne) + ne — computed
    // on DISTINCT timestamps so no tie ordering inside the window can
    // change any row's value. Sessions are clipped at UTC-day
    // boundaries first, so each day's sweep is INDEPENDENT — the
    // partition axis that keeps the ordered window out of a global
    // single-partition sort at 100 TB (within a day the boundary count
    // is bounded by that day's event count; a deployment with hot days
    // would sub-bucket by hour and carry prefix sums across buckets,
    // the same two-pass trick q137's bucketing applies to keys).
    "q264_peak_concurrency" ->
      ((spark, dir) => peakOfBoundaries(sweepBoundaries(spark, dir))),

    // INTERVAL-UNION COVERAGE — the uptime/utilization twin of q264's
    // peak: how much of each day is covered by ≥1 active session (the
    // union length of overlapping intervals, the measure a naive
    // sum-of-durations double-counts). Same day-clipped boundary frame;
    // a segment (t_i, t_{i+1}) is covered iff the running net count
    // AFTER processing t_i's boundaries is positive (ends close at
    // their timestamp, so single-point sessions contribute zero
    // measure — identical semantics in both engines).
    "q265_interval_coverage" ->
      ((spark, dir) => coverageOfBoundaries(sweepBoundaries(spark, dir))),

    // OHLC BARS — the candlestick resample (open/high/low/close per
    // hour per event type), the finance/telemetry rollup q71's
    // mean-resample cannot express because open/close are ORDER
    // statistics, not commutative aggregates. Spark picks open/close
    // via min/max over (ts_us, event_id, vq) STRUCTS — lexicographic
    // struct ordering rides the unique (ts, id) key, so the pick is
    // deterministic and the whole bar is ONE combinable aggregation
    // (struct min/max merge map-side like any min/max — no window, no
    // per-bucket sort); the oracle uses DuckDB's ordered-aggregate
    // first()/last() over the same key. Values stay integer cents end
    // to end.
    "q266_ohlc_bars" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val e = raw.select(col("event_type"), col("event_id"),
          QueryBase.tsUs(raw).as("ts_us"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("vq"))
        .withColumn("hour", expr(s"ts_us div $HourUs"))
      e.groupBy("event_type", "hour")
        .agg(count(lit(1)).as("n_events"),
          min(struct(col("ts_us"), col("event_id"), col("vq")))
            .getField("vq").as("open_c"),
          max(struct(col("ts_us"), col("event_id"), col("vq")))
            .getField("vq").as("close_c"),
          max("vq").as("high_c"),
          min("vq").as("low_c"))
    }),

    // PER-GROUP OLS TREND — "is this metric drifting, and how fast":
    // least-squares slope of each event type's DAILY MEAN value over
    // epoch-day index (the per-group sibling of the corpus-level Zipf
    // fit): daily means micro-quantize to exact BIGINTs, then n, Σx,
    // Σy, Σxy, Σx² are all BIGINT-exact combinable sums (x = epoch day
    // ≈ 2·10⁴, y ≤ 10⁹ micro-units, 90-day spans keep every product
    // under 2·10¹⁷ ≪ 2⁶³) and the slope divides two exact integers
    // once at the end. Two combinable aggregations total; a constant
    // series (den = 0 on a single day) reports slope 0 instead of an
    // ANSI divide error.
    "q267_daily_trend" -> ((spark, dir) => {
      dailyMeans(spark, dir).groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum("day").as("sx"), sum("mq").as("sy"),
          sum(col("day") * col("mq")).as("sxy"),
          sum(col("day") * col("day")).as("sxx"))
        .withColumn("den", col("n_days") * col("sxx") - col("sx") * col("sx"))
        .withColumn("num", col("n_days") * col("sxy") - col("sx") * col("sy"))
        .select(col("event_type"), col("n_days"),
          pround(col("sy").cast("double") /
            (col("n_days").cast("double") * lit(1000000.0)), 6).as("mean_value"),
          when(col("den") =!= 0L,
            pround(col("num").cast("double") /
              (col("den").cast("double") * lit(1000000.0)), 8))
            .otherwise(lit(0.0)).as("slope_per_day"))
    }),

    // MANN-KENDALL TREND TEST — the nonparametric twin of q267's OLS
    // slope (monotonic drift without assuming linearity or caring about
    // outliers): S = Σ_{i<j} sign(mq_j − mq_i) over each type's daily
    // means, the tie-corrected variance 18·Var = n(n−1)(2n+5) −
    // Σ_t t(t−1)(2t+5), and the continuity-corrected z = (S − sgn S)/
    // √Var. The pair space is per-type days² (≤ a few thousand — the
    // self-join runs on the |types|·|days| AGGREGATE, never on raw
    // events), every S/variance term is BIGINT-exact, and z's only
    // doubles are one division by 18 and one IEEE sqrt.
    "q270_mann_kendall" -> ((spark, dir) => {
      val d = tcache(dailyMeans(spark, dir), "q270:means")
      val a = d.select(col("event_type"), col("day").as("di"), col("mq").as("mi"))
      val b = d.select(col("event_type").as("et2"), col("day").as("dj"),
        col("mq").as("mj"))
      val s = a.join(b, col("event_type") === col("et2") && col("di") < col("dj"))
        .select(col("event_type"),
          when(col("mj") > col("mi"), lit(1L))
            .when(col("mj") < col("mi"), lit(-1L)).otherwise(lit(0L)).as("sgn"))
        .groupBy("event_type")
        .agg(sum("sgn").as("s"), count(lit(1)).as("n_pairs"))
      val ties = d.groupBy(col("event_type"), col("mq"))
        .agg(count(lit(1)).as("t"))
        .groupBy("event_type")
        .agg(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5))
            .as("tie_term"),
          sum("t").as("n_days"))
      // left join FROM the tie frame (which has every type): a single-day
      // type has zero i<j pairs, so the pair frame lacks its row entirely —
      // it must still report with s = 0, n_pairs = 0, z = 0
      ties.join(s, Seq("event_type"), "left")
        .withColumn("s", coalesce(col("s"), lit(0L)))
        .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
        .withColumn("var18",
          col("n_days") * (col("n_days") - 1) * (lit(2L) * col("n_days") + 5) -
            col("tie_term"))
        .select(col("event_type"), col("n_days"), col("n_pairs"), col("s"),
          when(col("var18") > 0L && col("s") =!= 0L,
            pround((col("s") - when(col("s") > 0L, lit(1L)).otherwise(lit(-1L)))
              .cast("double") /
              sqrt(col("var18").cast("double") / lit(18.0)), 6))
            .otherwise(lit(0.0)).as("z"))
    }),

    // THEIL–SEN ROBUST SLOPE — the estimator to report WITH q270's test:
    // the median of all pairwise slopes (mq_j − mq_i)/(d_j − d_i) over
    // each type's daily means, immune to outlier days the q267 OLS slope
    // chases. The pair space is the same bounded |types|·days² aggregate
    // self-join as q270 (never raw events); each slope is ONE division of
    // exact integers (identical IEEE on both engines), and the median is
    // rank-selected under the deterministic (slope, di, dj) total order —
    // the q72 rank-arithmetic discipline, so ties cannot move the pick.
    "q271_theil_sen" -> ((spark, dir) => {
      val d = tcache(dailyMeans(spark, dir), "q270:means")
      val a = d.select(col("event_type"), col("day").as("di"), col("mq").as("mi"))
      val b = d.select(col("event_type").as("et2"), col("day").as("dj"),
        col("mq").as("mj"))
      val slopes = a.join(b, col("event_type") === col("et2") && col("di") < col("dj"))
        .select(col("event_type"), col("di"), col("dj"),
          ((col("mj") - col("mi")).cast("double") /
            ((col("dj") - col("di")).cast("double") * lit(1000000.0)))
            .as("slope"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("slope"), col("di"), col("dj"))
      slopes.withColumn("rn", row_number().over(w))
        .withColumn("np", count(lit(1)).over(Window.partitionBy("event_type")))
        .where(col("rn") === expr("(np + 1) div 2"))
        .select(col("event_type"), col("np").as("n_pairs"),
          pround(col("slope"), 8).as("slope_md"))
    }),

    // WALD–WOLFOWITZ RUNS TEST — is the daily series RANDOM around its
    // median, or does it clump (regimes, weekly cycles)? Per type: the
    // rank-selected lower median of the daily means, signs above/below
    // (median-equal days dropped, the standard treatment), R = number of
    // sign runs in day order via ONE lag() pass, and the normal
    // approximation z = (R − E)/√V with E = 1 + 2n₁n₂/n and
    // V = 2n₁n₂(2n₁n₂ − n)/(n²(n − 1)) — every product BIGINT-exact,
    // doubles only in the two terminal divisions and the sqrt.
    "q272_runs_test" -> ((spark, dir) => {
      val d = tcache(dailyMeans(spark, dir), "q270:means")
      val wOrd = Window.partitionBy("event_type").orderBy(col("mq"), col("day"))
      val med = d.withColumn("rn", row_number().over(wOrd))
        .withColumn("nd", count(lit(1)).over(Window.partitionBy("event_type")))
        .where(col("rn") === expr("(nd + 1) div 2"))
        .select(col("event_type").as("et_m"), col("mq").as("med"))
      val byDay = Window.partitionBy("event_type").orderBy("day")
      d.join(broadcast(med), col("event_type") === col("et_m"))
        .where(col("mq") =!= col("med"))
        .select(col("event_type"), col("day"),
          when(col("mq") > col("med"), lit(1)).otherwise(lit(-1)).as("sgn"))
        .withColumn("prev", lag("sgn", 1).over(byDay))
        .groupBy("event_type")
        .agg(sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n2"),
          sum(when(col("prev").isNull || col("prev") =!= col("sgn"), 1L)
            .otherwise(0L)).as("r"))
        .withColumn("n", col("n1") + col("n2"))
        .withColumn("two_p", lit(2L) * col("n1") * col("n2"))
        .select(col("event_type"), col("n1"), col("n2"), col("r"),
          when(col("n1") > 0L && col("n2") > 0L && col("two_p") > col("n"),
            pround((col("r").cast("double") -
                (lit(1.0) + col("two_p").cast("double") / col("n").cast("double"))) /
              sqrt((col("two_p") * (col("two_p") - col("n"))).cast("double") /
                (col("n") * col("n") * (col("n") - 1)).cast("double")), 6))
            .otherwise(lit(0.0)).as("z"))
    }),

    // KRUSKAL–WALLIS RANK TEST — do the event types draw from the same
    // value distribution? Event-LEVEL ranks computed WITHOUT a global
    // sort: values are cents-quantized, so global midranks derive from
    // the bounded distinct-value frame (cumulative counts over the value
    // DOMAIN, the q231 bounded-domain discipline); doubled midranks
    // 2c+n+1 keep every per-type rank sum a BIGINT. H's Σ R_t²/n_t folds
    // over the ≤|types| per-type terms in SORTED order (Spark: aggregate
    // over sort_array; DuckDB: sum(… ORDER BY …)) so double summation
    // order is deterministic on both engines; the tie correction
    // 1 − Σ(t³−t)/(N³−N) divides exact integers.
    "q273_kruskal_wallis" -> ((spark, dir) => {
      val e = table(spark, dir, "events")
        .select(col("event_type"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("vq"))
      val vc = tcache(e.groupBy("vq").agg(count(lit(1)).as("n_v")), "q273:vc")
      val wv = Window.orderBy("vq").rowsBetween(Window.unboundedPreceding, -1)
      val ranks = vc.withColumn("c_below", coalesce(sum("n_v").over(wv), lit(0L)))
        .select(col("vq"),
          (lit(2L) * col("c_below") + col("n_v") + 1L).as("r2"),
          col("n_v"))
      val perType = e.groupBy("event_type", "vq").agg(count(lit(1)).as("n_tv"))
        .join(broadcast(ranks.select("vq", "r2")), Seq("vq"))
        .groupBy("event_type")
        .agg(sum(col("n_tv") * col("r2")).as("r2sum"), sum("n_tv").as("n_t"))
        .withColumn("term",
          col("r2sum").cast("double") * col("r2sum").cast("double") /
            (lit(4.0) * col("n_t").cast("double")))
      val folded = perType.agg(
        sum("n_t").as("n"), count(lit(1)).as("k"),
        expr("aggregate(sort_array(collect_list(struct(event_type, term)))," +
          " cast(0.0 as double), (acc, x) -> acc + x.term)").as("s"))
      // tie-term headroom (TieOverflowSpec pins this contract): the cubic
      // (n_v·(n_v−1))·(n_v+1) = n_v³−n_v stays BIGINT-exact while no
      // single quantized value carries more than 2²¹ ≈ 2.1M rows. Past
      // that BOTH engines raise loudly — this session runs ANSI mode
      // (Spark 4.x default) and DuckDB always checks — so a pathological
      // value distribution at 100 TB is a cross-engine-identical error,
      // never a silent wrap divergence.
      val ties = ranks.agg(
        sum(col("n_v") * (col("n_v") - 1) * (col("n_v") + 1)).as("tie_sum"))
      folded.crossJoin(broadcast(ties))
        .withColumn("h",
          lit(12.0) / (col("n") * (col("n") + 1)).cast("double") * col("s") -
            lit(3.0) * (col("n") + 1).cast("double"))
        .withColumn("c",
          lit(1.0) - col("tie_sum").cast("double") /
            (col("n").cast("double") * col("n").cast("double") *
              col("n").cast("double") - col("n").cast("double")))
        .select(col("n"), col("k"), pround(col("h"), 6).as("h"),
          when(col("c") > 0.0, pround(col("h") / col("c"), 6))
            .otherwise(lit(0.0)).as("h_tie_corrected"))
    }),

    // SPEARMAN TREND — the rank-correlation third of the trend triptych
    // (q267 OLS, q270 Mann–Kendall, this): ρ between day order and the
    // daily-mean MIDRANKS per type. Day ranks are row_number (days are
    // unique per type); value midranks double to the integer 2r+t−1 via
    // rank() + a tie count, so all five correlation moments are
    // BIGINT-exact and ρ is one integer-argument division + sqrt —
    // bit-identical on both engines, no quantize-early needed.
    "q274_spearman_trend" -> ((spark, dir) => {
      val d = tcache(dailyMeans(spark, dir), "q270:means")
      val byType = Window.partitionBy("event_type")
      val ranked = d
        .withColumn("rx", row_number().over(byType.orderBy("day")))
        .withColumn("rmin", rank().over(byType.orderBy("mq")))
        .withColumn("t", count(lit(1)).over(Window.partitionBy("event_type", "mq")))
        .withColumn("ry2", lit(2L) * col("rmin") + col("t") - 1L)
      ranked.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum("rx").as("sx"), sum(col("rx") * col("rx")).as("sxx"),
          sum("ry2").as("sy2"), sum(col("ry2") * col("ry2")).as("syy4"),
          sum(col("rx") * col("ry2")).as("sxy2"))
        .withColumn("num", col("n_days") * col("sxy2") - col("sx") * col("sy2"))
        .withColumn("d1", col("n_days") * col("sxx") - col("sx") * col("sx"))
        .withColumn("d2", col("n_days") * col("syy4") - col("sy2") * col("sy2"))
        .select(col("event_type"), col("n_days"),
          when(col("d1") > 0L && col("d2") > 0L,
            pround(col("num").cast("double") /
              sqrt(col("d1").cast("double") * col("d2").cast("double")), 6))
            .otherwise(lit(0.0)).as("rho"))
    }),

    // MANN–WHITNEY U / AUC — the two-sample location test (and its
    // probability-of-superiority reading, the AUC every ranking system
    // reports) for every ordered PAIR of event types. Ranks come from
    // the bounded cents-quantized value DOMAIN per pair (the q273
    // discipline — never a global sort of raw events): doubled combined
    // midranks keep 2·R_a BIGINT-exact, U derives from R_a by integer
    // algebra, AUC = U/(n_a·n_b) is one division, and the tie-corrected
    // normal z uses the same Σ(t³−t) correction as q273 with a ±½
    // continuity term carried on the doubled scale. At 100 TB the pair
    // frame is |type-pairs|·|value domain| — aggregation output, not
    // data.
    "q275_mann_whitney" -> ((spark, dir) =>
      mannWhitneyOf(tcache(pairDomain(spark, dir), "q275:dom"))),

    // TWO-SAMPLE KOLMOGOROV–SMIRNOV — the distribution-equality screen
    // per event-type pair: D = max_v |F_a(v) − F_b(v)| over the shared
    // bounded value domain. Cross-multiplied cumulative counts make the
    // ECDF gap an exact INTEGER (|ca·n_b − cb·n_a|), so the max is
    // tie-proof and engine-exact; the only doubles are the terminal
    // D = maxdiff/(n_a·n_b) division and the √(n_a·n_b/n) scaling of
    // the asymptotic statistic. Shares q275's pair-domain frame.
    "q276_ks_two_sample" -> ((spark, dir) =>
      ksTwoSampleOf(tcache(pairDomain(spark, dir), "q275:dom"))),

    // ONE-WAY ANOVA F — the parametric companion of q273's
    // Kruskal–Wallis on the same cents-quantized values: per-type count
    // / sum / sum-of-squares are all BIGINT-exact combinable
    // aggregations, the between-group Σ s_t²/n_t folds over the ≤|types|
    // per-type terms in SORTED order (the q273 sorted-fold discipline,
    // so double summation order is deterministic on both engines), and
    // F is two divisions at the end. One aggregation pass over events.
    "q277_anova_f" -> ((spark, dir) => {
      val e = table(spark, dir, "events")
        .select(col("event_type"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("vq"))
      anovaF(e.groupBy("event_type")
        .agg(count(lit(1)).as("n_t"), sum("vq").as("s_t"),
          sum(col("vq") * col("vq")).as("ss_t")))
    }),

    // BROWN–FORSYTHE — variance homogeneity (the check ANOVA's equal-
    // variance assumption needs, robust via group MEDIANS): per-type
    // lower/upper median from the bounded domain's cumulative counts
    // (two combinable min-when picks — no per-group sort of raw data),
    // absolute deviations carried on the DOUBLED integer scale
    // |2·vq − (lo+hi)| so even-count medians never produce a .5, and
    // the same ANOVA tail as q277 on the deviations (F is
    // scale-invariant, so the doubling cancels). All BIGINT until the
    // two terminal divisions.
    "q278_brown_forsythe" -> ((spark, dir) => {
      val e = table(spark, dir, "events")
        .select(col("event_type"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("vq"))
      val tv = e.groupBy("event_type", "vq").agg(count(lit(1)).as("n_tv"))
      val wc = Window.partitionBy("event_type").orderBy("vq")
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = tv.withColumn("cum", sum("n_tv").over(wc))
        .withColumn("n_t", sum("n_tv").over(Window.partitionBy("event_type")))
      val med = cum.groupBy("event_type").agg(
        min(when(col("cum") >= expr("(n_t + 1) div 2"), col("vq"))).as("lo"),
        min(when(col("cum") >= expr("n_t div 2 + 1"), col("vq"))).as("hi"))
        .select(col("event_type"), (col("lo") + col("hi")).as("med2"))
      anovaF(tv.join(broadcast(med), Seq("event_type"))
        .withColumn("z2", abs(lit(2L) * col("vq") - col("med2")))
        .groupBy("event_type")
        .agg(sum("n_tv").as("n_t"), sum(col("n_tv") * col("z2")).as("s_t"),
          sum(col("n_tv") * col("z2") * col("z2")).as("ss_t")))
    }),

    // HODGES–LEHMANN LOCATION — the robust level estimate to report
    // with q271's Theil–Sen slope: the median of all pairwise MEANS
    // (i ≤ j, so single-point types still report) of each type's daily
    // means. Pairwise means double to the exact BIGINT mq_i + mq_j, and
    // the median is rank-selected under the deterministic
    // (w2, di, dj) total order — q271's selection discipline, ties
    // cannot move the pick. Pair space is per-type days², on the
    // |types|·|days| aggregate.
    "q279_hodges_lehmann" -> ((spark, dir) =>
      hodgesLehmannOf(tcache(dailyMeans(spark, dir), "q270:means"))),

    // PAGE–HINKLEY SEQUENTIAL DRIFT — the online changepoint detector
    // (the streaming-native sibling of q204's CUSUM): per type in day
    // order, deviation of each daily mean from the RUNNING mean (minus
    // the δ allowance) is micro-quantized to a BIGINT the moment it's
    // born — the running PH sum and its running min are then exact
    // integer prefix aggregations, immune to windowed-sum tree order on
    // either engine. Alarm = first day the sum rises more than λ above
    // its running min. The only double per row is one cs/i division.
    "q280_page_hinkley" -> ((spark, dir) =>
      pageHinkleyOf(tcache(dailyMeans(spark, dir), "q270:means"))),

    // CROSS-CORRELATION — do two metrics move TOGETHER? Pearson r
    // between every type pair's daily-mean series over their common
    // days: the pair join runs on the bounded |types|·|days| aggregate
    // (q270's discipline, never raw events), all five correlation
    // moments are BIGINT-exact products of micro-quantized means
    // (≤ 2·10¹⁷ ≪ 2⁶³ at 90-day spans), and r is one division + sqrt
    // at the end — the q274/q205 exact-moment discipline applied across
    // series instead of within one.
    "q285_cross_correlation" -> ((spark, dir) =>
      crossCorrelationOf(tcache(dailyMeans(spark, dir), "q270:means"))),

    // AUTOCORRELATION FUNCTION — does a metric predict ITSELF? Per-lag
    // Pearson r between each type's daily-mean series and its own
    // lag-shifted copy (the correlogram a seasonality/AR screen starts
    // from), at lags [[AcfLags]]. Same exact-moment discipline as q285:
    // the lagged pair join runs on the bounded |types|·|days| aggregate
    // (day+lag equi-join — never raw events), the five moments are
    // BIGINT products of micro-quantized means, r is one terminal
    // division+sqrt. Per-lag overlap means (not one global mean) keep
    // every lag's r a true Pearson on its common support.
    "q289_acf" -> ((spark, dir) =>
      acfOf(tcache(dailyMeans(spark, dir), "q270:means"))),

    // KAPLAN–MEIER SURVIVAL — how long until a user acts again? The
    // product-limit estimator over per-user inter-event gaps (seconds),
    // with each user's final open interval to the corpus end entering
    // as a CENSORED observation — the retention/churn curve read. All
    // level arithmetic runs on the bounded distinct-gap-value domain
    // (one combinable gap count per side): at-risk counts come from one
    // cumulative window over that domain, each event level's
    // ln((n−d)/n) factor is micro-quantized to a BIGINT at birth (the
    // q50/q76 proven cross-engine log tolerance) so the cumulative
    // log-survival is an exact integer prefix sum (the q280 discipline),
    // and a level that absorbs everyone (n = d) zeroes the curve from
    // there on instead of producing −∞.
    "q290_kaplan_meier" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val e = raw.select(col("user_id"), QueryBase.tsUs(raw).as("ts_us"),
        col("event_id"))
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val obs = e.withColumn("nts", lead("ts_us", 1).over(w))
        .where(col("nts").isNotNull)
        .select(expr("(nts - ts_us) div 1000000").as("v"))
        .groupBy("v").agg(count(lit(1)).as("d"))
      val gmax = e.agg(max("ts_us").as("gmax"))
      val cens = e.groupBy("user_id").agg(max("ts_us").as("umax"))
        .crossJoin(broadcast(gmax))
        .select(expr("(gmax - umax) div 1000000").as("v"))
        .groupBy("v").agg(count(lit(1)).as("c"))
      kaplanMeierOf(obs.join(cens, Seq("v"), "full")
        .select(col("v"), coalesce(col("d"), lit(0L)).as("d"),
          coalesce(col("c"), lit(0L)).as("c")))
    }),

    // GINI CONCENTRATION — how unevenly is activity distributed over
    // users? Per type, the Gini coefficient of per-user event counts
    // via the rank-weighted closed form G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx)
    // on the ascending (x, user_id) total order — ties cannot move the
    // sum because the order is total. One combinable (type, user) count
    // over events, then ranking and moments on that |types|·|users|
    // aggregate; everything BIGINT until the single terminal division.
    "q291_gini" -> ((spark, dir) =>
      giniOf(table(spark, dir, "events")
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("x")))),

    // BENFORD FIRST-DIGIT SCREEN — the fabricated-data / fat-finger
    // detector: per type, χ² of the observed first-significant-digit
    // distribution of |cents-quantized value| against Benford's
    // log₁₀(1+1/d) law. The digit histogram is one combinable count
    // over events; the χ² fold runs on the 9-digit-per-type domain with
    // every term micro-quantized to a BIGINT at birth (order-independent
    // integer sum), and ALL nine digits enter (a digit that never occurs contributes
    // its full n·p_d expectation, which a naive observed-only join
    // would silently drop). Expected shares live in [[BenfordP]], ONE
    // place, embedded into the oracle SQL.
    "q292_benford" -> ((spark, dir) => {
      import spark.implicits._
      val f = table(spark, dir, "events")
        .select(col("event_type"),
          abs(floor(col("value") * lit(100.0) + lit(0.5)).cast("long")).as("avq"))
        .where(col("avq") > 0L)
        .select(col("event_type"),
          substring(col("avq").cast("string"), 1, 1).cast("int").as("dg"))
      benfordOf(f, broadcast(BenfordP.zipWithIndex
        .map { case (p, i) => (i + 1, p) }.toDF("dg", "p")))
    }),

    // MARKOV STATIONARY DISTRIBUTION — where does the q168 transition
    // matrix SEND its traffic in the long run? Three power-iteration
    // steps from the uniform start, entirely in scaled-integer
    // arithmetic: the row-stochastic matrix quantizes to ppm BIGINTs at
    // birth, each step's π·P contraction is an exact BIGINT
    // sum-of-products rescaled by one half-up integer division, and the
    // terminal normalization is the only double. The per-user lag pass
    // is the single data-sized stage (q168's shape); every iteration
    // is a join+agg on the ≤|types|² matrix against the |types|-row π.
    "q293_markov_stationary" -> ((spark, dir) => {
      val raw = table(spark, dir, "events")
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val counts = raw.select(col("user_id"), col("event_id"),
          col("event_type").as("nt"), QueryBase.tsUs(raw).as("ts_us"))
        .withColumn("pt", lag("nt", 1).over(w))
        .where(col("pt").isNotNull)
        .groupBy("pt", "nt").agg(count(lit(1)).as("n"))
      // the helper reads the matrix 4× (states, row sums, P, no-out
      // states) — cache the one data-sized lag pass behind it
      markovStationaryOf(tcache(counts, "q293:counts"))
    }),

    // ERASURE PROPAGATED INTO THE MATERIALIZED AGGREGATE — the GDPR
    // delete's derived-artifact half. q161/q162 prove the BASE table
    // forgets the flagged users; this proves a DERIVED artifact (the
    // q138 at-rest aggregate MV) forgets them too, by DECREMENT: the
    // erased users' own events re-aggregate through the same
    // dayTypePartials unit, negate, and merge into the stored partials
    // by plain addition — the integer partials make subtraction as
    // exact and order-independent as the q138 delta-add. Everything
    // past the scan is O(|erased slice|) + the day×type-sized MV —
    // history is never recomputed; the scan side carries the user
    // predicate pushed into parquet, and at 100 TB rides whatever
    // user-clustered layout the store keeps (the q137 bucket
    // discipline) so it too prunes to the flagged users' files. Groups whose count reaches zero leave the MV (a
    // rebuilt MV has no such row). The oracle recomputes the aggregate
    // from retained raw events — equality proves decremented-MV ==
    // rebuild-from-retained exactly, the erasure-propagation theorem
    // for additive aggregates.
    "q306_erasure_mv_decrement" -> ((spark, dir) => {
      val bT = aggBaseTable(spark, dir)
      val dec = negatePartials(dayTypePartials(table(spark, dir, "events")
        .where(col("event_id") % 10 =!= 0 &&
          pmod(col("user_id"), lit(PurgeUserMod)) === PurgeUserRes)))
      erasedMvServe(spark.table(bT), dec)
    }),

    // USER-ESTATE REMEDIATION, EXECUTED — the five q311 policies that r17
    // declared but never ran (the r17 verdict's #1), each performed by
    // [[remediatedUserEstateTables]] and then audited from the REMEDIATED
    // bytes (the q314 discipline: zero erased rows AND the exact retained
    // count, so a rewrite that dropped too much fails the gate):
    //   recluster_on_purge  — the z-order and ranged layouts rebuilt over
    //     the retained corpus through the SAME layout builders the
    //     originals used (same clustering, bounds re-derived, manifests
    //     from the written bytes);
    //   rewrite_on_purge    — each schema GENERATION rewritten from its
    //     own persisted bytes minus the cohort, original schema kept
    //     (gen1 stays 3-column, gen2 widened);
    //   rebuild_from_retained — the HLL register MV rebuilt from the
    //     retained stream (max-merged registers are not subtractable);
    //     the audit measure is CONTAMINATION of the rebuilt MV against
    //     the retained recompute — zero by shared construction, but
    //     MEASURED from the persisted rebuild;
    //   snapshot_expiry_horizon — snapshot v1 (superseded, past the
    //     horizon) EXPIRES from the remediated catalog while v2 (live)
    //     stays immutable and horizon-bounded: its contaminated-group
    //     count is reported, not zeroed — that IS the policy;
    //   retire_after_compaction — the deletion vector (which itself
    //     lists the flagged keys) retires to an empty store, written
    //     LAST so a build killed at the gate leaves it unretired.
    // The oracle re-derives all 7 (erased, retained) pairs from raw.
    "q315_user_estate_remediation" -> ((spark, dir) => {
      val n = remediatedUserEstateTables(spark, dir)
      val (rzT, rrT, rg1T, rg2T, rhT, rsmT, rdvT, rv3T) =
        (n(0), n(1), n(2), n(3), n(4), n(5), n(6), n(7))
      val flagged = pmod(col("user_id"), lit(PurgeUserMod)) === PurgeUserRes
      def audit(label: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(coalesce(sum(when(flagged, 1L).otherwise(0L)), lit(0L))
            .cast("long").as("erased_rows"), count(lit(1)).as("total"))
          .select(lit(label).as("artifact"), col("erased_rows"),
            (col("total") - col("erased_rows")).as("retained_rows"))
      // the HLL audit: contamination of the REBUILT registers vs the
      // retained recompute (must be 0), retained = the rebuilt MV's size
      val hllRow = DedupQueries.hllContaminationCountOf(spark.table(rhT),
          DedupQueries.retainedHllRegisters(spark, dir, flagged))
        .crossJoin(broadcast(spark.table(rhT).agg(count(lit(1)).as("total"))))
        .select(lit("hll_mv_registers").as("artifact"), col("erased_rows"),
          (col("total") - col("erased_rows")).as("retained_rows"))
      // snapshots are measured THROUGH the remediated catalog (the shared
      // snapshotCatalogRead): v1 expired → empty, v2 live-contaminated
      def snapRow(label: String, v: Long) = {
        val fg = dayTypePartials(table(spark, dir, "events").where(flagged))
          .select("day", "event_type")
        snapshotCatalogRead(spark, rsmT, v)
          .join(broadcast(fg), Seq("day", "event_type"), "left_semi")
          .agg(count(lit(1)).as("erased_rows"))
          .crossJoin(broadcast(snapshotCatalogRead(spark, rsmT, v)
            .agg(count(lit(1)).as("total"))))
          .select(lit(label).as("artifact"), col("erased_rows"),
            (col("total") - col("erased_rows")).as("retained_rows"))
      }
      // v3 (rebuilt from retained): contamination is DIFFERENCE from the
      // retained recompute (a group flagged users also touched legally
      // exists — its aggregate just excludes them), zero by construction
      // but measured from the persisted bytes
      val retPart = dayTypePartials(table(spark, dir, "events").where(!flagged))
        .withColumnRenamed("n", "n2").withColumnRenamed("s", "s2")
      val v3Row = spark.table(rv3T)
        .join(retPart, Seq("day", "event_type"), "full")
        .where(!(col("n") <=> col("n2")) || !(col("s") <=> col("s2")))
        .agg(count(lit(1)).as("erased_rows"))
        .crossJoin(broadcast(spark.table(rv3T).agg(count(lit(1)).as("total"))))
        .select(lit("snapshot_v3_groups").as("artifact"), col("erased_rows"),
          (col("total") - col("erased_rows")).as("retained_rows"))
      val dvRow = spark.table(rdvT).agg(count(lit(1)).as("erased_rows"))
        .select(lit("purge_deletion_vector").as("artifact"),
          col("erased_rows"), lit(0L).as("retained_rows"))
      audit("events_zorder", spark.table(rzT))
        .unionByName(audit("events_ranged", spark.table(rrT)))
        .unionByName(audit("events_schema_gens",
          spark.table(rg1T).select("user_id")
            .unionByName(spark.table(rg2T).select("user_id"))))
        .unionByName(hllRow)
        .unionByName(snapRow("snapshot_v1_groups", 1L))
        .unionByName(snapRow("snapshot_v2_groups", 2L))
        .unionByName(v3Row)
        .unionByName(dvRow)
    }),

    // ERASURE-AWARE TIME TRAVEL — the horizon contract itself as
    // gate-checked data (the r17 verdict's stretch #8): snapshots are the
    // one artifact where "forget" and "time travel" conflict by design,
    // and the q315 catalog resolves it with a bounded retention horizon.
    // One frame, three reads, all THROUGH the remediated catalog:
    //   a_within_horizon_v2 — the pre-purge snapshot is still reachable
    //     inside the horizon and its totals INCLUDE the cohort (that is
    //     the contract: bounded contaminated time travel, not a leak);
    //   b_post_horizon_v3   — the CoW-rewritten state a reader gets once
    //     the horizon passes: same coverage, cohort excluded;
    //   c_expired_v1        — the expired snapshot resolves to nothing.
    // The oracle re-derives a from ALL events and b from retained events
    // (the scaled-integer xsum discipline), pinning that v2's reachable
    // bytes still carry exactly the full-corpus aggregate and v3's
    // exactly the retained one.
    "q316_snapshot_horizon_travel" -> ((spark, dir) => {
      val rsmT = remediatedUserEstateTables(spark, dir)(5)
      def report(stage: String, v: Long) =
        snapshotCatalogRead(spark, rsmT, v)
          .agg(count(lit(1)).as("n_groups"),
            coalesce(sum("n"), lit(0L)).cast("long").as("n_events"),
            (coalesce(sum("s"), lit(0L)).cast("double") / lit(1000000.0))
              .as("sum_value"))
          .select(lit(stage).as("stage"), col("n_groups"), col("n_events"),
            col("sum_value"))
      report("a_within_horizon_v2", 2L)
        .unionByName(report("b_post_horizon_v3", 3L))
        .unionByName(report("c_expired_v1", 1L))
    })
  )

  /** q315's declared artifact labels (the [[graft.queries.EstateCoverage]]
    * tie for the `eraserem2` lifecycle key). */
  private[graft] val UserEstateRemediationClasses: Seq[String] = Seq(
    "events_zorder", "events_ranged", "events_schema_gens",
    "hll_mv_registers", "snapshot_v1_groups", "snapshot_v2_groups",
    "snapshot_v3_groups", "purge_deletion_vector")

  /** The q315 remediated user estate — the five declared policies
    * EXECUTED, each in the artifact's original layout, with
    * [[AtRestTables.faultPoint]]s between writes (AtRestFaultSpec's
    * kill-window discipline). Ordering contract: the deletion vector's
    * retirement is the LAST write, gated behind every dependent rewrite —
    * a build killed at `eraserem2:dvgate` leaves the vector live (the
    * EstateRemediationSpec pin), because retiring it first would lose the
    * only record of which keys the pending rewrites must drop. Scale
    * note: the z-order/ranged reclusters re-run the original builders
    * over the retained corpus — with the cohort spread uniformly
    * (user % 50), every file holds cohort rows and a manifest-pruned
    * partial rewrite would touch every file anyway; a skewed production
    * cohort would instead rewrite only manifest-positive files (the q161
    * partition-rewrite discipline). Snapshot expiry is CATALOG-level (the
    * Iceberg expire-snapshots mechanism): the remediated catalog lists
    * only the live version's files; the superseded version's bytes are
    * reclaimed by the registry's deferred-delete lifecycle, never read
    * again through this store. */
  private def remediatedUserEstateTables(spark: org.apache.spark.sql.SparkSession,
                                         dir: String): Seq[String] =
    AtRestTables.get(spark, s"eraserem2|$dir") { base =>
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      val flagged = pmod(col("user_id"), lit(PurgeUserMod)) === PurgeUserRes
      val retained = table(spark, dir, "events").where(!flagged)
      // the deletion vector's dependents must exist BEFORE it retires:
      // the q161 CoW purged layout (its source) and the rewrites below
      val (_, dvT) = purgedLayoutTables(spark, dir)
      val (g1T, g2T) = schemaEvoTables(spark, dir)
      val (_, v2T) = mvSnapshotTables(spark, dir)
      val rzT = s"graft_rem_zorder_$sfx"; val rzmT = s"graft_rem_zman_$sfx"
      val rrT = s"graft_rem_ranged_$sfx"; val rrmT = s"graft_rem_skipman_$sfx"
      val rg1T = s"graft_rem_evo_g1_$sfx"; val rg2T = s"graft_rem_evo_g2_$sfx"
      val rhT = s"graft_rem_hllmv_$sfx"
      val rsmT = s"graft_rem_snapman_$sfx"
      val rdvT = s"graft_rem_dv_$sfx"
      buildZorderLayout(spark, retained, s"$base/zdata", rzT, s"$base/zman", rzmT)
      AtRestTables.faultPoint("eraserem2:z")
      buildRangedLayout(spark, retained, s"$base/ranged", rrT, s"$base/skipman", rrmT)
      AtRestTables.faultPoint("eraserem2:ranged")
      spark.table(g1T).where(!flagged)
        .write.mode("overwrite").option("path", s"$base/evo1").saveAsTable(rg1T)
      AtRestTables.faultPoint("eraserem2:g1")
      spark.table(g2T).where(!flagged)
        .write.mode("overwrite").option("path", s"$base/evo2").saveAsTable(rg2T)
      AtRestTables.faultPoint("eraserem2:g2")
      DedupQueries.retainedHllRegisters(spark, dir, flagged)
        .write.mode("overwrite").option("path", s"$base/hllmv").saveAsTable(rhT)
      AtRestTables.faultPoint("eraserem2:hll")
      // snapshot v3: the POST-HORIZON state — the full-coverage aggregate
      // rewritten copy-on-write from the retained corpus (what a reader
      // gets once the horizon passes and the contaminated snapshots are
      // gone); landed as its own immutable version, never touching v2
      val rv3T = s"graft_rem_snap_v3_$sfx"
      dayTypePartials(retained)
        .write.mode("overwrite").option("path", s"$base/snapv3").saveAsTable(rv3T)
      AtRestTables.faultPoint("eraserem2:v3")
      // snapshot expiry: the remediated catalog references each LIVE
      // version's files by path (v2 never copied — SnapshotSpec's
      // immutability pin keeps holding on the original bytes) and omits
      // the expired v1 entirely; the status column is the horizon
      // contract made data (q316 gate-checks both reads)
      import spark.implicits._
      (spark.table(v2T).inputFiles.toIndexedSeq
          .map(f => (2L, f, "contaminated_within_horizon")) ++
        spark.table(rv3T).inputFiles.toIndexedSeq.map(f => (3L, f, "clean")))
        .toDF("version", "file", "status").coalesce(1)
        .write.mode("overwrite").option("path", s"$base/snapman").saveAsTable(rsmT)
      AtRestTables.faultPoint("eraserem2:snap")
      AtRestTables.faultPoint("eraserem2:dvgate")
      spark.table(dvT).limit(0)
        .write.mode("overwrite").option("path", s"$base/dv").saveAsTable(rdvT)
      Seq(rzT, rrT, rg1T, rg2T, rhT, rsmT, rdvT, rv3T)
    }

  /** Read one snapshot version THROUGH the remediated catalog — an
    * expired version resolves to zero reachable files (the empty typed
    * frame), a live one to its untouched persisted bytes. Shared by the
    * q315 audit and the q316 horizon-travel read. */
  private def snapshotCatalogRead(spark: org.apache.spark.sql.SparkSession,
                                  rsmT: String, v: Long)
      : org.apache.spark.sql.DataFrame = {
    val files = spark.table(rsmT).where(col("version") === v)
      .select("file").collect().map(_.getString(0)) // bounded: manifest
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("day",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("s",
            org.apache.spark.sql.types.LongType))))
    else spark.read.parquet(files.toIndexedSeq: _*)
  }

  /** Negate a [[dayTypePartials]] frame — the erasure-side unit of the
    * additive MV algebra: integer partials make subtraction as exact and
    * order-independent as the q138 delta-add. ONE definition for q306's
    * batch decrement and [[graft.streaming.StreamingMvErasure]]'s
    * micro-batches, so the two forgetting surfaces cannot drift. */
  private[graft] def negatePartials(p: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    p.select(col("day"), col("event_type"),
      (-col("n")).as("n"), (-col("s")).as("s"))

  /** The q306 serve: merge the stored MV partials with (negated)
    * decrement partials and drop groups whose count reached zero (a
    * rebuilt MV has no such row). ONE definition shared with the
    * streaming erasure leg's replay proof. */
  private[graft] def erasedMvServe(base: org.apache.spark.sql.DataFrame,
      decs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    mergePartials(base.unionByName(decs)).where(col("n_events") > 0L)

  /** q285's cross-moment tail on a [[dailyMeans]]-shaped frame —
    * factored so the spec can drive planted co-moving series through the
    * exact production algebra. */
  private[graft] def crossCorrelationOf(
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val a = d.select(col("event_type").as("ta"), col("day"),
      col("mq").as("ma"))
    val b = d.select(col("event_type").as("tb"), col("day").as("day2"),
      col("mq").as("mb"))
    a.join(b, col("day") === col("day2") && col("ta") < col("tb"))
      .groupBy("ta", "tb")
      .agg(count(lit(1)).as("n_days"),
        sum("ma").as("sx"), sum("mb").as("sy"),
        sum(col("ma") * col("ma")).as("sxx"),
        sum(col("mb") * col("mb")).as("syy"),
        sum(col("ma") * col("mb")).as("sxy"))
      .withColumn("num", col("n_days") * col("sxy") - col("sx") * col("sy"))
      .withColumn("d1", col("n_days") * col("sxx") - col("sx") * col("sx"))
      .withColumn("d2", col("n_days") * col("syy") - col("sy") * col("sy"))
      .select(col("ta"), col("tb"), col("n_days"),
        when(col("d1") > 0L && col("d2") > 0L,
          pround(col("num").cast("double") /
            sqrt(col("d1").cast("double") * col("d2").cast("double")), 6))
          .otherwise(lit(0.0)).as("r"))
  }

  /** q289's per-lag Pearson tail on a [[dailyMeans]]-shaped frame —
    * factored so the spec can drive a planted periodic series through
    * the exact production algebra. The lag fan-out explodes the bounded
    * |types|·|days| aggregate by |[[AcfLags]]| — never raw events — and
    * each (type, lag) group folds the same five BIGINT moments as
    * [[crossCorrelationOf]] over its own overlap window. */
  private[graft] def acfOf(
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val a = d.select(col("event_type"), col("day"), col("mq").as("ma"),
      explode(array(AcfLags.map(l => lit(l.toLong)): _*)).as("lag_d"))
    val b = d.select(col("event_type").as("et2"), col("day").as("day2"),
      col("mq").as("mb"))
    a.join(b, col("event_type") === col("et2") &&
        col("day2") === col("day") + col("lag_d"))
      .groupBy("event_type", "lag_d")
      .agg(count(lit(1)).as("n_days"),
        sum("ma").as("sx"), sum("mb").as("sy"),
        sum(col("ma") * col("ma")).as("sxx"),
        sum(col("mb") * col("mb")).as("syy"),
        sum(col("ma") * col("mb")).as("sxy"))
      .withColumn("num", col("n_days") * col("sxy") - col("sx") * col("sy"))
      .withColumn("d1", col("n_days") * col("sxx") - col("sx") * col("sx"))
      .withColumn("d2", col("n_days") * col("syy") - col("sy") * col("sy"))
      .select(col("event_type"), col("lag_d"), col("n_days"),
        when(col("d1") > 0L && col("d2") > 0L,
          pround(col("num").cast("double") /
            sqrt(col("d1").cast("double") * col("d2").cast("double")), 6))
          .otherwise(lit(0.0)).as("r"))
  }

  /** q290's product-limit tail on a (v, d, c) level frame (distinct gap
    * value, event count, censored count) — factored for the spec. The
    * level domain is distinct gap VALUES, never raw events, but at 100 TB
    * a multi-year corpus makes that domain span-sized (~10⁸ distinct
    * seconds), so no single-task global window is allowed here (r13's
    * version drew the `WindowExec: No Partition Defined` warning). Both
    * cumulative passes are instead range-bucketed prefix sums stitched
    * through a driver-side offset table: bucket `b = v div
    * [[KmStitchWidth]]` holds ≤ KmStitchWidth CONSECUTIVE distinct values
    * (bounded per task by construction, skew-proof), the per-bucket
    * running sums are ordinary partitioned windows, and the ≤ span/width
    * bucket-total frame — the only thing collected — is prefix-summed on
    * the driver and broadcast back. All stitch arithmetic is exact
    * BIGINT, so the result is bit-identical to the single-window form.
    *
    * Each event level's ln((n−d)/n) factor is micro-quantized to a
    * BIGINT at birth, making the cumulative log-survival an exact
    * (order-free) integer prefix sum; the first absorbing level (d = n)
    * zeroes the curve from there on — and because every level at or past
    * the absorber takes the literal-0 branch, the exp branch never reads
    * a prefix that crossed an absorbing level, so folding the absorber's
    * null factor as 0 in the stitch is value-identical. */
  private[graft] def kaplanMeierOf(
      lv: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = lv.sparkSession
    import spark.implicits._
    val wIn = Window.partitionBy("b").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val base = tcache(
      lv.withColumn("b", expr(s"v div $KmStitchWidth"))
        .withColumn("cum_in", sum(col("d") + col("c")).over(wIn)),
      "q290:levels")
    // stitch 1: at-risk counts need the exclusive global cumulative of
    // (d+c); collect the bounded bucket totals and prefix-sum them —
    // with the stitchedRowNumber collect guard (one cheap count on the
    // cached level frame): gap-second domains are span/KmStitchWidth
    // buckets by construction, but a future caller feeding µs-scaled
    // levels would otherwise OOM the driver silently
    val btF = base.groupBy("b").agg(sum(col("d") + col("c")).as("bt"))
    // guard + prefix-sum input from ONE bounded collect (retuned with
    // stitchedRowNumber's guard, per the shared-guard note): the
    // limit caps what can reach the driver, the require stays loud
    val btRaw = btF.limit(
      math.min(StitchCollectBound + 1, Int.MaxValue.toLong).toInt).collect()
    require(btRaw.length <= StitchCollectBound,
      s"kaplanMeierOf: more than $StitchCollectBound stitch buckets — " +
        s"level values span too wide a domain for width $KmStitchWidth; " +
        "rescale the levels or widen KmStitchWidth")
    val bt = btRaw.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val tot = bt.iterator.map(_._2).sum
    var acc1 = 0L
    val off1 = bt.map { case (b, x) => val o = acc1; acc1 += x; (b, o) }
    val withN = base.join(broadcast(off1.toSeq.toDF("b", "off")), Seq("b"))
      .withColumn("n",
        lit(tot) - (col("off") + col("cum_in") - col("d") - col("c")))
      .withColumn("lq",
        when(col("d") === col("n"), lit(0L))
          .otherwise(when(col("d") > 0L,
            floor(log((col("n") - col("d")).cast("double") /
                col("n").cast("double")) * lit(1.0e6) + lit(0.5))
              .cast("long"))
            .otherwise(lit(0L))))
      .withColumn("cls_in", sum("lq").over(wIn))
    // stitch 2: the cumulative log-survival prefix, plus the global
    // first-absorbing level, off the same bounded bucket frame
    val bs = withN.groupBy("b")
      .agg(sum("lq").as("blq"),
        min(when(col("d") === col("n"), col("v"))).as("babs"))
      .collect()
    val vabs = bs.iterator
      .filterNot(_.isNullAt(2)).map(_.getLong(2))
      .foldLeft(Option.empty[Long])((m, x) => Some(m.fold(x)(math.min(_, x))))
    var acc2 = 0L
    val off2 = bs.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .map { case (b, x) => val o = acc2; acc2 += x; (b, o) }
    val curve = withN.join(broadcast(off2.toSeq.toDF("b", "off2")), Seq("b"))
      .withColumn("cls", col("off2") + col("cls_in"))
    val sCol = pround(exp(col("cls").cast("double") / lit(1.0e6)), 6)
    curve.select(col("v"), col("d"), col("c"), col("n"),
      vabs.fold(sCol)(a =>
        when(col("v") >= lit(a), lit(0.0)).otherwise(sCol)).as("s"))
  }

  /** q290's stitch-bucket width: each bucket covers this many consecutive
    * gap-second values, so a per-bucket window task sees at most this
    * many rows and the collected bucket-total frame is ≤ span/width rows
    * — bounded by construction at any corpus scale. Pure plan shape; no
    * oracle surface. */
  private[graft] val KmStitchWidth: Long = 4096L

  /** q291's rank-weighted Gini tail on an (event_type, user_id, x)
    * frame — factored for the spec. The (x, user_id) order is total, so
    * row_number is deterministic and the closed form is tie-proof;
    * everything BIGINT until the one terminal division. */
  private[graft] def giniOf(
      g: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("x"), col("user_id"))
    g.withColumn("i", row_number().over(w).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"), sum("x").as("sx"),
        sum(col("i") * col("x")).as("six"))
      .select(col("event_type"), col("n_users"),
        when(col("n_users") > 0L && col("sx") > 0L,
          pround((lit(2L) * col("six") - (col("n_users") + lit(1L)) * col("sx"))
            .cast("double") /
            (col("n_users") * col("sx")).cast("double"), 6))
          .otherwise(lit(0.0)).as("gini"))
  }

  /** q292's all-nine-digits χ² tail on an (event_type, dg) observation
    * frame against a broadcast (dg, p) expectation frame — factored for
    * the spec. The left join from the dense type×digit lattice keeps
    * zero-count digits (they still contribute n·p_d to χ²); each term is
    * micro-quantized to a BIGINT at birth so the per-type fold is an
    * order-free integer sum. */
  private[graft] def benfordOf(
      f: org.apache.spark.sql.DataFrame,
      p: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val counts = f.groupBy("event_type", "dg").agg(count(lit(1)).as("nd"))
    val totals = f.groupBy("event_type").agg(count(lit(1)).as("n"))
    totals.crossJoin(p)
      .join(counts, Seq("event_type", "dg"), "left")
      .withColumn("nd", coalesce(col("nd"), lit(0L)))
      .withColumn("expn", col("n").cast("double") * col("p"))
      .withColumn("tq",
        floor((col("nd").cast("double") - col("expn")) *
          (col("nd").cast("double") - col("expn")) / col("expn") *
          lit(1.0e6) + lit(0.5)).cast("long"))
      .groupBy("event_type")
      .agg(max("n").as("n"), sum("tq").as("chi2q"))
      .select(col("event_type"), col("n"),
        pround(col("chi2q").cast("double") / lit(1.0e6), 6).as("chi2"))
  }

  /** q293's scaled-integer power iteration on a (pt, nt, n) transition
    * count frame — factored for the spec. The row-stochastic matrix
    * quantizes to ppm BIGINTs with one exact half-up integer division
    * per cell; states with no outgoing transitions get an explicit
    * self-loop (the standard absorbing fix, keeping every row
    * stochastic); [[MarkovIters]] π·P contractions each rescale by one
    * half-up ppm division, so both engines walk identical integers; the
    * terminal normalization is the only double. Every frame here is
    * ≤ |types|² rows — the caller pays the one data-sized lag pass. */
  private[graft] def markovStationaryOf(
      counts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val states = counts.select(col("pt").as("s"))
      .union(counts.select(col("nt").as("s"))).distinct()
    val rs = counts.groupBy("pt").agg(sum("n").as("rsum"))
    val pq = counts.join(rs, "pt")
      .select(col("pt"), col("nt"),
        expr("(2 * n * 1000000 + rsum) div (2 * rsum)").as("p_q"))
    val noOut = states.join(counts.select("pt").distinct(),
        col("s") === col("pt"), "left_anti")
      .select(col("s").as("pt"), col("s").as("nt"),
        lit(1000000L).as("p_q"))
    val pm = pq.union(noOut)
    val k = states.agg(count(lit(1)).as("k"))
    // The iteration state pi is STATE-DOMAIN-sized (the event-type
    // dictionary — bounded at any corpus size), so each round's pi is
    // collected and re-literalized (the r18 driver-held-iteration-state
    // discipline, see pqCodebookFrom): lazily, round i's plan re-derived
    // pm and the whole round-(i−1) aggregation chain once per level.
    // Every v is still produced by the identical Spark integer
    // expressions — the collect only cuts the lineage (exact BIGINTs
    // round-trip trivially), so the oracle's unrolled CTE chain still
    // hash-matches.
    val spark = counts.sparkSession
    def piLit(rows: Array[(String, Long)]) = {
      import spark.implicits._
      rows.toSeq.toDF("s", "v")
    }
    var pi = piLit(states.crossJoin(broadcast(k))
      .select(col("s"), expr("1000000 div k").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1))))
    for (_ <- 1 to MarkovIters) {
      pi = piLit(pm.join(broadcast(pi), col("pt") === col("s"))
        .groupBy("nt")
        .agg(sum(col("v") * col("p_q")).as("sp"))
        .select(col("nt").as("s"), expr("(sp + 500000) div 1000000").as("v"))
        .collect().map(r => (r.getString(0), r.getLong(1))))
    }
    val totV = pi.agg(sum("v").as("tv"))
    states.join(pi, Seq("s"), "left")
      .select(col("s"), coalesce(col("v"), lit(0L)).as("v"))
      .crossJoin(broadcast(totV))
      .select(col("s").as("event_type"), col("v").as("pi_q"),
        pround(col("v").cast("double") / col("tv").cast("double"), 6).as("pi"))
  }

  /** q289's correlogram lags, in days — ONE definition, embedded into
    * the oracle SQL's VALUES list. */
  private[graft] val AcfLags: Seq[Int] = 1 to 7

  /** q293's fixed power-iteration count — ONE definition, unrolled into
    * the oracle SQL's CTE chain. */
  private[graft] val MarkovIters: Int = 3

  /** q275's Mann–Whitney tail on a [[pairDomain]]-shaped frame — factored
    * so the spec can drive planted two-sample fixtures through the exact
    * production algebra. */
  private[graft] def mannWhitneyOf(
      pd: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ag = pd.groupBy("ta", "tb")
      .agg(sum(col("na_v") * col("r2")).as("ra2"),
        sum("na_v").as("n_a"), sum("nb_v").as("n_b"),
        // tie-term headroom: BIGINT-exact while n_v ≤ 2²¹ per quantized
        // value; past that both engines raise (ANSI / checked BIGINT) —
        // see the q273 twin and TieOverflowSpec.
        sum(col("n_v") * (col("n_v") - 1) * (col("n_v") + 1)).as("tie_sum"))
      .withColumn("u2", col("ra2") - col("n_a") * (col("n_a") + 1))
      .withColumn("n", col("n_a") + col("n_b"))
    ag.withColumn("sigma2",
        col("n_a").cast("double") * col("n_b").cast("double") *
          ((col("n") + 1).cast("double") -
            col("tie_sum").cast("double") /
              (col("n").cast("double") * (col("n") - 1).cast("double"))) /
          lit(12.0))
      .withColumn("num2", col("u2") - col("n_a") * col("n_b"))
      .select(col("ta"), col("tb"), col("n_a"), col("n_b"),
        (col("u2").cast("double") / lit(2.0)).as("u"),
        pround(col("u2").cast("double") /
          (lit(2.0) * col("n_a").cast("double") * col("n_b").cast("double")),
          6).as("auc"),
        when(col("sigma2") > 0.0 && col("num2") =!= 0L,
          pround((col("num2") - when(col("num2") > 0L, lit(1L))
              .otherwise(lit(-1L))).cast("double") /
            (lit(2.0) * sqrt(col("sigma2"))), 6))
          .otherwise(lit(0.0)).as("z"))
  }

  /** q276's KS tail on a [[pairDomain]]-shaped frame (same spec
    * rationale). */
  private[graft] def ksTwoSampleOf(
      pd: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val wc = Window.partitionBy("ta", "tb").orderBy("vq")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wp = Window.partitionBy("ta", "tb")
    pd.withColumn("ca", sum("na_v").over(wc))
      .withColumn("cb", sum("nb_v").over(wc))
      .withColumn("ta_n", sum("na_v").over(wp))
      .withColumn("tb_n", sum("nb_v").over(wp))
      .withColumn("diff",
        abs(col("ca") * col("tb_n") - col("cb") * col("ta_n")))
      .groupBy("ta", "tb")
      .agg(max("ta_n").as("n_a"), max("tb_n").as("n_b"),
        max("diff").as("maxdiff"))
      .withColumn("d", col("maxdiff").cast("double") /
        (col("n_a").cast("double") * col("n_b").cast("double")))
      .select(col("ta"), col("tb"), col("n_a"), col("n_b"),
        pround(col("d"), 9).as("d"),
        pround(col("d") * sqrt((col("n_a") * col("n_b")).cast("double") /
          (col("n_a") + col("n_b")).cast("double")), 6).as("ks_stat"))
  }

  /** q279's pairwise-mean median on a [[dailyMeans]]-shaped frame (same
    * spec rationale). */
  private[graft] def hodgesLehmannOf(
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val a = d.select(col("event_type"), col("day").as("di"), col("mq").as("mi"))
    val b = d.select(col("event_type").as("et2"), col("day").as("dj"),
      col("mq").as("mj"))
    val pairs = a.join(b, col("event_type") === col("et2") &&
        col("di") <= col("dj"))
      .select(col("event_type"), col("di"), col("dj"),
        (col("mi") + col("mj")).as("w2"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("w2"), col("di"), col("dj"))
    pairs.withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(Window.partitionBy("event_type")))
      .where(col("rn") === expr("(np + 1) div 2"))
      .select(col("event_type"), col("np").as("n_pairs"),
        pround(col("w2").cast("double") / lit(20000.0), 6).as("hl"))
  }

  /** q280's Page–Hinkley pass on a [[dailyMeans]]-shaped frame (same
    * spec rationale; the streaming twin replays against this). */
  private[graft] def pageHinkleyOf(
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ord = Window.partitionBy("event_type").orderBy("day")
    val run = ord.rowsBetween(Window.unboundedPreceding, 0)
    val ph = d
      .withColumn("i", row_number().over(ord))
      .withColumn("cs", sum("mq").over(run))
      .withColumn("qd",
        floor(col("mq").cast("double") -
          col("cs").cast("double") / col("i").cast("double") + lit(0.5))
          .cast("long") - lit(PhDeltaQ))
      .withColumn("m", sum("qd").over(run))
      .withColumn("runmin", min("m").over(run))
      .withColumn("dev", col("m") - col("runmin"))
    ph.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), max("dev").as("max_dev_q"),
        min(when(col("dev") > PhLambdaQ, col("day"))).as("alarm"))
      .select(col("event_type"), col("n_days"),
        pround(col("max_dev_q").cast("double") / lit(10000.0), 4).as("max_dev"),
        coalesce(col("alarm"), lit(-1L)).as("alarm_day"))
  }

  /** q280's Page–Hinkley knobs, in mq units (mean·10⁴): δ — the drift
    * allowance subtracted from every deviation — and λ — the alarm
    * threshold on (PH sum − running min). ONE definition each, embedded
    * into the oracle SQL and the streaming twin. δ = 0.5 value units,
    * λ = 20 value units. */
  private[graft] val PhDeltaQ = 5000L
  private[graft] val PhLambdaQ = 200000L

  /** q275/q276's shared per-type-pair bounded value-domain frame: for
    * every ordered pair (ta < tb) of event types, the union of the two
    * types' cents-quantized values with per-side counts, the combined
    * count-below (exclusive running sum in vq order) and the DOUBLED
    * combined midrank r2 = 2·c_below + n_v + 1 (always an odd BIGINT, so
    * half-ranks never materialize). |pairs| ≤ |types|², domain ≤ 10⁵
    * after quantization — aggregation-sized regardless of corpus scale. */
  private def pairDomain(spark: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame =
    pairDomainOf(table(spark, dir, "events")
      .select(col("event_type"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("vq")))

  /** The same derivation on a caller-supplied (event_type, vq) frame —
    * the spec drives planted samples through it. */
  private[graft] def pairDomainOf(
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tv = e.groupBy("event_type", "vq").agg(count(lit(1)).as("n_tv"))
    val types = e.select("event_type").distinct()
    val pairs = types.select(col("event_type").as("ta"))
      .crossJoin(types.select(col("event_type").as("tb")))
      .where(col("ta") < col("tb"))
    val ca = tv.withColumnRenamed("event_type", "ta")
      .join(broadcast(pairs), Seq("ta"))
      .select(col("ta"), col("tb"), col("vq"),
        col("n_tv").as("na_v"), lit(0L).as("nb_v"))
    val cb = tv.withColumnRenamed("event_type", "tb")
      .join(broadcast(pairs), Seq("tb"))
      .select(col("ta"), col("tb"), col("vq"),
        lit(0L).as("na_v"), col("n_tv").as("nb_v"))
    val wv = Window.partitionBy("ta", "tb").orderBy("vq")
      .rowsBetween(Window.unboundedPreceding, -1)
    ca.union(cb).groupBy("ta", "tb", "vq")
      .agg(sum("na_v").as("na_v"), sum("nb_v").as("nb_v"))
      .withColumn("n_v", col("na_v") + col("nb_v"))
      .withColumn("c_below",
        coalesce(sum("n_v").over(wv), lit(0L)))
      .withColumn("r2", lit(2L) * col("c_below") + col("n_v") + 1L)
  }

  /** The shared q277/q278 ANOVA tail: from a per-group (n_t, s_t, ss_t)
    * BIGINT moment frame, the sorted-fold between-group sum, SSB/SSW and
    * the F ratio — one row out (k, n, ssb, ssw, f). Degenerate shapes
    * (k ≤ 1, n ≤ k, zero within-variance) report f = 0 instead of a
    * divide error. */
  private[graft] def anovaF(
      pt: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val terms = pt.withColumn("term",
      col("s_t").cast("double") * col("s_t").cast("double") /
        col("n_t").cast("double"))
    terms.agg(sum("n_t").as("n"), count(lit(1)).as("k"),
        sum("s_t").as("s"), sum("ss_t").as("ss"),
        expr("aggregate(sort_array(collect_list(struct(event_type, term)))," +
          " cast(0.0 as double), (acc, x) -> acc + x.term)").as("sb"))
      .withColumn("ssb", col("sb") -
        col("s").cast("double") * col("s").cast("double") /
          col("n").cast("double"))
      .withColumn("ssw", col("ss").cast("double") - col("sb"))
      .select(col("k"), col("n"), pround(col("ssb"), 6).as("ssb"),
        pround(col("ssw"), 6).as("ssw"),
        when(col("k") > 1L && col("n") > col("k") && col("ssw") > 0.0,
          pround((col("ssb") / (col("k") - 1).cast("double")) /
            (col("ssw") / (col("n") - col("k")).cast("double")), 6))
          .otherwise(lit(0.0)).as("f"))
  }

  /** q267/q270's shared per-(type, day) daily-mean frame: per-day cent
    * sums and counts (one combinable aggregation over events), means
    * micro-quantized to exact BIGINTs (floor(sv/cnt·10⁴ + ½) — division
    * of two exact-integer-valued doubles, identical IEEE ops in both
    * engines). */
  private[graft] def dailyMeans(spark: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame = {
    val raw = table(spark, dir, "events")
    raw.select(col("event_type"), QueryBase.tsUs(raw).as("ts_us"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("vq"))
      .withColumn("day", expr(s"ts_us div $DayUs"))
      .groupBy("event_type", "day")
      .agg(sum("vq").as("sv"), count(lit(1)).as("cnt"))
      .withColumn("mq", floor(col("sv").cast("double") /
        col("cnt").cast("double") * lit(10000.0) + lit(0.5)).cast("long"))
  }

  /** q264/q265 sweep-line session gap — ONE HOUR in µs, deliberately
    * tighter than [[SessionGapUs]]'s 2 days so the interval family
    * produces real within-day concurrency structure. ONE definition,
    * embedded into the oracle SQL. */
  private[graft] val SweepGapUs = 3600000000L

  /** q264/q265's shared day-clipped boundary frame, from a prepared
    * (user_id, ts_us, event_id) frame: gap-sessionize per user with
    * [[SweepGapUs]], explode each session span across the UTC days it
    * touches (clipped to [day·DayUs, (day+1)·DayUs − 1]), then collapse
    * to DISTINCT (day, t) rows carrying how many spans start (ns) and
    * end (ne) at t. Everything downstream of the per-user window is
    * combinable aggregation; the distinct-timestamp collapse is what
    * makes the later running sums tie-proof. Factored on a frame so the
    * spec can drive synthetic timelines through the exact production
    * arithmetic. */
  private[graft] def sweepBoundariesOf(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    clipSpansToBoundaries(gapSessionsOf(ev))

  /** The gap-sessionize half of [[sweepBoundariesOf]]: (user_id, ts_us,
    * event_id) events → (user_id, s_us, e_us) session spans under
    * [[SweepGapUs]]. Factored so the streaming sessionizer's replay spec
    * can prove its final state equals this frame exactly. */
  private[graft] def gapSessionsOf(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val byU = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    ev.withColumn("prev_us", lag("ts_us", 1).over(byU))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > SweepGapUs, 1).otherwise(0))
      .withColumn("sid",
        sum("is_new").over(byU.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(min("ts_us").as("s_us"), max("ts_us").as("e_us"))
      .select("user_id", "s_us", "e_us")
  }

  /** The day-clip + distinct-timestamp-collapse half of
    * [[sweepBoundariesOf]], on a (…, s_us, e_us) span frame from ANY
    * producer (the batch window above, or the streaming sessionizer's
    * emitted state). */
  private[graft] def clipSpansToBoundaries(
      spans: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val clipped = spans
      .withColumn("day",
        explode(sequence(expr(s"s_us div $DayUs"), expr(s"e_us div $DayUs"))))
      .select(col("day"),
        greatest(col("s_us"), col("day") * lit(DayUs)).as("cs"),
        least(col("e_us"), (col("day") + lit(1L)) * lit(DayUs) - lit(1L)).as("ce"))
    // one bounded explode, NOT a unionAll of two projections: a union of
    // two references to the same frame makes Spark execute the whole
    // sessionize pipeline (scan + user_id shuffle + two windows) twice —
    // the dominant cost at scale, paid once here
    clipped.select(col("day"), explode(array(
        struct(col("cs").as("t"), lit(1L).as("s"), lit(0L).as("e")),
        struct(col("ce").as("t"), lit(0L).as("s"), lit(1L).as("e")))).as("b"))
      .select(col("day"), col("b.t"), col("b.s"), col("b.e"))
      .groupBy("day", "t")
      .agg(sum("s").as("ns"), sum("e").as("ne"))
  }

  private def sweepBoundaries(spark: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame = {
    val raw = table(spark, dir, "events")
    sweepBoundariesOf(raw.select(col("user_id"),
      QueryBase.tsUs(raw).as("ts_us"), col("event_id")))
  }

  /** q265's terminal arithmetic on a (day, t, ns, ne) boundary frame:
    * a segment (t_i, t_{i+1}) is covered iff the running net count AFTER
    * t_i's boundaries is positive; factored like [[peakOfBoundaries]] so
    * the streaming sessionizer's replay spec shares it. */
  private[graft] def coverageOfBoundaries(
      b: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ord = Window.partitionBy("day").orderBy("t")
    val run = ord.rowsBetween(Window.unboundedPreceding, 0)
    b.withColumn("active_after", sum(col("ns") - col("ne")).over(run))
      .withColumn("seg", lead("t", 1).over(ord) - col("t"))
      .groupBy("day")
      .agg(coalesce(sum(when(col("active_after") > 0L, col("seg"))),
        lit(0L)).as("covered_us"))
      .select(col("day"), col("covered_us"),
        pround(col("covered_us").cast("double") /
          lit(DayUs.toDouble), 6).as("utilization"))
  }

  /** q264's terminal arithmetic on a (day, t, ns, ne) boundary frame:
    * tie-proof per-day running concurrency → per-day peak/span/boundary
    * report. Factored so the streaming sessionizer's replay spec drives
    * its emitted spans through the identical aggregation. */
  private[graft] def peakOfBoundaries(
      b: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val run = Window.partitionBy("day").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, 0)
    b.withColumn("conc", sum(col("ns") - col("ne")).over(run) + col("ne"))
      .groupBy("day")
      .agg(max("conc").as("peak_concurrent"),
        sum("ns").as("n_spans"),
        count(lit(1)).as("n_boundaries"))
  }

  /** q190's expected Benford probabilities log10(1+1/d), d=1..9 — quantized
    * ONCE here and embedded as literals into BOTH engines. */
  private val BenfordP: Seq[Double] =
    (1 to 9).map(d => math.floor(math.log10(1.0 + 1.0 / d) * 1e9 + 0.5) / 1e9)

  /** q192's truncated-EWMA weights α(1−α)^k, α=0.5, k=0..7, as integer
    * millionths — ONE definition for the batch query, the oracle SQL AND
    * the [[graft.streaming.StreamingEwma]] live twin. */
  private[graft] val EwmaWq: Seq[Long] =
    (0 to 7).map(k => math.floor(0.5 * math.pow(0.5, k) * 1e6 + 0.5).toLong)

  /** q192's per-event EWMA frame (event_type, event_id, user_id, ewma) —
    * factored out so the streaming replay spec can compare
    * [[graft.streaming.StreamingEwma]]'s per-event output against the
    * exact batch arithmetic. */
  private[graft] def ewmaEvents(spark: org.apache.spark.sql.SparkSession,
                                dir: String): org.apache.spark.sql.DataFrame = {
    val raw = table(spark, dir, "events")
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val e = raw.select(col("event_type"), col("event_id"), col("user_id"),
        QueryBase.tsUs(raw).as("ts_us"),
        floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("vq"))
    val lagged = EwmaWq.zipWithIndex.foldLeft(e) { case (df, (_, k)) =>
      df.withColumn(s"v$k", if (k == 0) col("vq") else lag(col("vq"), k).over(w))
    }
    val num = EwmaWq.zipWithIndex.map { case (wq, k) =>
      when(col(s"v$k").isNotNull, lit(wq) * col(s"v$k")).otherwise(lit(0L))
    }.reduce(_ + _)
    val den = EwmaWq.zipWithIndex.map { case (wq, k) =>
      when(col(s"v$k").isNotNull, lit(wq)).otherwise(lit(0L))
    }.reduce(_ + _)
    lagged.withColumn("ewma", pround(num.cast("double") /
      (den.cast("double") * lit(10000.0)), 6))
      .select(col("event_type"), col("event_id"), col("user_id"), col("ewma"))
  }

  /** q164's per-event debounce frame (user_id, event_type, value,
    * event_id, ts_us, keep) — factored out so the streaming replay spec
    * can compare [[graft.streaming.StreamingDebounce]]'s per-event keep
    * decisions against the exact batch lag() pass. The rule debounces
    * against the previous RAW event (kept or not) under the
    * (ts_us, event_id) per-user order. */
  private[graft] def debounceEvents(spark: org.apache.spark.sql.SparkSession,
                                    dir: String): org.apache.spark.sql.DataFrame = {
    val raw = table(spark, dir, "events")
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    raw.select(col("user_id"), col("event_type"), col("value"),
        col("event_id"), QueryBase.tsUs(raw).as("ts_us"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .withColumn("keep",
        col("prev_us").isNull || col("ts_us") - col("prev_us") >= DebounceUs)
  }

  /** q156's per-user funnel stage frame (user_id, t1, t2, t3 — the first
    * view/click/purchase µs timestamps) — factored out so the streaming
    * replay spec can compare [[graft.streaming.StreamingFunnel]]'s final
    * per-user state against the exact batch aggregation. */
  private[graft] def funnelStages(spark: org.apache.spark.sql.SparkSession,
                                  dir: String): org.apache.spark.sql.DataFrame = {
    val raw = table(spark, dir, "events")
    raw.select(col("user_id"), col("event_type"), QueryBase.tsUs(raw).as("ts_us"))
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("ts_us"))).as("t1"),
        min(when(col("event_type") === "click", col("ts_us"))).as("t2"),
        min(when(col("event_type") === "purchase", col("ts_us"))).as("t3"))
  }

  /** q193's conversion threshold on events.value (median ≈ 34.6, so both
    * cohorts land mid-distribution — the z-test is numerically honest). */
  private val AbConvThreshold = 50.0

  /** q196's order-volume threshold in quantity HUNDREDTHS (250.00 — ≈ the
    * p99 of per-order quantity sums, the TPC-H Q18 selectivity). */
  private val VolumeQtyHundredths = 25000L

  /** q201's interval duration, MICROSECONDS (30 min) — ONE place, both
    * engines. */
  private val ConcDurUs = 1800000000L

  /** TPC-H-family date pivots as epoch MICROSECONDS (the tsUs/epoch_us
    * oracle discipline — never engine date literals, whose timezone and
    * cast semantics differ). Derived from calendar days at compile time;
    * embedded into the oracle SQL as integer literals from HERE. */
  private def dateUs(y: Int, m: Int, d: Int): Long =
    java.time.LocalDate.of(y, m, d).toEpochDay * 86400000000L
  private val Cut98Us  = dateUs(1998, 1, 1) // q235 Q3 split, q243 dormancy cutoff
  private val Jan97Us  = dateUs(1997, 1, 1) // q236/q237/q246 window starts
  private val Apr97Us  = dateUs(1997, 4, 1) // q238/q246 window end
  private val Jul97Us  = dateUs(1997, 7, 1) // q236 window end
  private val Sep97Us  = dateUs(1997, 9, 1) // q240 promo month start
  private val Oct97Us  = dateUs(1997, 10, 1) // q240 promo month end
  /** q236's lateness threshold: a lineitem shipped > 60 days after its
    * order date flags the order (the commitdate<receiptdate analogue —
    * this schema carries no commit/receipt dates). */
  private val LateShipUs = 60L * 86400000000L
  /** q245's market-share supplier nation (n_nationkey 8); q257 reuses it
    * as the Q11 value-concentration scope. */
  private val ShareNationKey = 8

  /** q258's retained part sizes (the TPC-H Q16 size IN-list, spaced over
    * this generator's 1..50 range) — ONE list, both engines. */
  private val Q16Sizes = Seq(1, 5, 10, 15, 20, 25, 30, 35)

  /** q262's total sample budget (rows to draw across strata) — ONE
    * place, embedded into the oracle SQL. */
  private val NeymanBudget = 10000L

  /** q220's error-budget threshold (events are ~20% errors by
    * construction, so days oscillate around it — breaches are real). */
  private val SloThreshold = 0.2

  /** q188's explicit grouping-set lattice — ONE statement text for both
    * engines (quantized sums stay integer-valued doubles, so the
    * aggregation is order-independent on both). */
  private def groupingSetsSql(tbl: String): String = {
    val p = "CAST('100.0' AS DOUBLE)"
    val h = "CAST('0.5' AS DOUBLE)"
    s"""SELECT l_returnflag, l_linestatus,
       |       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
       |       CAST(count(*) AS BIGINT) AS n,
       |       sum(floor(l_quantity * $p + $h)) / $p AS sum_qty
       |FROM $tbl
       |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // the same 7-day window over the RAW parquet — equality with the
    // Spark side's partitioned-table scan proves the date-partitioned
    // layout lossless and the literal partition-range semantics exact
    // (the window start replays Spark's SHOW PARTITIONS min as min(day))
    "q134_partition_pruned_scan" ->
      s"""WITH base AS (
         |  SELECT epoch_us(ts) // $DayUs AS day, event_type, value FROM events),
         |b AS (SELECT min(day) AS m FROM base)
         |SELECT CAST(day AS BIGINT) AS day, event_type,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       ${xsumSql("value", 6)} AS sum_value
         |FROM base, b
         |WHERE day BETWEEN b.m + 7 AND b.m + 13
         |GROUP BY day, event_type""".stripMargin,

    // the dim-filtered join over RAW parquet — the dim is the distinct
    // day dictionary, so the join ≡ keeping dow-0 days; equality proves
    // the DPP-pruned fact scan loses and invents nothing
    "q135_dynamic_partition_prune" ->
      s"""WITH base AS (
         |  SELECT epoch_us(ts) // $DayUs AS day, event_type, value FROM events)
         |SELECT CAST(day AS BIGINT) AS day, event_type,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       ${xsumSql("value", 6)} AS sum_value
         |FROM base WHERE day % 7 = 0
         |GROUP BY day, event_type""".stripMargin,

    // the same grid + interpolation arithmetic in DuckDB (generate_series
    // for the per-user hour grid, IGNORE-NULLS windows for the neighbor
    // carry) — the scaled-integer sums make every interpolated value
    // hash-visible, so equality proves the fill bit-exact
    "q136_gapfill_interpolate" ->
      s"""WITH base AS (
         |  SELECT user_id, epoch_us(ts) // $HourUs AS h, value FROM events),
         |obs AS (
         |  SELECT user_id, h,
         |         ${graft.sql.OracleGen.sround(xsumSql("value", 6) + " / count(*)", 6)} AS v
         |  FROM base GROUP BY user_id, h),
         |bounds AS (SELECT user_id, min(h) AS mn, max(h) AS mx FROM obs GROUP BY user_id),
         |grid AS (SELECT user_id, unnest(generate_series(mn, mx)) AS h FROM bounds),
         |j AS (SELECT g.user_id, g.h, o.v
         |      FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h),
         |f AS (SELECT user_id, h, v,
         |  last_value(v IGNORE NULLS) OVER wp AS pv,
         |  last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wp AS ph,
         |  first_value(v IGNORE NULLS) OVER wn AS nv,
         |  first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wn AS nh
         |  FROM j
         |  WINDOW wp AS (PARTITION BY user_id ORDER BY h
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |         wn AS (PARTITION BY user_id ORDER BY h
         |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
         |fl AS (SELECT user_id, v,
         |  CASE WHEN v IS NOT NULL THEN v
         |       ELSE ${graft.sql.OracleGen.sround(
                  "pv + (nv - pv) * ((h - ph)::DOUBLE / (nh - ph)::DOUBLE)", 6)} END AS fv
         |  FROM f)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_hours,
         |       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
         |       ${xsumSql("fv", 6)} AS sum_series,
         |       coalesce(${xsumSql("CASE WHEN v IS NULL THEN fv END", 6)}, ${dlit(0.0)}) AS sum_interp
         |FROM fl GROUP BY user_id""".stripMargin,

    // the same join over RAW parquet — equality proves the bucketed
    // layout lossless (the co-location itself is plan-pinned in
    // AtRestMaintenanceSpec; value equality is what the gate checks)
    "q137_bucketed_colocated_join" ->
      s"""SELECT o_orderpriority, l_returnflag,
         |       CAST(count(*) AS BIGINT) AS n_items,
         |       ${xsumSql("l_quantity", 6)} AS sum_qty,
         |       ${xsumSql("l_extendedprice", 6)} AS sum_price
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderpriority, l_returnflag""".stripMargin,

    // the FULL recompute over raw events — equality proves the
    // base-partials + delta merge reconstructs the aggregate exactly
    "q138_incremental_mv_merge" ->
      s"""WITH base AS (
         |  SELECT epoch_us(ts) // $DayUs AS day, event_type, value FROM events)
         |SELECT CAST(day AS BIGINT) AS day, event_type,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       ${xsumSql("value", 6)} AS sum_value
         |FROM base GROUP BY day, event_type""".stripMargin,

    // the plain filtered join — the bloom filter is row-invisible
    // (conservative superset + exact predicate), so equality proves the
    // semi-join reduction loses and invents nothing
    "q139_runtime_bloom_join" ->
      s"""SELECT l_returnflag, l_linestatus,
         |       CAST(count(*) AS BIGINT) AS n_items,
         |       ${xsumSql("l_extendedprice", 6)} AS sum_price
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '1-URGENT'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    // the parquet origin directly — equality with the Spark side's
    // JSONL/CSV round trip is the losslessness proof
    "q132_file_source_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 1000003) AS BIGINT) AS text_fp,
        |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |FROM documents GROUP BY lang""".stripMargin,

    // the NAIVE theta join — existence proof that the bucketed equi-join
    // rewrite loses and invents nothing
    "q119_range_join" ->
      s"""SELECT a.event_id, count(*) AS n_neighbors
         |FROM events a JOIN events b
         |  ON a.user_id = b.user_id AND b.event_id <> a.event_id
         | AND abs(epoch_us(b.ts) - epoch_us(a.ts)) <= $RangeTauUs
         |GROUP BY a.event_id""".stripMargin,

    "q123_hist_merge" ->
      s"""WITH s AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
         |bn AS (SELECT event_type,
         |              least(CAST(floor((value - lo) / ((hi - lo) / $QSketchBins)) AS BIGINT), ${QSketchBins - 1}) AS bin
         |       FROM events, s),
         |pt AS (SELECT 'type:' || event_type AS part, bin, CAST(count(*) AS BIGINT) AS cnt
         |       FROM bn GROUP BY 1, 2),
         |allb AS (SELECT * FROM pt
         |         UNION ALL SELECT 'merged', bin, CAST(sum(cnt) AS BIGINT) FROM pt GROUP BY bin
         |         UNION ALL SELECT 'global', bin, CAST(count(*) AS BIGINT) FROM bn GROUP BY bin)
         |SELECT part, CAST(count(*) AS BIGINT) AS n_bins, CAST(sum(cnt) AS BIGINT) AS total,
         |       CAST(sum(cnt * (bin + 1)) AS BIGINT) AS checksum
         |FROM allb GROUP BY part""".stripMargin,

    "q130_ddsketch_quantile" -> {
      val qList = QSketchQs.map(dlit).mkString(", ")
      // bin: the identical quantized-ln grid (sround BEFORE the divide —
      // the quantize-early-ln parity rule), identical CASE guard for the
      // ≤ 0 low store. The exact arm may use DuckDB's single-node global
      // rank: bin id is monotone in value, so the global rank-t row IS
      // the bin-local rank (t − cum_prev) row the Spark side selects —
      // the same theorem q118's bin-filtered exact arm rests on.
      s"""WITH b AS (SELECT CASE WHEN value <= 0 THEN $QLowBin
         |                 ELSE CAST(floor((${sround("ln(value)", 6)}) / ${dlit(QLogBinW)}) AS BIGINT) END AS bin,
         |                 value, event_id FROM events),
         |sk AS (SELECT bin, CAST(count(*) AS BIGINT) AS cnt,
         |              min(value) AS vmin, max(value) AS vmax FROM b GROUP BY bin),
         |s AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM sk),
         |c2 AS (SELECT bin, cnt, vmin, vmax, cum, cum - cnt AS cum_prev FROM
         |         (SELECT *, CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum FROM sk)),
         |tq AS (SELECT q, CAST(floor(q * (n - 1)) AS BIGINT) + 1 AS t
         |       FROM s, (SELECT unnest([$qList]) AS q)),
         |est AS (SELECT tq.q, (c2.vmin + c2.vmax) / 2 AS est_raw, c2.vmin, c2.vmax
         |        FROM c2 JOIN tq ON c2.cum_prev < tq.t AND tq.t <= c2.cum),
         |ex AS (SELECT tq.q, e.value AS exact_raw
         |       FROM (SELECT value, row_number() OVER (ORDER BY value, event_id) AS rn FROM events) e
         |       JOIN tq ON e.rn = tq.t)
         |SELECT ${sround("est.q", 6)} AS q,
         |       ${sround("est_raw", 6)} AS est_v,
         |       ${sround("exact_raw", 6)} AS exact_v,
         |       ${sround("abs(est_raw - exact_raw)", 6)} AS abs_err,
         |       ${sround("(vmax - vmin) / 2", 6)} AS half_spread,
         |       CAST(${sround("abs(est_raw - exact_raw)", 6)} <= ${sround("(vmax - vmin) / 2", 6)} AS INT) AS bound_ok
         |FROM est JOIN ex ON est.q = ex.q""".stripMargin
    },

    "q131_ddsketch_merge" ->
      s"""WITH b AS (SELECT event_type,
         |                  CASE WHEN value <= 0 THEN $QLowBin
         |                  ELSE CAST(floor((${sround("ln(value)", 6)}) / ${dlit(QLogBinW)}) AS BIGINT) END AS bin,
         |                  value FROM events),
         |pt AS (SELECT 'type:' || event_type AS part, bin, CAST(count(*) AS BIGINT) AS cnt,
         |              min(value) AS vmin, max(value) AS vmax
         |       FROM b GROUP BY 1, 2),
         |allb AS (SELECT * FROM pt
         |         UNION ALL SELECT 'merged', bin, CAST(sum(cnt) AS BIGINT), min(vmin), max(vmax)
         |                   FROM pt GROUP BY bin
         |         UNION ALL SELECT 'global', bin, CAST(count(*) AS BIGINT), min(value), max(value)
         |                   FROM b GROUP BY bin)
         |SELECT part, CAST(count(*) AS BIGINT) AS n_bins, CAST(sum(cnt) AS BIGINT) AS total,
         |       CAST(sum(cnt * (bin + ${1 - QLowBin})) AS BIGINT) AS checksum,
         |       ${xsumSql("vmin + vmax", 6)} AS vchk
         |FROM allb GROUP BY part""".stripMargin,

    "q118_quantile_sketch" -> {
      val qList = QSketchQs.map(dlit).mkString(", ")
      val nb = QSketchBins
      s"""WITH s AS (SELECT min(value) AS lo, max(value) AS hi, count(*) AS n FROM events),
         |b AS (SELECT least(CAST(floor((value - lo) / ((hi - lo) / $nb)) AS BIGINT), ${nb - 1}) AS bin,
         |             count(*) AS cnt
         |      FROM events, s GROUP BY 1),
         |c AS (SELECT bin, cnt, CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum FROM b),
         |c2 AS (SELECT bin, cnt, cum, cum - cnt AS cum_prev FROM c),
         |tq AS (SELECT q, CAST(floor(q * (n - 1)) AS BIGINT) + 1 AS t, lo, hi, n
         |       FROM s, (SELECT unnest([$qList]) AS q)),
         |est AS (SELECT tq.q,
         |               tq.lo + ((tq.hi - tq.lo) / $nb) * (CAST(c2.bin AS DOUBLE)
         |                 + CAST(tq.t - c2.cum_prev AS DOUBLE) / CAST(c2.cnt AS DOUBLE)) AS est_raw,
         |               (tq.hi - tq.lo) / $nb AS w
         |        FROM c2 JOIN tq ON c2.cum_prev < tq.t AND tq.t <= c2.cum),
         |ex AS (SELECT tq.q, e.value AS exact_raw
         |       FROM (SELECT value, row_number() OVER (ORDER BY value, event_id) AS rn FROM events) e
         |       JOIN tq ON e.rn = tq.t)
         |SELECT ${sround("est.q", 6)} AS q,
         |       ${sround("est_raw", 6)} AS est_v,
         |       ${sround("exact_raw", 6)} AS exact_v,
         |       ${sround("abs(est_raw - exact_raw)", 6)} AS abs_err,
         |       ${sround("w", 6)} AS bin_width,
         |       CAST(${sround("abs(est_raw - exact_raw)", 6)} <= ${sround("w", 6)} AS INT) AS bound_ok
         |FROM est JOIN ex ON est.q = ex.q""".stripMargin
    },
    "q27_sessionize" ->
      s"""WITH l AS (
         |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
         |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
         |  FROM events),
         |m AS (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > $SessionGapUs THEN 1 ELSE 0 END AS is_new FROM l),
         |s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM m)
         |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       ${graft.sql.OracleGen.xsumSql("value", 6)} AS sum_value,
         |       CAST((max(ts_us) - min(ts_us)) // 1000000 AS BIGINT) AS duration_s
         |FROM s GROUP BY user_id, session_id""".stripMargin,
    "q20_pricing_summary" ->
      s"""WITH agg AS (
         |  SELECT l_returnflag, l_linestatus,
         |         ${xsumSql("l_quantity", 4)} AS sum_qty,
         |         ${xsumSql("l_extendedprice", 4)} AS sum_base_price,
         |         ${xsumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS sum_disc_price,
         |         CAST(count(*) AS BIGINT) AS count_order
         |  FROM lineitem GROUP BY l_returnflag, l_linestatus)
         |SELECT *, floor((sum_qty / count_order) * 1000000.0 + 0.5) / 1000000.0 AS avg_qty FROM agg""".stripMargin,

    "q21_revenue_by_nation" ->
      s"""SELECT n_name,
         |       ${xsumSql("o_totalprice", 4)} AS revenue,
         |       CAST(count(*) AS BIGINT) AS n_orders
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name""".stripMargin,

    "q22_top_customers" ->
      s"""WITH rev AS (
         |  SELECT o_custkey, ${xsumSql("o_totalprice", 4)} AS revenue,
         |         CAST(count(*) AS BIGINT) AS n_orders
         |  FROM orders GROUP BY o_custkey)
         |SELECT c_custkey, c_name, revenue, n_orders
         |FROM rev JOIN customer ON o_custkey = c_custkey
         |ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin,

    "q23_order_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3""".stripMargin,

    "q24_brand_agg" ->
      s"""SELECT p_brand,
         |       CAST(count(*) AS BIGINT) AS n_items,
         |       ${xsumSql("l_quantity", 4)} AS sum_qty,
         |       ${xsumSql("l_extendedprice", 4)} AS sum_price
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand""".stripMargin,

    "q26_asof_join" -> {
      s"""WITH p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us
         |           FROM events WHERE event_type = 'purchase' AND event_id % 50 = 0),
         |v AS (SELECT user_id, epoch_us(ts) AS v_us, event_id, value FROM events
         |      WHERE event_type IN ('view', 'click')),
         |j AS (SELECT p.purchase_id, p.user_id, v.event_id, v.value,
         |             row_number() OVER (PARTITION BY p.purchase_id
         |                                ORDER BY v.v_us DESC, v.event_id DESC) AS rn
         |      FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.v_us < p.p_us)
         |SELECT purchase_id, user_id, event_id AS asof_event,
         |       ${graft.sql.OracleGen.sround("value", 6)} AS asof_value
         |FROM j WHERE rn = 1""".stripMargin
    },

    "q54_rollup_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
         |       ${xsumSql("l_quantity", 4)} AS sum_qty,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM lineitem
         |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q55_median_value" ->
      s"""WITH r AS (
         |  SELECT event_type, value,
         |         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         |         count(*) OVER (PARTITION BY event_type) AS n
         |  FROM events)
         |SELECT event_type, CAST(max(n) AS BIGINT) AS n_values,
         |       ${graft.sql.OracleGen.sround("sum(value) / count(*)", 6)} AS median_value
         |FROM r WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
         |GROUP BY event_type""".stripMargin,

    "q73_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)""".stripMargin,

    "q74_pivot" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cols = types.map(t =>
        s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS n_$t").mkString(", ")
      s"SELECT user_id, $cols FROM events GROUP BY user_id"
    },

    "q71_time_resample" ->
      s"""WITH b AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour_bucket, value FROM events)
         |SELECT event_type, CAST(hour_bucket AS BIGINT) AS hour_bucket,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       ${xsumSql("value", 6)} AS sum_value,
         |       ${graft.sql.OracleGen.sround(xsumSql("value", 6) + " / count(*)", 6)} AS avg_value
         |FROM b GROUP BY event_type, hour_bucket""".stripMargin,

    "q72_quantiles" -> {
      val qs = Seq(0.25, 0.5, 0.75, 0.95).map(graft.sql.OracleGen.dlit).mkString(", ")
      s"""WITH r AS (SELECT event_type, value, event_id,
         |             row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         |             count(*) OVER (PARTITION BY event_type) AS n
         |           FROM events),
         |t AS (SELECT event_type AS t_type, n, unnest([$qs]) AS q
         |      FROM (SELECT event_type, max(n) AS n FROM r GROUP BY event_type)),
         |tt AS (SELECT t_type, q, floor(q * (n - 1)) + 1 AS trn FROM t)
         |SELECT r.event_type, tt.q, r.value AS q_value
         |FROM r JOIN tt ON r.event_type = tt.t_type AND r.rn = tt.trn""".stripMargin
    },

    "q68_json_extract" ->
      s"""WITH k AS (SELECT event_type, json_extract(props, '$$.k')::BIGINT AS k FROM events)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(sum(k) AS BIGINT) AS sum_k,
         |       CAST(min(k) AS BIGINT) AS min_k,
         |       CAST(max(k) AS BIGINT) AS max_k,
         |       ${graft.sql.OracleGen.sround("CAST(sum(k) AS DOUBLE) / count(*)", 6)} AS avg_k
         |FROM k GROUP BY event_type""".stripMargin,

    // the salting is an execution detail — ranks must equal ONE direct
    // window per type
    "q79_skew_type_topk" ->
      s"""SELECT event_type, rnk, event_id, value FROM (
         |  SELECT event_type, event_id, value,
         |         CAST(row_number() OVER (PARTITION BY event_type
         |                                 ORDER BY value DESC, event_id) AS INT) AS rnk
         |  FROM events)
         |WHERE rnk <= $SkewTopK""".stripMargin,

    "q25_segment_intersect" ->
      s"""SELECT o_custkey AS custkey FROM orders
         |GROUP BY o_custkey
         |HAVING ${xsumSql("o_totalprice", 4)} > 100000.0
         |INTERSECT
         |SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin,

    "q95_segment_except" ->
      s"""SELECT o_custkey AS custkey FROM orders
         |GROUP BY o_custkey
         |HAVING ${xsumSql("o_totalprice", 4)} > 100000.0
         |EXCEPT
         |SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin,

    // the same middle-third window over RAW parquet (DuckDB's // is floor
    // division — equal to Scala's truncating Long / here because the
    // operands are non-negative) — equality proves the range-clustered
    // layout lossless and the manifest's file pruning exact
    "q141_minmax_file_skip" ->
      s"""WITH b AS (SELECT min(user_id) AS umin, max(user_id) AS umax FROM events),
         |r AS (SELECT umin + (umax - umin) // 3 AS lo,
         |             umin + (2 * (umax - umin)) // 3 AS hi FROM b)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |       ${xsumSql("value", 6)} AS sum_value
         |FROM events, r
         |WHERE user_id BETWEEN r.lo AND r.hi
         |GROUP BY event_type""".stripMargin,

    // the naive replay of the skewed join — equality proves AQE's
    // runtime partition splitting loses and invents nothing
    "q142_aqe_skew_join" ->
      s"""WITH fact AS (SELECT event_type, value,
         |         CASE WHEN event_id % 2 = 0 THEN -1 ELSE user_id END AS k
         |       FROM events),
         |dim AS (SELECT k, CAST(k % $SkewW AS BIGINT) AS w FROM
         |         (SELECT c_custkey AS k FROM customer UNION ALL SELECT -1))
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(w) AS BIGINT) AS sum_w,
         |       ${xsumSql("value", 6)} AS sum_value
         |FROM fact JOIN dim USING (k)
         |GROUP BY event_type""".stripMargin,

    // latest-per-key over ALL raw events — equality proves the
    // state-table merge == full recompute (the value/ts ride through
    // as comparisons, no arithmetic to drift)
    "q149_merge_upsert" ->
      """SELECT user_id, event_type,
        |       CAST(event_id AS BIGINT) AS last_event_id,
        |       value AS last_value,
        |       CAST(epoch_us(ts) AS BIGINT) AS last_ts_us
        |FROM (SELECT user_id, event_type, event_id, value, ts,
        |             row_number() OVER (PARTITION BY user_id, event_type
        |                                ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1""".stripMargin,

    // the same 2-D box over RAW parquet (DuckDB // floors — equal to
    // Scala's truncating division on these non-negative spans) —
    // equality proves the z-clustered layout lossless and the manifest's
    // 2-D file pruning exact
    "q150_zorder_file_skip" ->
      s"""WITH e AS (SELECT user_id, event_type, value,
         |                  epoch_us(ts) // $DayUs AS day FROM events),
         |b AS (SELECT min(user_id) AS u0, max(user_id) AS u1,
         |             min(day) AS d0, max(day) AS d1 FROM e),
         |r AS (SELECT u0 + (u1 - u0) // 3 AS ulo, u0 + (2 * (u1 - u0)) // 3 AS uhi,
         |             d0 + (d1 - d0) // 3 AS dlo, d0 + (2 * (d1 - d0)) // 3 AS dhi FROM b)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |       CAST(count(DISTINCT day) AS BIGINT) AS n_days,
         |       ${xsumSql("value", 6)} AS sum_value
         |FROM e, r
         |WHERE user_id BETWEEN r.ulo AND r.uhi AND day BETWEEN r.dlo AND r.dhi
         |GROUP BY event_type""".stripMargin,

    // the IDENTICAL correlated statement, executed by DuckDB's own
    // decorrelation — same SQL, two engines
    "q153_correlated_subquery" -> correlatedAboveAvgSql("orders"),

    // the logical delete replayed over raw events — ONE text for both
    // delete styles: CoW (q161) and MoR (q162) must both equal it
    "q161_purge_cow" -> purgeOracleSql,
    "q162_purge_mor" -> purgeOracleSql,

    // the same sorted-members concatenation serially (DuckDB string_agg
    // with an explicit ORDER BY is the sorted-array form)
    "q165_string_agg" ->
      """SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n,
        |       string_agg(CAST(c_custkey AS VARCHAR), ','
        |                  ORDER BY CAST(c_custkey AS VARCHAR)) AS members
        |FROM customer WHERE c_custkey % 100 = 0
        |GROUP BY c_mktsegment""".stripMargin,

    // the same tie-dependent ranks serially — rank/dense_rank need no
    // tiebreaker to be deterministic
    "q166_rank_ties" ->
      """WITH c AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
        |           FROM orders GROUP BY o_custkey),
        |r AS (SELECT o_custkey, n_orders,
        |             CAST(rank() OVER w AS INT) AS rnk,
        |             CAST(dense_rank() OVER w AS INT) AS drnk
        |      FROM c WINDOW w AS (ORDER BY n_orders DESC))
        |SELECT n_orders, rnk, drnk, CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(min(o_custkey) AS BIGINT) AS min_custkey
        |FROM r WHERE drnk <= 5 GROUP BY n_orders, rnk, drnk""".stripMargin,

    // the same lead() pass serially — unique (ts, event_id) ordering
    "q163_scd2_intervals" ->
      """SELECT user_id, event_id, value,
        |       CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
        |       CAST(lead(epoch_us(ts), 1) OVER w AS BIGINT) AS valid_to_us,
        |       (lead(epoch_us(ts), 1) OVER w IS NULL) AS is_current
        |FROM events WHERE event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)""".stripMargin,

    // the same lag rule serially
    "q164_debounce" ->
      s"""WITH l AS (
         |  SELECT event_type, value,
         |         epoch_us(ts) - lag(epoch_us(ts), 1) OVER
         |           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
         |  FROM events)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
         |       CAST(sum(CASE WHEN gap IS NULL OR gap >= $DebounceUs THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       coalesce(${xsumSql(s"CASE WHEN gap IS NULL OR gap >= $DebounceUs THEN value END", 6)}, ${dlit(0.0)}) AS sum_kept_value
         |FROM l GROUP BY event_type""".stripMargin,

    // the same integer moments serially, the same closed forms — the
    // integer-in / identical-IEEE-out discipline
    "q160_exact_corr" ->
      s"""WITH m AS (
         |  SELECT event_type,
         |         CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |         CAST(sum(x * x) AS BIGINT) AS sxx,
         |         CAST(sum(y * y) AS BIGINT) AS syy,
         |         CAST(sum(x * y) AS BIGINT) AS sxy
         |  FROM (SELECT event_type,
         |               (epoch_us(ts) // $HourUs) % 24 AS x,
         |               CAST(floor(value * CAST('10000.0' AS DOUBLE)
         |                          + CAST('0.5' AS DOUBLE)) AS BIGINT) AS y
         |        FROM events)
         |  GROUP BY event_type),
         |d AS (SELECT event_type, n,
         |             CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         |             CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
         |             CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd
         |      FROM m)
         |SELECT event_type, n,
         |       ${sround("(nd * sxyd - sxd * syd) / sqrt((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd))", 6)} AS corr_vh,
         |       ${sround("(sxyd / nd - (sxd / nd) * (syd / nd)) / CAST('10000.0' AS DOUBLE)", 6)} AS covar_vh,
         |       ${sround("sqrt(syyd / nd - (syd / nd) * (syd / nd)) / CAST('10000.0' AS DOUBLE)", 6)} AS stddev_v
         |FROM d""".stripMargin,

    // both dimension filters replayed over raw parquet — equality proves
    // partition pruning and the bloom's row pruning lose nothing (the
    // bloom is conservative; the exact join still applies)
    "q159_star_runtime_filters" ->
      s"""WITH f AS (SELECT event_type, value, user_id,
         |                  epoch_us(ts) // $DayUs AS day FROM events),
         |d AS (SELECT DISTINCT day FROM f WHERE day % 7 = 0),
         |s AS (SELECT c_custkey AS user_id FROM customer
         |      WHERE c_mktsegment = 'BUILDING')
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         |       ${xsumSql("value", 6)} AS sum_value
         |FROM f JOIN d USING (day) JOIN s USING (user_id)
         |GROUP BY event_type""".stripMargin,

    // the identical reconciliation serially — scaled-integer revenue
    // partials keep the two-level sum exact
    "q158_full_outer_audit" ->
      s"""WITH c AS (SELECT c_custkey AS key, CAST(count(*) AS BIGINT) AS n_cust
         |           FROM customer GROUP BY c_custkey),
         |e AS (SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n_events,
         |             CAST(sum(floor(value * CAST('1000000.0' AS DOUBLE)
         |                            + CAST('0.5' AS DOUBLE))) AS BIGINT) AS sc
         |      FROM events GROUP BY user_id),
         |j AS (SELECT CASE WHEN n_cust IS NOT NULL AND n_events IS NOT NULL THEN 'matched'
         |                  WHEN n_cust IS NOT NULL THEN 'customer_only'
         |                  ELSE 'activity_only' END AS status,
         |             coalesce(n_events, 0) AS n_events, coalesce(sc, 0) AS sc
         |      FROM c FULL OUTER JOIN e USING (key))
         |SELECT status, CAST(count(*) AS BIGINT) AS n_keys,
         |       CAST(sum(n_events) AS BIGINT) AS n_events,
         |       CAST(sum(sc) AS DOUBLE) / CAST('1000000.0' AS DOUBLE) AS sum_value
         |FROM j GROUP BY status""".stripMargin,

    // the identical first-touch funnel serially — strict < on the µs
    // integers, NULL-guarded ratios
    "q156_event_funnel" ->
      s"""WITH st AS (
         |  SELECT user_id,
         |         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t1,
         |         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t2,
         |         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t3
         |  FROM events GROUP BY user_id),
         |c AS (SELECT CAST(count(CASE WHEN t1 IS NOT NULL THEN 1 END) AS BIGINT) AS n_view,
         |             CAST(count(CASE WHEN t1 < t2 THEN 1 END) AS BIGINT) AS n_view_click,
         |             CAST(count(CASE WHEN t1 < t2 AND t2 < t3 THEN 1 END) AS BIGINT) AS n_funnel
         |      FROM st)
         |SELECT n_view, n_view_click, n_funnel,
         |       CASE WHEN n_view > 0
         |            THEN ${sround("CAST(n_view_click AS DOUBLE) / n_view", 6)} END AS conv_click,
         |       CASE WHEN n_view_click > 0
         |            THEN ${sround("CAST(n_funnel AS DOUBLE) / n_view_click", 6)} END AS conv_purchase
         |FROM c""".stripMargin,

    // the identical cohort arithmetic serially — integer days end to end
    "q157_cohort_retention" ->
      s"""WITH act AS (SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day FROM events),
         |coh AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id)
         |SELECT CAST(cohort_day AS BIGINT) AS cohort_day,
         |       CAST(day - cohort_day AS BIGINT) AS k,
         |       CAST(count(DISTINCT act.user_id) AS BIGINT) AS n_users
         |FROM act JOIN coh ON act.user_id = coh.user_id
         |WHERE day - cohort_day <= 7
         |GROUP BY cohort_day, day - cohort_day""".stripMargin,

    // the generation rule replayed over raw events — equality proves the
    // two-schema layout lossless and the merged read's null-fill exact
    "q155_schema_evolution" ->
      s"""SELECT CASE WHEN event_id % 2 = 0 THEN 'unknown' ELSE event_type END AS event_type,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       ${xsumSql("value", 6)} AS sum_value
         |FROM events
         |GROUP BY 1""".stripMargin,

    // both versions recomputed from the raw split — equality proves the
    // copy-on-write v2 merge exact and v1 untouched by it
    "q154_snapshot_diff" ->
      s"""WITH e AS (SELECT event_type, event_id,
         |                  epoch_us(ts) // $DayUs AS day,
         |                  CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS sv
         |           FROM events),
         |v1 AS (SELECT day, event_type, CAST(count(*) AS BIGINT) AS n_v1,
         |              CAST(sum(sv) AS BIGINT) AS s_v1
         |       FROM e WHERE event_id % 10 <> 0 GROUP BY day, event_type),
         |v2 AS (SELECT day, event_type, CAST(count(*) AS BIGINT) AS n_v2,
         |              CAST(sum(sv) AS BIGINT) AS s_v2
         |       FROM e GROUP BY day, event_type)
         |SELECT v2.day, v2.event_type,
         |       CAST(coalesce(n_v1, 0) AS BIGINT) AS n_v1, n_v2,
         |       CAST(n_v2 - coalesce(n_v1, 0) AS BIGINT) AS n_added,
         |       CAST(s_v2 - coalesce(s_v1, 0) AS DOUBLE) / 1000000.0 AS sum_added
         |FROM v2 LEFT JOIN v1 ON v2.day = v1.day AND v2.event_type = v1.event_type""".stripMargin,

    // the identical ranking pass serially — the unique ordering key makes
    // ntile/percent_rank/cume_dist agree across engines
    "q152_window_suite" ->
      s"""WITH w AS (SELECT event_type, value,
         |         ntile(10) OVER win AS decile,
         |         percent_rank() OVER win AS pr,
         |         cume_dist() OVER win AS cd
         |       FROM events
         |       WINDOW win AS (PARTITION BY event_type ORDER BY value, event_id))
         |SELECT event_type, CAST(decile AS BIGINT) AS decile,
         |       CAST(count(*) AS BIGINT) AS n,
         |       ${xsumSql("pr", 6)} AS sum_pr,
         |       ${sround("max(cd)", 6)} AS max_cd,
         |       min(value) AS min_value, max(value) AS max_value
         |FROM w GROUP BY event_type, decile""".stripMargin,

    // the parquet origin replay (q132's proof shape) — equality proves
    // the ORC at-rest copy byte-lossless
    "q143_orc_source_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 1000003) AS BIGINT) AS text_fp,
        |       CAST(min(doc_id) AS BIGINT) AS min_doc,
        |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |FROM documents WHERE lang <> 'und' GROUP BY lang""".stripMargin,

    "q145_cube_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
         |       ${xsumSql("l_extendedprice", 4)} AS sum_price,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM lineitem
         |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    // min/max are comparisons, not arithmetic — the raw parquet doubles
    // ride through bit-identically on both engines
    "q146_unpivot_metrics" ->
      s"""WITH u AS (
         |  SELECT 'quantity' AS metric, l_quantity AS v FROM lineitem
         |  UNION ALL
         |  SELECT 'extendedprice' AS metric, l_extendedprice AS v FROM lineitem
         |  UNION ALL
         |  SELECT 'discount' AS metric, l_discount AS v FROM lineitem)
         |SELECT metric, CAST(count(*) AS BIGINT) AS n,
         |       ${xsumSql("v", 6)} AS sum_v,
         |       min(v) AS min_v, max(v) AS max_v
         |FROM u GROUP BY metric""".stripMargin,

    // the serial global window the Spark side refuses to run — equality
    // proves offset + per-day local numbering IS the total order
    "q167_global_rownumber" ->
      """WITH r AS (SELECT event_type, event_id,
        |                  row_number() OVER (ORDER BY epoch_us(ts), event_id) AS rn
        |           FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(min(rn) AS BIGINT) AS min_rn, CAST(max(rn) AS BIGINT) AS max_rn,
        |       CAST(sum(rn * event_id) AS BIGINT) AS rn_checksum
        |FROM r GROUP BY event_type""".stripMargin,

    // the same lag() bigrams serially; the row-normalization divides the
    // same BIGINTs cast to double
    "q168_markov_transitions" ->
      s"""WITH b AS (SELECT event_type AS next_type,
         |                  lag(event_type, 1) OVER
         |                    (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
         |           FROM events),
         |c AS (SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
         |      FROM b WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type)
         |SELECT prev_type, next_type, n,
         |       ${sround("CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE)", 6)} AS p
         |FROM c""".stripMargin,

    // the same one-pass profile: every per-column row reads the single
    // aggregate row, so both engines divide identical BIGINTs
    "q170_column_profile" -> {
      val cols = Seq("l_orderkey", "l_partkey", "l_quantity",
        "l_returnflag", "l_linestatus")
      val aggs = cols.map(c =>
        s"CAST(count($c) AS BIGINT) AS nn_$c, CAST(count(DISTINCT $c) AS BIGINT) AS nd_$c")
        .mkString(",\n|       ")
      val rows = cols.map(c =>
        s"""SELECT '$c' AS col_name, n_rows, nn_$c AS n_notnull, nd_$c AS n_distinct,
           |       CASE WHEN n_rows = 0 THEN ${dlit(0.0)}
           |            ELSE ${sround(s"CAST(n_rows - nn_$c AS DOUBLE) / CAST(n_rows AS DOUBLE)", 6)} END AS null_rate
           |FROM t""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |       $aggs
         |FROM lineitem)
         |$rows""".stripMargin
    },

    // the same lead() weights serially — identical integer sums in,
    // identical IEEE divisions out
    "q171_twap" ->
      s"""WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events),
         |l AS (SELECT user_id, ts_us,
         |             lead(ts_us, 1) OVER
         |               (PARTITION BY user_id ORDER BY ts_us, event_id) AS next_us,
         |             CAST(floor(value * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS vq
         |      FROM e),
         |g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         |             CAST(sum(CASE WHEN next_us IS NOT NULL
         |                           THEN vq * (next_us - ts_us) END) AS BIGINT) AS wsum,
         |             CAST(max(ts_us) - min(ts_us) AS BIGINT) AS span_us
         |      FROM l GROUP BY user_id)
         |SELECT user_id, n_events,
         |       ${sround(s"(CAST(wsum AS DOUBLE) / ${dlit(100.0)}) / CAST(span_us AS DOUBLE)", 6)} AS twap
         |FROM g WHERE span_us > 0""".stripMargin,

    // the same IGNORE-NULLS carry-forward serially
    "q172_last_touch" ->
      s"""WITH e AS (SELECT user_id, event_type, value, event_id,
         |                  epoch_us(ts) AS ts_us FROM events),
         |l AS (SELECT user_id, event_type, value, ts_us,
         |             last_value(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS)
         |               OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_us
         |      FROM e),
         |p AS (SELECT value,
         |             (last_click_us IS NOT NULL AND ts_us - last_click_us <= $AttribUs) AS attributed,
         |             ts_us - last_click_us AS delay
         |      FROM l WHERE event_type = 'purchase')
         |SELECT attributed, CAST(count(*) AS BIGINT) AS n_purchases,
         |       ${xsumSql("value", 6)} AS revenue,
         |       CAST(coalesce(sum(CASE WHEN attributed THEN delay END), 0) AS BIGINT) AS sum_delay_us
         |FROM p GROUP BY attributed""".stripMargin,

    // the same basket self-join + exact-integer lift serially; the
    // (support DESC, pa, pb) total order makes the top-20 cut identical
    "q173_cooccurrence" ->
      s"""WITH d AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM d),
         |it AS (SELECT pk, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY pk),
         |p AS (SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS support
         |      FROM d a JOIN d b ON a.ok = b.ok AND a.pk < b.pk
         |      GROUP BY a.pk, b.pk),
         |t AS (SELECT pa, pb, support FROM p ORDER BY support DESC, pa, pb LIMIT 20)
         |SELECT t.pa, t.pb, t.support,
         |       ${sround("CAST(t.support * n.n_orders AS DOUBLE) / CAST(ia.cnt * ib.cnt AS DOUBLE)", 6)} AS lift
         |FROM t CROSS JOIN n
         |JOIN it ia ON ia.pk = t.pa
         |JOIN it ib ON ib.pk = t.pb""".stripMargin,

    // the naive O(n²) dominance test over the per-quantity maxima —
    // equality proves the running-max rewrite IS the skyline
    "q174_skyline" ->
      """WITH m AS (SELECT l_quantity AS qty, max(l_extendedprice) AS max_price,
        |                  CAST(count(*) AS BIGINT) AS n_items
        |           FROM lineitem GROUP BY l_quantity)
        |SELECT qty, max_price, n_items FROM m
        |WHERE NOT EXISTS (SELECT 1 FROM m m2
        |                  WHERE m2.qty > m.qty AND m2.max_price >= m.max_price)""".stripMargin,

    // the same session rule + trigram extraction serially
    "q175_session_paths" ->
      s"""WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us FROM events),
         |l AS (SELECT user_id, event_type, event_id, ts_us,
         |             CASE WHEN lag(ts_us, 1) OVER w IS NULL
         |                       OR ts_us - lag(ts_us, 1) OVER w > $SessionGapUs
         |                  THEN 1 ELSE 0 END AS is_new
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |s AS (SELECT user_id, event_type, event_id, ts_us,
         |             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |      FROM l),
         |g AS (SELECT lag(event_type, 2) OVER w2 AS p2,
         |             lag(event_type, 1) OVER w2 AS p1,
         |             event_type
         |      FROM s WINDOW w2 AS (PARTITION BY user_id, session_id ORDER BY ts_us, event_id)),
         |c AS (SELECT p2 || '>' || p1 || '>' || event_type AS path, CAST(count(*) AS BIGINT) AS n
         |      FROM g WHERE p2 IS NOT NULL GROUP BY 1)
         |SELECT path, n FROM c ORDER BY n DESC, path LIMIT 10""".stripMargin,

    // the same bounded window replication serially
    "q177_sliding_window" ->
      s"""WITH e AS (SELECT event_type, value, epoch_us(ts) // $HourUs AS h FROM events),
         |x AS (SELECT event_type, value, h + i AS wend
         |      FROM e CROSS JOIN (SELECT unnest(range(0, 3)) AS i) ii)
         |SELECT event_type, CAST(wend AS BIGINT) AS wend,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       ${xsumSql("value", 6)} AS sum_value
         |FROM x GROUP BY event_type, wend""".stripMargin,

    // the same two rank selections serially — identical comparisons,
    // identical single subtraction
    "q178_mad" ->
      s"""WITH e AS (SELECT event_type, value, event_id FROM events),
         |c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY event_type),
         |r AS (SELECT event_type, value,
         |             row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn
         |      FROM e),
         |m AS (SELECT r.event_type, r.value AS med
         |      FROM r JOIN c USING (event_type) WHERE rn = (n + 1) // 2),
         |d AS (SELECT e.event_type, e.event_id, abs(e.value - m.med) AS d, m.med
         |      FROM e JOIN m USING (event_type)),
         |r2 AS (SELECT event_type, d, med,
         |              row_number() OVER (PARTITION BY event_type ORDER BY d, event_id) AS rn
         |       FROM d)
         |SELECT r2.event_type, c.n, ${sround("med", 6)} AS median, ${sround("d", 6)} AS mad
         |FROM r2 JOIN c USING (event_type) WHERE rn = (c.n + 1) // 2""".stripMargin,

    // the naive theta join + per-fact argmax the interleave replaces —
    // equality proves the carry-forward rewrite exact (including the
    // at-equal-ts `<=` rule and the (ts, event_id) version order)
    "q179_scd2_lookup" ->
      s"""WITH b AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value FROM events),
         |f AS (SELECT user_id, event_type, event_id, ts_us FROM b WHERE event_type <> 'purchase'),
         |p AS (SELECT user_id, ts_us, event_id, value FROM b WHERE event_type = 'purchase'),
         |j AS (SELECT f.event_type, f.event_id, p.value AS av,
         |             row_number() OVER (PARTITION BY f.event_id
         |                                ORDER BY p.ts_us DESC, p.event_id DESC) AS rn
         |      FROM f LEFT JOIN p ON p.user_id = f.user_id AND p.ts_us <= f.ts_us),
         |a AS (SELECT event_type, event_id, av FROM j WHERE rn = 1)
         |SELECT event_type, (av IS NOT NULL) AS matched,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       coalesce(${xsumSql("av", 6)}, ${dlit(0.0)}) AS sum_asof_value
         |FROM a GROUP BY event_type, matched""".stripMargin,

    // the same two-level scaled-integer rollup serially; the top-3 cut
    // rides the identical (rq DESC, name) total order
    "q180_contribution" ->
      s"""WITH r AS (SELECT n_name,
         |                  CAST(sum(CAST(floor(o_totalprice * ${dlit(10000.0)} + ${dlit(0.5)}) AS BIGINT)) AS BIGINT) AS rq
         |           FROM orders
         |           JOIN customer ON o_custkey = c_custkey
         |           JOIN nation ON c_nationkey = n_nationkey
         |           GROUP BY n_name),
         |t3 AS (SELECT n_name FROM r ORDER BY rq DESC, n_name LIMIT 3),
         |tot AS (SELECT CAST(sum(rq) AS BIGINT) AS tq FROM r),
         |b AS (SELECT CASE WHEN r.n_name IN (SELECT n_name FROM t3)
         |                  THEN r.n_name ELSE 'OTHERS' END AS bucket, rq
         |      FROM r),
         |g AS (SELECT bucket, CAST(sum(rq) AS BIGINT) AS srq FROM b GROUP BY bucket)
         |SELECT bucket,
         |       ${sround(s"CAST(srq AS DOUBLE) / ${dlit(10000.0)}", 4)} AS revenue,
         |       ${sround("CAST(srq AS DOUBLE) / CAST(tq AS DOUBLE)", 6)} AS share
         |FROM g CROSS JOIN tot""".stripMargin,

    // the same bounded-domain lag ratio serially
    "q181_wow_growth" ->
      s"""WITH wk AS (SELECT event_type, epoch_us(ts) // $WeekUs AS week,
         |                   CAST(count(*) AS BIGINT) AS n,
         |                   ${xsumSql("value", 6)} AS sum_value
         |            FROM events GROUP BY event_type, week),
         |l AS (SELECT event_type, week, n, sum_value,
         |             lag(n, 1) OVER (PARTITION BY event_type ORDER BY week) AS prev_n
         |      FROM wk)
         |SELECT event_type, CAST(week AS BIGINT) AS week, n, sum_value,
         |       CASE WHEN prev_n IS NULL OR prev_n = 0 THEN NULL
         |            ELSE ${sround("CAST(n - prev_n AS DOUBLE) / CAST(prev_n AS DOUBLE)", 6)} END AS wow_growth
         |FROM l""".stripMargin,

    // the same two joins under IS NOT DISTINCT FROM vs plain equality
    "q182_nullsafe_join" ->
      """WITH l AS (SELECT nullif(event_type, 'error') AS k FROM events
        |           WHERE event_id % 20 = 0),
        |d AS (SELECT nullif(event_type, 'error') AS dk, CAST(count(*) AS BIGINT) AS kc
        |      FROM events GROUP BY 1),
        |ns AS (SELECT k, CAST(count(*) AS BIGINT) AS n_left,
        |              CAST(count(kc) AS BIGINT) AS n_nullsafe
        |       FROM l LEFT JOIN d ON l.k IS NOT DISTINCT FROM d.dk GROUP BY k),
        |eq AS (SELECT k, CAST(count(kc) AS BIGINT) AS n_eq
        |       FROM l LEFT JOIN d ON l.k = d.dk GROUP BY k)
        |SELECT ns.k, ns.n_left, ns.n_nullsafe, eq.n_eq
        |FROM ns JOIN eq ON ns.k IS NOT DISTINCT FROM eq.k""".stripMargin,

    // the same collapse → replicate → dedup → count serially
    "q183_rolling_wau" ->
      s"""WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day FROM events),
         |w AS (SELECT DISTINCT user_id, day + i AS wend
         |      FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS i) ii)
         |SELECT CAST(wend AS BIGINT) AS wend, CAST(count(*) AS BIGINT) AS wau
         |FROM w GROUP BY wend""".stripMargin,

    // the same deciles, binning lambda, clamps and quantized logs
    // serially — the scaled-integer window total mirrors the Spark side
    "q184_psi_drift" -> {
      val ranks = (1 to 9).map(k => s"($k * n) // 10").mkString(", ")
      val eps = dlit(1e-6)
      s"""WITH e AS (SELECT event_type, value, epoch_us(ts) // $DayUs AS day FROM events),
         |mm AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
         |t AS (SELECT event_type, value, (day >= (d0 + d1 + 1) // 2) AS cur
         |      FROM e CROSS JOIN mm),
         |ref AS (SELECT event_type, value FROM t WHERE NOT cur),
         |nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ref GROUP BY event_type),
         |rk AS (SELECT event_type, value,
         |              row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn
         |       FROM ref),
         |cuts AS (SELECT rk.event_type, rk.value FROM rk JOIN nn USING (event_type)
         |         WHERE n >= 10 AND rn IN ($ranks)),
         |ca AS (SELECT event_type, list(value ORDER BY value) AS cs FROM cuts GROUP BY event_type),
         |b AS (SELECT t.event_type, t.cur,
         |             len(list_filter(ca.cs, x -> t.value > x)) AS bin
         |      FROM t JOIN ca USING (event_type)),
         |c AS (SELECT event_type, bin,
         |             CAST(sum(CASE WHEN NOT cur THEN 1 ELSE 0 END) AS BIGINT) AS nref,
         |             CAST(sum(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS ncur
         |      FROM b GROUP BY event_type, bin),
         |tt AS (SELECT event_type, CAST(sum(nref) AS BIGINT) AS tref,
         |              CAST(sum(ncur) AS BIGINT) AS tcur
         |       FROM c GROUP BY event_type),
         |p AS (SELECT c.event_type, bin, nref, ncur,
         |             greatest(CAST(nref AS DOUBLE) / CAST(tref AS DOUBLE), $eps) AS pr,
         |             greatest(CAST(ncur AS DOUBLE) / CAST(tcur AS DOUBLE), $eps) AS pc
         |      FROM c JOIN tt USING (event_type)),
         |x AS (SELECT event_type, bin, nref, ncur, pr, pc,
         |             ${sround(s"(pc - pr) * (${sround("ln(pc / pr)", 6)})", 9)} AS psi_term
         |      FROM p)
         |SELECT event_type, CAST(bin AS INT) AS bin, nref, ncur,
         |       ${sround("pr", 6)} AS p_ref, ${sround("pc", 6)} AS p_cur, psi_term,
         |       sum(floor(psi_term * ${dlit(1.0e9)} + ${dlit(0.5)}))
         |         OVER (PARTITION BY event_type) / ${dlit(1.0e9)} AS psi
         |FROM x""".stripMargin
    },

    // the same lexicographic struct extremes serially — both engines
    // compare field-by-field in declaration order
    "q185_argmax_aggregate" ->
      s"""WITH a AS (SELECT event_type,
         |                  max({'v': value, 'e': event_id, 'u': user_id}) AS mx,
         |                  min({'v': value, 'e': event_id, 'u': user_id}) AS mn
         |           FROM events GROUP BY event_type)
         |SELECT event_type,
         |       ${sround("(mx).v", 6)} AS max_value,
         |       CAST((mx).e AS BIGINT) AS max_event, CAST((mx).u AS BIGINT) AS max_user,
         |       ${sround("(mn).v", 6)} AS min_value,
         |       CAST((mn).e AS BIGINT) AS min_event, CAST((mn).u AS BIGINT) AS min_user
         |FROM a""".stripMargin,

    // the same multiset algebra serially
    "q187_bag_setops" ->
      """WITH a AS (SELECT event_type FROM events WHERE user_id % 2 = 0),
        |b AS (SELECT event_type FROM events WHERE user_id % 2 <> 0),
        |e AS (SELECT 'except_all' AS op, event_type FROM
        |        (SELECT event_type FROM a EXCEPT ALL SELECT event_type FROM b)),
        |i AS (SELECT 'intersect_all' AS op, event_type FROM
        |        (SELECT event_type FROM a INTERSECT ALL SELECT event_type FROM b))
        |SELECT op, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT * FROM e UNION ALL SELECT * FROM i)
        |GROUP BY op, event_type""".stripMargin,

    // the IDENTICAL grouping-sets statement, DuckDB's own expansion
    "q188_grouping_sets" -> groupingSetsSql("lineitem"),

    // the same µs range frame serially — RANGE peers group identically
    "q189_range_frame" ->
      s"""WITH e AS (SELECT event_type, event_id, user_id, epoch_us(ts) AS ts_us,
         |                  CAST(floor(value * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS vq
         |           FROM events),
         |f AS (SELECT event_type, event_id,
         |             CAST(count(*) OVER w AS BIGINT) AS n_hour,
         |             CAST(sum(vq) OVER w AS BIGINT) AS svq_hour
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
         |                          RANGE BETWEEN $HourUs PRECEDING AND CURRENT ROW))
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |       CAST(max(n_hour) AS BIGINT) AS max_burst,
         |       CAST(sum(n_hour * event_id) AS BIGINT) AS burst_checksum,
         |       CAST(sum(svq_hour) AS BIGINT) AS volume_checksum
         |FROM f GROUP BY event_type""".stripMargin,

    // the same cents-integer leading digit, embedded Benford literals and
    // scaled-integer χ² window serially
    "q190_benford_profile" -> {
      val plist = s"[${BenfordP.map(dlit).mkString(", ")}]"
      s"""WITH li AS (SELECT l_returnflag,
         |  CAST(floor(l_extendedprice * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS vq
         |  FROM lineitem),
         |dd AS (SELECT l_returnflag,
         |              CAST(substr(CAST(vq AS VARCHAR), 1, 1) AS INT) AS d FROM li),
         |c AS (SELECT l_returnflag, d, CAST(count(*) AS BIGINT) AS n
         |      FROM dd GROUP BY l_returnflag, d),
         |t AS (SELECT l_returnflag, d, n,
         |             CAST(sum(n) OVER (PARTITION BY l_returnflag) AS BIGINT) AS nn
         |      FROM c),
         |x AS (SELECT l_returnflag, d, n, nn, $plist[d] AS pexp,
         |             CAST(nn AS DOUBLE) * $plist[d] AS exp_n FROM t),
         |y AS (SELECT *, ${sround("(CAST(n AS DOUBLE) - exp_n) * (CAST(n AS DOUBLE) - exp_n) / exp_n", 6)} AS chi2_term
         |      FROM x)
         |SELECT l_returnflag, d, n,
         |       ${sround("CAST(n AS DOUBLE) / CAST(nn AS DOUBLE)", 6)} AS p_obs,
         |       ${sround("pexp", 9)} AS p_benford, chi2_term,
         |       sum(floor(chi2_term * ${dlit(1.0e6)} + ${dlit(0.5)}))
         |         OVER (PARTITION BY l_returnflag) / ${dlit(1.0e6)} AS chi2
         |FROM y""".stripMargin
    },

    // the same BIGINT-exact rank formula serially
    "q191_gini_concentration" ->
      s"""WITH rev AS (SELECT o_custkey,
         |  CAST(sum(CAST(floor(o_totalprice * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT)) AS BIGINT) AS rev
         |  FROM orders GROUP BY o_custkey),
         |r AS (SELECT c_mktsegment, rev, o_custkey,
         |             CAST(row_number() OVER (PARTITION BY c_mktsegment
         |               ORDER BY rev, o_custkey) AS BIGINT) AS i
         |      FROM rev JOIN customer ON o_custkey = c_custkey),
         |a AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(rev) AS BIGINT) AS total_rev,
         |             CAST(sum(i * rev) AS BIGINT) AS iwsum
         |      FROM r GROUP BY c_mktsegment)
         |SELECT c_mktsegment, n, total_rev,
         |       ${sround("CAST(2 * iwsum - (n + 1) * total_rev AS DOUBLE) / CAST(n * total_rev AS DOUBLE)", 9)} AS gini
         |FROM a""".stripMargin,

    // the same integer-millionth weights and bounded lags serially
    "q192_ewma_smoothing" -> {
      val lags = (1 to 7).map(k => s"lag(vq, $k) OVER w AS v$k").mkString(", ")
      val num = EwmaWq.zipWithIndex.map { case (wq, k) =>
        s"(CASE WHEN v$k IS NOT NULL THEN $wq * v$k ELSE 0 END)"
      }.mkString(" + ")
      val den = EwmaWq.zipWithIndex.map { case (wq, k) =>
        s"(CASE WHEN v$k IS NOT NULL THEN $wq ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (SELECT event_type, event_id, user_id, epoch_us(ts) AS ts_us,
         |  CAST(floor(value * ${dlit(10000.0)} + ${dlit(0.5)}) AS BIGINT) AS vq
         |  FROM events),
         |l AS (SELECT event_type, vq AS v0, $lags
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |x AS (SELECT event_type,
         |  ${sround(s"CAST($num AS DOUBLE) / (CAST($den AS DOUBLE) * ${dlit(10000.0)})", 6)} AS ewma
         |      FROM l)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |       ${xsumSql("ewma", 6)} AS sum_ewma, max(ewma) AS max_ewma
         |FROM x GROUP BY event_type""".stripMargin
    },

    // the same one-scan conditional counts and IEEE-√ pipeline serially
    "q193_ab_ztest" ->
      s"""WITH c AS (SELECT event_type,
         |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |  CAST(sum(CASE WHEN user_id % 2 = 0 AND value > ${dlit(AbConvThreshold)} THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |  CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |  CAST(sum(CASE WHEN user_id % 2 <> 0 AND value > ${dlit(AbConvThreshold)} THEN 1 ELSE 0 END) AS BIGINT) AS c2
         |  FROM events GROUP BY event_type),
         |p AS (SELECT *,
         |  ${sround("CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)", 9)} AS p1,
         |  ${sround("CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)", 9)} AS p2,
         |  ${sround("CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)", 9)} AS p
         |  FROM c),
         |s AS (SELECT *,
         |  sqrt(${sround(s"p * (${dlit(1.0)} - p) * (${dlit(1.0)} / CAST(n1 AS DOUBLE) + ${dlit(1.0)} / CAST(n2 AS DOUBLE))", 12)}) AS se
         |  FROM p)
         |SELECT event_type, n1, c1, n2, c2, p1, p2,
         |       ${sround("(p1 - p2) / nullif(se, 0.0)", 6)} AS z
         |FROM s""".stripMargin,

    // the same bounded cell/marginal algebra and quantized logs serially
    "q195_mutual_information" ->
      s"""WITH c AS (SELECT event_type,
         |             CAST(least(floor(value / ${dlit(50.0)}), ${dlit(9.0)}) AS INT) AS bucket,
         |             CAST(count(*) AS BIGINT) AS n_xy
         |           FROM events GROUP BY event_type, bucket),
         |nx AS (SELECT event_type, CAST(sum(n_xy) AS BIGINT) AS n_x FROM c GROUP BY event_type),
         |ny AS (SELECT bucket, CAST(sum(n_xy) AS BIGINT) AS n_y FROM c GROUP BY bucket),
         |tt AS (SELECT CAST(sum(n_xy) AS BIGINT) AS nn FROM c),
         |p AS (SELECT c.event_type, c.bucket, c.n_xy,
         |        ${sround("CAST(n_xy AS DOUBLE) / CAST(nn AS DOUBLE)", 9)} AS p_xy,
         |        ${sround("CAST(n_x AS DOUBLE) / CAST(nn AS DOUBLE)", 9)} AS p_x,
         |        ${sround("CAST(n_y AS DOUBLE) / CAST(nn AS DOUBLE)", 9)} AS p_y
         |      FROM c JOIN nx USING (event_type) JOIN ny USING (bucket) CROSS JOIN tt),
         |x AS (SELECT event_type, bucket, n_xy,
         |        ${sround(s"p_xy * (${sround("ln(p_xy / (p_x * p_y))", 6)})", 9)} AS mi_term
         |      FROM p)
         |SELECT event_type, bucket, n_xy, mi_term,
         |       sum(floor(mi_term * ${dlit(1.0e9)} + ${dlit(0.5)})) OVER () / ${dlit(1.0e9)} AS mi
         |FROM x""".stripMargin,

    // the same Q18 shape serially (threshold shared from
    // VolumeQtyHundredths so the surfaces cannot drift)
    "q196_volume_customers" ->
      s"""WITH big AS (SELECT l_orderkey,
         |    CAST(sum(CAST(floor(l_quantity * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT)) AS BIGINT) AS qsum
         |  FROM lineitem GROUP BY l_orderkey),
         |b AS (SELECT * FROM big WHERE qsum > $VolumeQtyHundredths)
         |SELECT c_custkey, c_name, o_orderkey,
         |       CAST(epoch_us(o_orderdate) AS BIGINT) AS orderdate_us,
         |       CAST(qsum AS DOUBLE) / ${dlit(100.0)} AS sum_qty
         |FROM b JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey""".stripMargin,

    // the same user-sized ntile ranking and cumulative rates serially
    "q197_decile_lift" ->
      s"""WITH u AS (SELECT user_id,
         |    CAST(sum(CAST(floor(value * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT)) AS BIGINT) AS spend,
         |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv
         |  FROM events GROUP BY user_id),
         |d AS (SELECT *, CAST(ntile(10) OVER (ORDER BY spend DESC, user_id) AS INT) AS decile FROM u),
         |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
         |             CAST(sum(conv) AS BIGINT) AS n_conv
         |      FROM d GROUP BY decile),
         |w AS (SELECT *,
         |        CAST(sum(n_users) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users,
         |        CAST(sum(n_conv) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_conv
         |      FROM g),
         |t AS (SELECT CAST(sum(n_users) AS BIGINT) AS tu, CAST(sum(n_conv) AS BIGINT) AS tc FROM g)
         |SELECT decile, n_users, n_conv,
         |       ${sround("CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)", 9)} AS conv_rate,
         |       ${sround(s"(${sround("CAST(cum_conv AS DOUBLE) / CAST(cum_users AS DOUBLE)", 9)}) / (${sround("CAST(tc AS DOUBLE) / CAST(tu AS DOUBLE)", 9)})", 6)} AS cum_lift
         |FROM w CROSS JOIN t""".stripMargin,

    // the same first-touch gaps and q72 rank arithmetic serially
    "q198_time_to_convert" ->
      s"""WITH u AS (SELECT user_id,
         |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS tv,
         |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp
         |  FROM events GROUP BY user_id),
         |gaps AS (SELECT user_id, CAST(tp - tv AS BIGINT) AS gap_us FROM u
         |         WHERE tv IS NOT NULL AND tp IS NOT NULL AND tp >= tv),
         |r AS (SELECT gap_us,
         |             row_number() OVER (ORDER BY gap_us, user_id) AS rn,
         |             CAST(count(*) OVER () AS BIGINT) AS n
         |      FROM gaps),
         |t AS (SELECT unnest([${Seq(0.5, 0.9).map(dlit).mkString(", ")}]) AS q)
         |SELECT t.q, r.gap_us, r.n AS n_converted
         |FROM r JOIN t ON r.rn = floor(t.q * (r.n - 1)) + 1""".stripMargin,

    // the same boundary sweep serially
    "q201_max_concurrency" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t0 FROM events),
         |pts AS (SELECT user_id, t0 AS t, CAST(1 AS BIGINT) AS d, event_id FROM e
         |        UNION ALL
         |        SELECT user_id, t0 + $ConcDurUs AS t, CAST(-1 AS BIGINT) AS d, event_id FROM e),
         |c AS (SELECT user_id,
         |             CAST(sum(d) OVER (PARTITION BY user_id ORDER BY t, d, event_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
         |      FROM pts),
         |m AS (SELECT user_id, CAST(max(c) AS BIGINT) AS max_conc FROM c GROUP BY user_id)
         |SELECT max_conc, CAST(count(*) AS BIGINT) AS n_users
         |FROM m GROUP BY max_conc""".stripMargin,

    // the same whole-partition value functions serially
    "q229_window_value_suite" ->
      s"""WITH e AS (SELECT event_type, event_id, user_id, epoch_us(ts) AS ts_us FROM events),
         |v AS (SELECT event_type, event_id,
         |        first_value(event_id) OVER w AS first_ev,
         |        last_value(event_id) OVER w AS last_ev,
         |        nth_value(event_id, 3) OVER w AS third_ev
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(first_ev * event_id) AS BIGINT) AS first_checksum,
         |       CAST(sum(last_ev * event_id) AS BIGINT) AS last_checksum,
         |       CAST(sum(coalesce(third_ev, 0) * event_id) AS BIGINT) AS third_checksum
         |FROM v GROUP BY event_type""".stripMargin,

    // the same lead() silence gate serially
    "q230_dropout_points" ->
      s"""WITH e AS (SELECT event_type, event_id, user_id, epoch_us(ts) AS ts_us FROM events),
         |v AS (SELECT event_type, event_id,
         |        lead(ts_us, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS next_us,
         |        ts_us
         |      FROM e)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CASE WHEN next_us IS NULL OR next_us - ts_us > $HourUs THEN 1 ELSE 0 END) AS BIGINT) AS n_dropouts,
         |       CAST(sum(CASE WHEN next_us IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_terminal,
         |       CAST(sum(CASE WHEN next_us IS NULL OR next_us - ts_us > $HourUs THEN event_id ELSE 0 END) AS BIGINT) AS dropout_checksum
         |FROM v GROUP BY event_type""".stripMargin,

    // the same combinable mode serially
    "q231_mode_per_group" ->
      s"""WITH b AS (SELECT event_type, CAST(floor(value / ${dlit(10.0)}) AS BIGINT) AS bucket
         |           FROM events),
         |c AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n
         |      FROM b GROUP BY event_type, bucket),
         |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
         |             max({'n': n, 'nb': -bucket}) AS b
         |      FROM c GROUP BY event_type)
         |SELECT event_type, n_buckets, CAST(-(b).nb AS BIGINT) AS mode_bucket,
         |       CAST((b).n AS BIGINT) AS mode_n
         |FROM m""".stripMargin,

    // the same combinable argmin serially
    "q225_min_cost_supplier" ->
      s"""WITH c AS (SELECT p_partkey, p_name, l_suppkey,
         |    CAST(min(CAST(floor(l_extendedprice * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT)) AS BIGINT) AS min_cents
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE p_size = 10
         |  GROUP BY p_partkey, p_name, l_suppkey),
         |b AS (SELECT p_partkey, p_name,
         |             min({'m': min_cents, 'k': l_suppkey}) AS b
         |      FROM c GROUP BY p_partkey, p_name)
         |SELECT p_partkey, p_name, s_name,
         |       CAST((b).m AS DOUBLE) / ${dlit(100.0)} AS min_price
         |FROM b JOIN supplier ON (b).k = s_suppkey""".stripMargin,

    // the same Q7 matrix serially
    "q226_trade_matrix" ->
      s"""WITH li AS (SELECT l_orderkey, l_suppkey,
         |    CAST(floor(l_extendedprice * (${dlit(1.0)} - l_discount) * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS cents
         |  FROM lineitem)
         |SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
         |       CAST(count(*) AS BIGINT) AS n_items,
         |       CAST(sum(cents) AS DOUBLE) / ${dlit(100.0)} AS revenue
         |FROM li
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |GROUP BY cn.n_name, sn.n_name""".stripMargin,

    // the same daily error budget serially
    "q220_error_rate_slo" ->
      s"""WITH d AS (SELECT epoch_us(ts) // $DayUs AS day,
         |                  CAST(count(*) AS BIGINT) AS n,
         |                  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err
         |           FROM events GROUP BY day),
         |r AS (SELECT CAST(day AS BIGINT) AS day, n, n_err,
         |             ${sround("CAST(n_err AS DOUBLE) / CAST(n AS DOUBLE)", 9)} AS err_rate
         |      FROM d)
         |SELECT day, n, n_err, err_rate, err_rate > ${dlit(SloThreshold)} AS breach,
         |       CAST(sum(CASE WHEN err_rate > ${dlit(SloThreshold)} THEN 1 ELSE 0 END)
         |         OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS breaches_so_far
         |FROM r""".stripMargin,

    // the same µs gap ranks serially
    "q221_shipping_delay" ->
      s"""WITH j AS (SELECT o_orderpriority, l_orderkey, l_linenumber,
         |                  epoch_us(l_shipdate) - epoch_us(o_orderdate) AS gap_us
         |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |r AS (SELECT *,
         |        row_number() OVER (PARTITION BY o_orderpriority
         |          ORDER BY gap_us, l_orderkey, l_linenumber) AS rn,
         |        CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n,
         |        CAST(sum(gap_us) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS sg
         |      FROM j),
         |t AS (SELECT o_orderpriority AS p, n AS tn,
         |             unnest([${Seq(0.5, 0.9).map(dlit).mkString(", ")}]) AS q
         |      FROM (SELECT o_orderpriority, max(n) AS n FROM r GROUP BY o_orderpriority))
         |SELECT r.o_orderpriority, t.q, CAST(r.gap_us AS BIGINT) AS gap_us, r.n,
         |       ${sround("CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)", 6)} AS mean_gap_us
         |FROM r JOIN t ON r.o_orderpriority = t.p AND r.rn = floor(t.q * (t.tn - 1)) + 1""".stripMargin,

    // the same customer-cadence median serially
    "q222_reorder_interval" ->
      s"""WITH g AS (SELECT o_orderkey, o_custkey,
         |                  epoch_us(o_orderdate) - lag(epoch_us(o_orderdate), 1)
         |                    OVER (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate), o_orderkey) AS gap_us
         |           FROM orders),
         |s AS (SELECT c_mktsegment, g.o_orderkey, gap_us
         |      FROM g JOIN customer ON o_custkey = c_custkey WHERE gap_us IS NOT NULL),
         |r AS (SELECT *,
         |        row_number() OVER (PARTITION BY c_mktsegment ORDER BY gap_us, o_orderkey) AS rn,
         |        CAST(count(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n
         |      FROM s)
         |SELECT c_mktsegment, n AS n_gaps, CAST(gap_us AS BIGINT) AS median_gap_us
         |FROM r WHERE rn = floor(${dlit(0.5)} * (n - 1)) + 1""".stripMargin,

    // the same conditional counts serially
    "q218_percentile_probe" -> {
      val probes = Seq(50.0, 100.0, 250.0).map(dlit).mkString(", ")
      s"""WITH e AS (SELECT event_type, value, unnest([$probes]) AS probe FROM events),
         |c AS (SELECT event_type, probe, CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(CASE WHEN value < probe THEN 1 ELSE 0 END) AS BIGINT) AS n_lt,
         |        CAST(sum(CASE WHEN value <= probe THEN 1 ELSE 0 END) AS BIGINT) AS n_le
         |      FROM e GROUP BY event_type, probe)
         |SELECT event_type, probe, n, n_lt, n_le,
         |       ${sround("CAST(n_lt AS DOUBLE) / CAST(n AS DOUBLE)", 9)} AS pct_lt,
         |       ${sround("CAST(n_le AS DOUBLE) / CAST(n AS DOUBLE)", 9)} AS pct_le
         |FROM c""".stripMargin
    },

    // the same exact-moment z gate serially
    "q219_zscore_outliers" ->
      s"""WITH e AS (SELECT event_type,
         |    CAST(floor(value * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS vq
         |  FROM events),
         |mom AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |               CAST(sum(vq) AS BIGINT) AS sv,
         |               CAST(sum(vq * vq) AS BIGINT) AS svv
         |        FROM e GROUP BY event_type),
         |ms AS (SELECT event_type,
         |         ${sround(s"CAST(sv AS DOUBLE) / (CAST(n AS DOUBLE) * ${dlit(100.0)})", 9)} AS mu,
         |         sqrt(greatest(${sround(s"CAST(svv AS DOUBLE) / (CAST(n AS DOUBLE) * ${dlit(10000.0)}) - (${sround(s"CAST(sv AS DOUBLE) / (CAST(n AS DOUBLE) * ${dlit(100.0)})", 9)}) * (${sround(s"CAST(sv AS DOUBLE) / (CAST(n AS DOUBLE) * ${dlit(100.0)})", 9)})", 9)}, ${dlit(0.0)})) AS sigma
         |       FROM mom),
         |z AS (SELECT e.event_type,
         |        ${sround(s"(CAST(vq AS DOUBLE) / ${dlit(100.0)} - mu) / sigma", 6)} AS z
         |      FROM e JOIN ms USING (event_type))
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CASE WHEN abs(z) > ${dlit(3.0)} THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         |       max(abs(z)) AS max_abs_z
         |FROM z GROUP BY event_type""".stripMargin,

    // the same two-level reset windows serially
    "q213_session_cumsum" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         |    CAST(floor(value * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS vq
         |  FROM events),
         |s AS (SELECT *,
         |        CASE WHEN lag(ts_us, 1) OVER w IS NULL
         |               OR ts_us - lag(ts_us, 1) OVER w > $SessionGapUs THEN 1 ELSE 0 END AS is_new
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |sid AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |        FROM s),
         |c AS (SELECT *, CAST(sum(vq) OVER (PARTITION BY user_id, session_id ORDER BY ts_us, event_id
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vq
         |      FROM sid)
         |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(max(cum_vq) AS DOUBLE) / ${dlit(100.0)} AS peak_value,
         |       CAST(sum(vq) AS DOUBLE) / ${dlit(100.0)} AS total_value,
         |       CAST(sum(cum_vq * event_id) AS BIGINT) AS cum_checksum
         |FROM c GROUP BY user_id, session_id""".stripMargin,

    // the same customer-sized quartiling serially
    "q202_rfm_segments" ->
      s"""WITH cust AS (SELECT o_custkey,
         |    CAST(max(epoch_us(o_orderdate)) AS BIGINT) AS recency,
         |    CAST(count(*) AS BIGINT) AS frequency,
         |    CAST(sum(CAST(floor(o_totalprice * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT)) AS BIGINT) AS monetary
         |  FROM orders GROUP BY o_custkey),
         |s AS (SELECT *,
         |        CAST(ntile(4) OVER (ORDER BY recency DESC, o_custkey) AS INT) AS r_q,
         |        CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS INT) AS f_q,
         |        CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS INT) AS m_q
         |      FROM cust)
         |SELECT r_q, f_q, m_q, CAST(count(*) AS BIGINT) AS n_customers,
         |       CAST(sum(monetary) AS BIGINT) AS seg_cents,
         |       ${sround(s"CAST(sum(monetary) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * ${dlit(100.0)})", 6)} AS avg_monetary
         |FROM s GROUP BY r_q, f_q, m_q""".stripMargin,

    // the same bounded daily-mean CUSUM serially
    "q204_cusum_changepoint" ->
      s"""WITH daily AS (SELECT event_type, epoch_us(ts) // $DayUs AS day,
         |    CAST(sum(CAST(floor(value * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT)) AS BIGINT) AS sv,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY event_type, day),
         |tot AS (SELECT event_type, CAST(sum(sv) AS BIGINT) AS tsv,
         |               CAST(sum(n) AS BIGINT) AS tn
         |        FROM daily GROUP BY event_type),
         |j AS (SELECT daily.*,
         |        ${sround(s"CAST(sv AS DOUBLE) / (CAST(n AS DOUBLE) * ${dlit(100.0)})", 6)} AS mean_d,
         |        ${sround(s"CAST(tsv AS DOUBLE) / (CAST(tn AS DOUBLE) * ${dlit(100.0)})", 6)} AS gmean
         |      FROM daily JOIN tot USING (event_type)),
         |c AS (SELECT event_type, CAST(day AS BIGINT) AS day, n, mean_d,
         |             mean_d - gmean AS dev,
         |             sum(floor((mean_d - gmean) * ${dlit(1.0e6)} + ${dlit(0.5)}))
         |               OVER (PARTITION BY event_type ORDER BY day
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / ${dlit(1.0e6)} AS cusum
         |      FROM j)
         |SELECT event_type, day, n, mean_d, dev, cusum,
         |       abs(cusum) = max(abs(cusum)) OVER (PARTITION BY event_type) AS is_peak
         |FROM c""".stripMargin,

    // the same BIGINT-exact lag-1 Pearson serially
    "q205_daily_autocorr" ->
      s"""WITH daily AS (SELECT event_type, epoch_us(ts) // $DayUs AS day,
         |    CAST(sum(CAST(floor(value * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT)) AS BIGINT) AS sv,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY event_type, day),
         |q AS (SELECT event_type, day,
         |        CAST(floor((CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS qm
         |      FROM daily),
         |p AS (SELECT event_type, qm AS qy,
         |             lag(qm, 1) OVER (PARTITION BY event_type ORDER BY day) AS qx
         |      FROM q),
         |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
         |             CAST(sum(qx) AS BIGINT) AS sx, CAST(sum(qy) AS BIGINT) AS sy,
         |             CAST(sum(qx * qy) AS BIGINT) AS sxy,
         |             CAST(sum(qx * qx) AS BIGINT) AS sxx,
         |             CAST(sum(qy * qy) AS BIGINT) AS syy
         |      FROM p WHERE qx IS NOT NULL GROUP BY event_type)
         |SELECT event_type, n_pairs,
         |       ${sround("CAST(n_pairs * sxy - sx * sy AS DOUBLE) / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)))", 6)} AS r
         |FROM m""".stripMargin,

    // the same daily-count moments and 2σ gate serially
    "q207_burst_days" ->
      s"""WITH daily AS (SELECT event_type, epoch_us(ts) // $DayUs AS day,
         |                      CAST(count(*) AS BIGINT) AS n
         |               FROM events GROUP BY event_type, day),
         |mom AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
         |               CAST(sum(n) AS BIGINT) AS sn,
         |               CAST(sum(n * n) AS BIGINT) AS snn
         |        FROM daily GROUP BY event_type),
         |ms AS (SELECT event_type, nd,
         |         ${sround("CAST(sn AS DOUBLE) / CAST(nd AS DOUBLE)", 9)} AS mu,
         |         sqrt(greatest(${sround(s"CAST(snn AS DOUBLE) / CAST(nd AS DOUBLE) - (${sround("CAST(sn AS DOUBLE) / CAST(nd AS DOUBLE)", 9)}) * (${sround("CAST(sn AS DOUBLE) / CAST(nd AS DOUBLE)", 9)})", 9)}, ${dlit(0.0)})) AS sigma
         |       FROM mom)
         |SELECT daily.event_type, CAST(day AS BIGINT) AS day, n, mu,
         |       ${sround("sigma", 6)} AS sigma,
         |       CAST(n AS DOUBLE) > mu + ${dlit(2.0)} * sigma AS is_burst
         |FROM daily JOIN ms USING (event_type)""".stripMargin,

    // the same bounded-domain entropy/KL algebra serially
    "q208_mix_entropy_kl" ->
      s"""WITH c AS (SELECT epoch_us(ts) // $DayUs AS day, event_type,
         |                  CAST(count(*) AS BIGINT) AS n
         |           FROM events GROUP BY day, event_type),
         |dt AS (SELECT day, CAST(sum(n) AS BIGINT) AS dn FROM c GROUP BY day),
         |gt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS gn FROM c GROUP BY event_type),
         |a AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c),
         |pp AS (SELECT c.day, c.event_type, c.n,
         |         ${sround("CAST(n AS DOUBLE) / CAST(dn AS DOUBLE)", 9)} AS p,
         |         ${sround("CAST(gn AS DOUBLE) / CAST(nn AS DOUBLE)", 9)} AS q
         |       FROM c JOIN dt USING (day) JOIN gt USING (event_type) CROSS JOIN a),
         |x AS (SELECT *,
         |        ${sround(s"-p * (${sround("ln(p)", 6)})", 9)} AS h_term,
         |        ${sround(s"p * (${sround("ln(p / q)", 6)})", 9)} AS kl_term
         |      FROM pp)
         |SELECT CAST(day AS BIGINT) AS day, event_type, n, p, h_term, kl_term,
         |       sum(floor(h_term * ${dlit(1.0e9)} + ${dlit(0.5)})) OVER (PARTITION BY day) / ${dlit(1.0e9)} AS entropy,
         |       sum(floor(kl_term * ${dlit(1.0e9)} + ${dlit(0.5)})) OVER (PARTITION BY day) / ${dlit(1.0e9)} AS kl
         |FROM x""".stripMargin,

    // the same pushed-down scan aggregation serially
    "q211_q6_revenue_effect" ->
      s"""WITH t AS (SELECT floor(l_extendedprice * l_discount * ${dlit(10000.0)} + ${dlit(0.5)}) / ${dlit(10000.0)} AS term
         |           FROM lineitem
         |           WHERE l_discount BETWEEN ${dlit(0.05)} AND ${dlit(0.07)}
         |             AND l_quantity < 24)
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |       ${xsumSql("term", 4)} AS revenue_effect
         |FROM t""".stripMargin,

    // the same epoch-day modular dow serially
    "q203_dow_profile" ->
      s"""WITH e AS (SELECT event_type, value,
         |                  ((epoch_us(ts) // $DayUs) + 3) % 7 AS dow
         |           FROM events)
         |SELECT event_type, CAST(dow AS BIGINT) AS dow,
         |       CAST(count(*) AS BIGINT) AS n,
         |       ${xsumSql("value", 6)} AS sum_value,
         |       ${sround(s"(${xsumSql("value", 6)}) / CAST(count(*) AS DOUBLE)", 6)} AS avg_value
         |FROM e GROUP BY event_type, dow""".stripMargin,

    // the same two-term integer profit serially
    "q253_q9_product_profit" ->
      s"""WITH li AS (SELECT l_orderkey, l_suppkey,
         |    CAST(floor(l_extendedprice * (${dlit(1.0)} - l_discount) * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS rev_cents,
         |    CAST(floor(p_retailprice * l_quantity * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS cost_cents
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE p_type = 'ECONOMY')
         |SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |       CAST(count(*) AS BIGINT) AS n_items,
         |       CAST(sum(rev_cents - cost_cents) AS DOUBLE) / ${dlit(100.0)} AS profit
         |FROM li
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY n_name, o_year""".stripMargin,

    // the same integer running-weight threshold serially
    "q249_weighted_median" ->
      s"""WITH li AS (SELECT l_returnflag,
         |    CAST(floor(l_extendedprice * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS cents,
         |    CAST(floor(l_quantity * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS qh,
         |    l_orderkey, l_linenumber
         |  FROM lineitem),
         |r AS (SELECT l_returnflag, cents, qh,
         |        CAST(sum(qh) OVER (PARTITION BY l_returnflag
         |          ORDER BY cents, l_orderkey, l_linenumber
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |        CAST(sum(qh) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
         |      FROM li)
         |SELECT l_returnflag, CAST(min(tot) AS BIGINT) AS total_qh,
         |       CAST(min(CASE WHEN 2 * cum >= tot THEN cents END) AS DOUBLE) / ${dlit(100.0)} AS weighted_median_price
         |FROM r GROUP BY l_returnflag""".stripMargin,

    // the same rank cutpoints + clamp serially
    "q250_winsorized_mean" ->
      s"""WITH r AS (SELECT event_type, value, event_id,
         |        row_number() OVER (PARTITION BY event_type
         |          ORDER BY value, event_id) AS rn,
         |        CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
         |      FROM events),
         |c AS (SELECT event_type,
         |        min(CASE WHEN rn = floor(${dlit(0.05)} * (n - 1)) + 1 THEN value END) AS lo,
         |        min(CASE WHEN rn = floor(${dlit(0.95)} * (n - 1)) + 1 THEN value END) AS hi
         |      FROM r GROUP BY event_type),
         |j AS (SELECT e.event_type, e.value, c.lo, c.hi,
         |             greatest(c.lo, least(c.hi, e.value)) AS clamped
         |      FROM events e JOIN c ON e.event_type = c.event_type)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |       min(lo) AS lo, min(hi) AS hi,
         |       CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_low,
         |       CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_high,
         |       ${sround(s"(${xsumSql("value", 6)}) / CAST(count(*) AS DOUBLE)", 6)} AS mean_raw,
         |       ${sround(s"(${xsumSql("clamped", 6)}) / CAST(count(*) AS DOUBLE)", 6)} AS mean_winsorized
         |FROM j GROUP BY event_type""".stripMargin,

    // the same Q3 top-10 serially — integer-cents ordering keeps the cut set exact
    "q235_q3_shipping_priority" ->
      s"""WITH li AS (SELECT l_orderkey,
         |    CAST(floor(l_extendedprice * (${dlit(1.0)} - l_discount) * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS cents
         |  FROM lineitem WHERE epoch_us(l_shipdate) > $Cut98Us),
         |g AS (SELECT o_orderkey, CAST(epoch_us(o_orderdate) AS BIGINT) AS order_date_us,
         |             CAST(sum(cents) AS BIGINT) AS rev_cents
         |      FROM li JOIN orders ON l_orderkey = o_orderkey
         |      JOIN customer ON o_custkey = c_custkey
         |      WHERE c_mktsegment = 'BUILDING' AND epoch_us(o_orderdate) < $Cut98Us
         |      GROUP BY o_orderkey, order_date_us
         |      ORDER BY rev_cents DESC, o_orderkey LIMIT 10)
         |SELECT o_orderkey, order_date_us,
         |       CAST(rev_cents AS DOUBLE) / ${dlit(100.0)} AS revenue
         |FROM g""".stripMargin,

    // the same EXISTS lateness check serially
    "q236_q4_priority_check" ->
      s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
         |FROM orders o
         |WHERE epoch_us(o_orderdate) >= $Jan97Us AND epoch_us(o_orderdate) < $Jul97Us
         |  AND EXISTS (SELECT 1 FROM lineitem l
         |              WHERE l.l_orderkey = o.o_orderkey
         |                AND epoch_us(l.l_shipdate) > epoch_us(o.o_orderdate) + $LateShipUs)
         |GROUP BY o_orderpriority""".stripMargin,

    // the same local-supplier star serially
    "q237_q5_local_supplier" ->
      s"""WITH li AS (SELECT l_orderkey, l_suppkey,
         |    CAST(floor(l_extendedprice * (${dlit(1.0)} - l_discount) * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS cents
         |  FROM lineitem)
         |SELECT n_name, CAST(count(*) AS BIGINT) AS n_items,
         |       CAST(sum(cents) AS DOUBLE) / ${dlit(100.0)} AS revenue
         |FROM li
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE epoch_us(o_orderdate) >= $Jan97Us AND epoch_us(o_orderdate) < $Cut98Us
         |  AND c_nationkey = s_nationkey AND r_name = 'ASIA'
         |GROUP BY n_name""".stripMargin,

    // the same returned-item top-20 serially
    "q238_q10_returned_items" ->
      s"""WITH li AS (SELECT l_orderkey,
         |    CAST(floor(l_extendedprice * (${dlit(1.0)} - l_discount) * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS cents
         |  FROM lineitem WHERE l_returnflag = 'R'),
         |pc AS (SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS rev_cents
         |       FROM li JOIN orders ON l_orderkey = o_orderkey
         |       WHERE epoch_us(o_orderdate) >= $Jan97Us AND epoch_us(o_orderdate) < $Apr97Us
         |       GROUP BY o_custkey
         |       ORDER BY rev_cents DESC, o_custkey LIMIT 20)
         |SELECT o_custkey AS c_custkey, c_name, n_name,
         |       CAST(CAST(floor(c_acctbal * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS DOUBLE) / ${dlit(100.0)} AS c_acctbal,
         |       CAST(rev_cents AS DOUBLE) / ${dlit(100.0)} AS lost_revenue
         |FROM pc JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey""".stripMargin,

    // the same zero-preserving count-of-counts serially
    "q239_q13_order_distribution" ->
      s"""WITH cnt AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
         |             FROM orders WHERE o_orderstatus <> 'P' GROUP BY o_custkey)
         |SELECT CAST(coalesce(cnt, 0) AS BIGINT) AS c_count,
         |       CAST(count(*) AS BIGINT) AS custdist
         |FROM customer LEFT JOIN cnt ON c_custkey = o_custkey
         |GROUP BY c_count""".stripMargin,

    // the same one-pass promo share serially
    "q240_q14_promo_share" ->
      s"""WITH li AS (SELECT l_partkey,
         |    CAST(floor(l_extendedprice * (${dlit(1.0)} - l_discount) * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS cents
         |  FROM lineitem
         |  WHERE epoch_us(l_shipdate) >= $Sep97Us AND epoch_us(l_shipdate) < $Oct97Us)
         |SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END) AS BIGINT) AS promo_cents,
         |       CAST(sum(cents) AS BIGINT) AS total_cents,
         |       ${sround(s"${dlit(100.0)} * CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END) AS DOUBLE) / CAST(sum(cents) AS DOUBLE)", 6)} AS promo_share
         |FROM li JOIN part ON l_partkey = p_partkey""".stripMargin,

    // the same ties-preserved revenue max serially
    "q246_q15_top_supplier" ->
      s"""WITH rev AS (SELECT l_suppkey, CAST(sum(
         |    CAST(floor(l_extendedprice * (${dlit(1.0)} - l_discount) * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT)) AS BIGINT) AS rev_cents
         |  FROM lineitem
         |  WHERE epoch_us(l_shipdate) >= $Jan97Us AND epoch_us(l_shipdate) < $Apr97Us
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, CAST(rev_cents AS DOUBLE) / ${dlit(100.0)} AS total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE rev_cents = (SELECT max(rev_cents) FROM rev)""".stripMargin,

    // the same integer-exact 20%-of-average threshold serially
    "q241_q17_small_quantity" ->
      s"""WITH p AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#12'),
         |li AS (SELECT l_partkey,
         |    CAST(floor(l_quantity * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS qh,
         |    CAST(floor(l_extendedprice * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS cents
         |  FROM lineitem JOIN p ON l_partkey = p_partkey),
         |t AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(qh) AS BIGINT) AS sum_qh
         |      FROM li GROUP BY l_partkey)
         |SELECT CAST(count(*) AS BIGINT) AS n_li,
         |       ${sround(s"CAST(sum(cents) AS DOUBLE) / ${dlit(100.0)} / ${dlit(7.0)}", 6)} AS avg_yearly
         |FROM li JOIN t USING (l_partkey)
         |WHERE 5 * n * qh < sum_qh""".stripMargin,

    // the same three-branch disjunction serially
    "q242_q19_disjunctive_revenue" ->
      s"""WITH li AS (SELECT l_partkey,
         |    CAST(floor(l_quantity * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS qh,
         |    CAST(floor(l_extendedprice * (${dlit(1.0)} - l_discount) * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS cents
         |  FROM lineitem)
         |SELECT CAST(count(*) AS BIGINT) AS n_li,
         |       CAST(sum(cents) AS DOUBLE) / ${dlit(100.0)} AS revenue
         |FROM li JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND qh BETWEEN 100  AND 1100)
         |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 10 AND qh BETWEEN 1000 AND 2000)
         |   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 15 AND qh BETWEEN 2000 AND 3000)""".stripMargin,

    // the same latest-shipper blame (struct max) serially
    "q244_q21_waiting_supplier" ->
      s"""WITH li AS (SELECT l_orderkey, l_suppkey, epoch_us(l_shipdate) AS ship_us
         |            FROM lineitem),
         |per_o AS (SELECT l_orderkey,
         |            CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
         |            max({'ship_us': ship_us, 'l_suppkey': l_suppkey}) AS m
         |          FROM li JOIN orders ON l_orderkey = o_orderkey
         |          WHERE o_orderstatus = 'F'
         |          GROUP BY l_orderkey),
         |blamed AS (SELECT CAST((m).l_suppkey AS BIGINT) AS s_suppkey,
         |                  CAST(count(*) AS BIGINT) AS numwait
         |           FROM per_o WHERE n_supp >= 2
         |           GROUP BY (m).l_suppkey
         |           ORDER BY numwait DESC, s_suppkey LIMIT 10)
         |SELECT b.s_suppkey, s.s_name, b.numwait
         |FROM blamed b JOIN supplier s ON b.s_suppkey = s.s_suppkey""".stripMargin,

    // the same integer-exact above-average dormancy serially
    "q243_q22_dormant_customers" ->
      s"""WITH cust AS (SELECT c_custkey, c_nationkey,
         |    CAST(floor(c_acctbal * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS bal_cents
         |  FROM customer),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n_pos,
         |             CAST(sum(bal_cents) AS BIGINT) AS sum_pos
         |      FROM cust WHERE bal_cents > 0)
         |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
         |       CAST(sum(bal_cents) AS DOUBLE) / ${dlit(100.0)} AS totacctbal
         |FROM cust CROSS JOIN a
         |WHERE bal_cents * n_pos > sum_pos
         |  AND NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = c_custkey
         |                    AND epoch_us(o_orderdate) >= $Cut98Us)
         |GROUP BY c_nationkey""".stripMargin,

    // the same per-year national share serially
    "q245_q8_market_share" ->
      s"""WITH li AS (SELECT l_orderkey, l_partkey, l_suppkey,
         |    CAST(floor(l_extendedprice * (${dlit(1.0)} - l_discount) * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS cents
         |  FROM lineitem),
         |g AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |             CAST(sum(CASE WHEN s_nationkey = $ShareNationKey THEN cents ELSE 0 END) AS BIGINT) AS nation_cents,
         |             CAST(sum(cents) AS BIGINT) AS total_cents
         |      FROM li
         |      JOIN part ON l_partkey = p_partkey
         |      JOIN orders ON l_orderkey = o_orderkey
         |      JOIN customer ON o_custkey = c_custkey
         |      JOIN nation ON c_nationkey = n_nationkey
         |      JOIN region ON n_regionkey = r_regionkey
         |      JOIN supplier ON l_suppkey = s_suppkey
         |      WHERE p_type = 'PROMO' AND r_name = 'AMERICA'
         |      GROUP BY o_year)
         |SELECT o_year, nation_cents, total_cents,
         |       ${sround("CAST(nation_cents AS DOUBLE) / CAST(total_cents AS DOUBLE)", 6)} AS mkt_share
         |FROM g""".stripMargin,

    // the same late-shipment priority split serially
    "q256_q12_late_priority" ->
      s"""SELECT l_returnflag,
         |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE epoch_us(l_shipdate) >= $Jan97Us AND epoch_us(l_shipdate) < $Cut98Us
         |  AND epoch_us(l_shipdate) > epoch_us(o_orderdate) + $LateShipUs
         |GROUP BY l_returnflag""".stripMargin,

    // the same integer-exact 0.1%-of-total concentration serially
    "q257_q11_important_parts" ->
      s"""WITH byp AS (SELECT l_partkey,
         |    CAST(sum(CAST(floor(l_extendedprice * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT)) AS BIGINT) AS value_cents
         |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |  WHERE s_nationkey = $ShareNationKey
         |  GROUP BY l_partkey),
         |t AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents FROM byp)
         |SELECT l_partkey, value_cents,
         |       CAST(value_cents AS DOUBLE) / ${dlit(100.0)} AS value
         |FROM byp CROSS JOIN t
         |WHERE value_cents * 1000 > total_cents""".stripMargin,

    // the same excluded-supplier breadth count serially
    "q258_q16_supplier_counts" ->
      s"""WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
         |  WHERE l_suppkey NOT IN
         |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < ${dlit(0.0)}))
         |SELECT p_brand, p_type, p_size,
         |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         |FROM pairs JOIN part ON l_partkey = p_partkey
         |WHERE p_brand <> 'Brand#12' AND p_type <> 'MEDIUM'
         |  AND p_size IN (${Q16Sizes.mkString(", ")})
         |GROUP BY p_brand, p_type, p_size""".stripMargin,

    // the same one-pass half-of-lifetime promotion gate serially
    "q259_q20_part_promotion" ->
      s"""WITH q AS (SELECT l_suppkey, l_partkey,
         |    CAST(sum(CASE WHEN epoch_us(l_shipdate) >= $Jan97Us AND epoch_us(l_shipdate) < $Cut98Us
         |      THEN CAST(floor(l_quantity * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) ELSE 0 END) AS BIGINT) AS qty97,
         |    CAST(sum(CAST(floor(l_quantity * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT)) AS BIGINT) AS qtot
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE p_type = 'PROMO'
         |  GROUP BY l_suppkey, l_partkey)
         |SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS n_parts
         |FROM (SELECT l_suppkey FROM q WHERE qty97 * 2 > qtot) s
         |JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY s_suppkey, s_name""".stripMargin,

    // the same micro-quantized N·σ allocation serially (q219's moment
    // forms; DuckDB // floors == Spark div on these non-negative weights)
    "q262_neyman_allocation" -> {
      val muSql = sround(s"CAST(sv AS DOUBLE) / (CAST(n AS DOUBLE) * ${dlit(100.0)})", 9)
      s"""WITH e AS (SELECT event_type,
         |    CAST(floor(value * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS vq
         |  FROM events),
         |mom AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |               CAST(sum(vq) AS BIGINT) AS sv,
         |               CAST(sum(vq * vq) AS BIGINT) AS svv
         |        FROM e GROUP BY event_type),
         |ms AS (SELECT event_type, n,
         |         sqrt(greatest(${sround(s"CAST(svv AS DOUBLE) / (CAST(n AS DOUBLE) * ${dlit(10000.0)}) - ($muSql) * ($muSql)", 9)}, ${dlit(0.0)})) AS sigma
         |       FROM mom),
         |wf AS (SELECT event_type, n, sigma,
         |         CAST(n * CAST(floor(sigma * ${dlit(1000000.0)} + ${dlit(0.5)}) AS BIGINT) AS BIGINT) AS w
         |       FROM ms),
         |t AS (SELECT CAST(sum(w) AS BIGINT) AS wtot FROM wf)
         |SELECT event_type, n, ${sround("sigma", 6)} AS sigma, w,
         |       CASE WHEN wtot > 0
         |            THEN ${sround("CAST(w AS DOUBLE) / CAST(wtot AS DOUBLE)", 6)}
         |            ELSE ${dlit(0.0)} END AS share,
         |       CASE WHEN wtot > 0
         |            THEN CAST(($NeymanBudget * w) // wtot AS BIGINT)
         |            ELSE 0 END AS alloc_n
         |FROM wf CROSS JOIN t""".stripMargin
    },

    // the same gap-sessionize → day-clip → distinct-timestamp boundary
    // collapse → tie-proof running count serially
    "q264_peak_concurrency" ->
      s"""$SweepBoundarySql,
         |r AS (SELECT day, ns, ne,
         |             sum(ns - ne) OVER (PARTITION BY day ORDER BY t
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + ne AS conc
         |      FROM b)
         |SELECT CAST(day AS BIGINT) AS day,
         |       CAST(max(conc) AS BIGINT) AS peak_concurrent,
         |       CAST(sum(ns) AS BIGINT) AS n_spans,
         |       CAST(count(*) AS BIGINT) AS n_boundaries
         |FROM r GROUP BY day""".stripMargin,

    // the same boundary frame; covered = Σ inter-timestamp segments with
    // a positive net count after the left endpoint's boundaries
    "q265_interval_coverage" ->
      s"""$SweepBoundarySql,
         |r AS (SELECT day, t, ns, ne,
         |             sum(ns - ne) OVER (PARTITION BY day ORDER BY t
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS active_after,
         |             lead(t) OVER (PARTITION BY day ORDER BY t) - t AS seg
         |      FROM b),
         |g AS (SELECT day,
         |             CAST(coalesce(sum(CASE WHEN active_after > 0 THEN seg END), 0)
         |               AS BIGINT) AS covered_us
         |      FROM r GROUP BY day)
         |SELECT CAST(day AS BIGINT) AS day, covered_us,
         |       ${sround(s"CAST(covered_us AS DOUBLE) / ${dlit(86400000000.0)}", 6)} AS utilization
         |FROM g""".stripMargin,

    // open/close via DuckDB's ordered aggregates over the same unique
    // (ts_us, event_id) key Spark's struct min/max rides
    "q266_ohlc_bars" ->
      s"""WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
         |    CAST(floor(value * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS vq
         |  FROM events),
         |h AS (SELECT event_type, ts_us // $HourUs AS hour, ts_us, event_id, vq FROM e)
         |SELECT event_type, CAST(hour AS BIGINT) AS hour,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(first(vq ORDER BY ts_us, event_id) AS BIGINT) AS open_c,
         |       CAST(last(vq ORDER BY ts_us, event_id) AS BIGINT) AS close_c,
         |       CAST(max(vq) AS BIGINT) AS high_c,
         |       CAST(min(vq) AS BIGINT) AS low_c
         |FROM h GROUP BY event_type, hour""".stripMargin,

    // the same micro-quantized daily means and BIGINT-exact OLS moments
    "q267_daily_trend" ->
      s"""WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us,
         |    CAST(floor(value * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS vq
         |  FROM events),
         |d AS (SELECT event_type, ts_us // $DayUs AS day,
         |             CAST(sum(vq) AS BIGINT) AS sv,
         |             CAST(count(*) AS BIGINT) AS cnt
         |      FROM e GROUP BY event_type, ts_us // $DayUs),
         |m AS (SELECT event_type, day, sv, cnt,
         |             CAST(floor(CAST(sv AS DOUBLE) / CAST(cnt AS DOUBLE)
         |               * ${dlit(10000.0)} + ${dlit(0.5)}) AS BIGINT) AS mq
         |      FROM d),
         |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         |             CAST(sum(day) AS BIGINT) AS sx,
         |             CAST(sum(mq) AS BIGINT) AS sy,
         |             CAST(sum(day * mq) AS BIGINT) AS sxy,
         |             CAST(sum(day * day) AS BIGINT) AS sxx
         |      FROM m GROUP BY event_type),
         |f AS (SELECT event_type, n_days, sx, sy, sxy, sxx,
         |             n_days * sxx - sx * sx AS den,
         |             n_days * sxy - sx * sy AS num
         |      FROM g)
         |SELECT event_type, n_days,
         |       ${sround(s"CAST(sy AS DOUBLE) / (CAST(n_days AS DOUBLE) * ${dlit(1000000.0)})", 6)} AS mean_value,
         |       CASE WHEN den <> 0
         |            THEN ${sround(s"CAST(num AS DOUBLE) / (CAST(den AS DOUBLE) * ${dlit(1000000.0)})", 8)}
         |            ELSE ${dlit(0.0)} END AS slope_per_day
         |FROM f""".stripMargin,

    // the same daily-means CTE, the BIGINT-exact per-type pair self-join
    // for S, the tie-corrected 18·Var, and the continuity-corrected z —
    // single-day types (no i<j pairs) kept via the LEFT JOIN from the
    // tie frame, exactly as the Spark side does
    "q270_mann_kendall" ->
      s"""WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us,
         |    CAST(floor(value * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS vq
         |  FROM events),
         |d AS (SELECT event_type, ts_us // $DayUs AS day,
         |             CAST(sum(vq) AS BIGINT) AS sv,
         |             CAST(count(*) AS BIGINT) AS cnt
         |      FROM e GROUP BY event_type, ts_us // $DayUs),
         |m AS (SELECT event_type, day,
         |             CAST(floor(CAST(sv AS DOUBLE) / CAST(cnt AS DOUBLE)
         |               * ${dlit(10000.0)} + ${dlit(0.5)}) AS BIGINT) AS mq
         |      FROM d),
         |p AS (SELECT a.event_type,
         |             CAST(sum(CASE WHEN b.mq > a.mq THEN 1
         |                           WHEN b.mq < a.mq THEN -1 ELSE 0 END) AS BIGINT) AS s,
         |             CAST(count(*) AS BIGINT) AS n_pairs
         |      FROM m a JOIN m b ON a.event_type = b.event_type AND a.day < b.day
         |      GROUP BY a.event_type),
         |tt AS (SELECT event_type,
         |              CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
         |              CAST(sum(t) AS BIGINT) AS n_days
         |       FROM (SELECT event_type, mq, CAST(count(*) AS BIGINT) AS t
         |             FROM m GROUP BY event_type, mq) q
         |       GROUP BY event_type),
         |f AS (SELECT tt.event_type, tt.n_days,
         |             CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
         |             CAST(coalesce(p.s, 0) AS BIGINT) AS s,
         |             tt.n_days * (tt.n_days - 1) * (2 * tt.n_days + 5) - tt.tie_term AS var18
         |      FROM tt LEFT JOIN p USING (event_type))
         |SELECT event_type, n_days, n_pairs, s,
         |       CASE WHEN var18 > 0 AND s <> 0
         |            THEN ${sround(s"CAST(s - CASE WHEN s > 0 THEN 1 ELSE -1 END AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / ${dlit(18.0)})", 6)}
         |            ELSE ${dlit(0.0)} END AS z
         |FROM f""".stripMargin,

    // the same pair self-join on the daily-means aggregate; median slope
    // rank-selected under the identical (slope, di, dj) total order
    "q271_theil_sen" ->
      s"""$DailyMeansSql,
         |p AS (SELECT a.event_type, a.day AS di, b.day AS dj,
         |             CAST(b.mq - a.mq AS DOUBLE) /
         |               (CAST(b.day - a.day AS DOUBLE) * ${dlit(1000000.0)}) AS slope
         |      FROM m a JOIN m b ON a.event_type = b.event_type AND a.day < b.day),
         |r AS (SELECT event_type, slope,
         |             row_number() OVER (PARTITION BY event_type
         |               ORDER BY slope, di, dj) AS rn,
         |             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS np
         |      FROM p)
         |SELECT event_type, np AS n_pairs, ${sround("slope", 8)} AS slope_md
         |FROM r WHERE rn = (np + 1) // 2""".stripMargin,

    // the same rank-picked median, sign sequence, one lag() run count and
    // BIGINT-exact E/V algebra serially
    "q272_runs_test" ->
      s"""$DailyMeansSql,
         |md AS (SELECT event_type, mq,
         |              row_number() OVER (PARTITION BY event_type
         |                ORDER BY mq, day) AS rn,
         |              CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd
         |       FROM m),
         |mv AS (SELECT event_type, mq AS med FROM md WHERE rn = (nd + 1) // 2),
         |sg AS (SELECT m.event_type, m.day,
         |              CASE WHEN m.mq > med THEN 1 ELSE -1 END AS sgn,
         |              lag(CASE WHEN m.mq > med THEN 1 ELSE -1 END)
         |                OVER (PARTITION BY m.event_type ORDER BY m.day) AS prev
         |       FROM m JOIN mv ON m.event_type = mv.event_type
         |       WHERE m.mq <> med),
         |ag AS (SELECT event_type,
         |              CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |              CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |              CAST(sum(CASE WHEN prev IS NULL OR prev <> sgn THEN 1 ELSE 0 END) AS BIGINT) AS r
         |       FROM sg GROUP BY event_type),
         |f AS (SELECT event_type, n1, n2, r, n1 + n2 AS n, 2 * n1 * n2 AS two_p FROM ag)
         |SELECT event_type, n1, n2, r,
         |       CASE WHEN n1 > 0 AND n2 > 0 AND two_p > n
         |            THEN ${sround(s"(CAST(r AS DOUBLE) - (${dlit(1.0)} + CAST(two_p AS DOUBLE) / CAST(n AS DOUBLE))) / sqrt(CAST(two_p * (two_p - n) AS DOUBLE) / CAST(n * n * (n - 1) AS DOUBLE))", 6)}
         |            ELSE ${dlit(0.0)} END AS z
         |FROM f""".stripMargin,

    // the same bounded-domain doubled midranks; Σ R²/n folds in the same
    // sorted type order (DuckDB ordered aggregate = Spark's sorted fold)
    "q273_kruskal_wallis" ->
      s"""WITH e AS (SELECT event_type,
         |    CAST(floor(value * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS vq
         |  FROM events),
         |vc AS (SELECT vq, CAST(count(*) AS BIGINT) AS n_v FROM e GROUP BY vq),
         |rk AS (SELECT vq, n_v,
         |              2 * COALESCE(CAST(sum(n_v) OVER (ORDER BY vq
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
         |                + n_v + 1 AS r2
         |       FROM vc),
         |tv AS (SELECT event_type, vq, CAST(count(*) AS BIGINT) AS n_tv
         |       FROM e GROUP BY event_type, vq),
         |pt AS (SELECT event_type,
         |              CAST(sum(n_tv * r2) AS BIGINT) AS r2sum,
         |              CAST(sum(n_tv) AS BIGINT) AS n_t
         |       FROM tv JOIN rk USING (vq) GROUP BY event_type),
         |ptt AS (SELECT event_type, n_t, r2sum,
         |               CAST(r2sum AS DOUBLE) * CAST(r2sum AS DOUBLE) /
         |                 (${dlit(4.0)} * CAST(n_t AS DOUBLE)) AS term
         |        FROM pt),
         |fo AS (SELECT CAST(sum(n_t) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
         |              sum(term ORDER BY event_type) AS s
         |       FROM ptt),
         |ti AS (SELECT CAST(sum(n_v * (n_v - 1) * (n_v + 1)) AS BIGINT) AS tie_sum FROM rk),
         |g AS (SELECT n, k,
         |             ${dlit(12.0)} / CAST(n * (n + 1) AS DOUBLE) * s
         |               - ${dlit(3.0)} * CAST(n + 1 AS DOUBLE) AS h,
         |             ${dlit(1.0)} - CAST(tie_sum AS DOUBLE) /
         |               (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
         |                 - CAST(n AS DOUBLE)) AS c
         |      FROM fo CROSS JOIN ti)
         |SELECT n, k, ${sround("h", 6)} AS h,
         |       CASE WHEN c > ${dlit(0.0)} THEN ${sround("h / c", 6)}
         |            ELSE ${dlit(0.0)} END AS h_tie_corrected
         |FROM g""".stripMargin,

    // the same integer day ranks + doubled value midranks and the
    // all-BIGINT correlation moments serially
    "q274_spearman_trend" ->
      s"""$DailyMeansSql,
         |rk AS (SELECT event_type, day, mq,
         |              row_number() OVER (PARTITION BY event_type ORDER BY day) AS rx,
         |              rank() OVER (PARTITION BY event_type ORDER BY mq) AS rmin,
         |              CAST(count(*) OVER (PARTITION BY event_type, mq) AS BIGINT) AS t
         |       FROM m),
         |r2 AS (SELECT event_type, rx, 2 * rmin + t - 1 AS ry2 FROM rk),
         |ag AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         |              CAST(sum(rx) AS BIGINT) AS sx,
         |              CAST(sum(rx * rx) AS BIGINT) AS sxx,
         |              CAST(sum(ry2) AS BIGINT) AS sy2,
         |              CAST(sum(ry2 * ry2) AS BIGINT) AS syy4,
         |              CAST(sum(rx * ry2) AS BIGINT) AS sxy2
         |       FROM r2 GROUP BY event_type),
         |f AS (SELECT event_type, n_days,
         |             n_days * sxy2 - sx * sy2 AS num,
         |             n_days * sxx - sx * sx AS d1,
         |             n_days * syy4 - sy2 * sy2 AS d2
         |      FROM ag)
         |SELECT event_type, n_days,
         |       CASE WHEN d1 > 0 AND d2 > 0
         |            THEN ${sround("CAST(num AS DOUBLE) / sqrt(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE))", 6)}
         |            ELSE ${dlit(0.0)} END AS rho
         |FROM f""".stripMargin,

    // the same doubled combined midranks over the pair domain, integer
    // U algebra and tie-corrected continuity z serially
    "q275_mann_whitney" ->
      s"""$PairDomainSql,
         |ag AS (SELECT ta, tb,
         |              CAST(sum(na_v * r2) AS BIGINT) AS ra2,
         |              CAST(sum(na_v) AS BIGINT) AS n_a,
         |              CAST(sum(nb_v) AS BIGINT) AS n_b,
         |              CAST(sum(n_v * (n_v - 1) * (n_v + 1)) AS BIGINT) AS tie_sum
         |       FROM rk GROUP BY ta, tb),
         |g AS (SELECT ta, tb, n_a, n_b, tie_sum,
         |             ra2 - n_a * (n_a + 1) AS u2,
         |             n_a + n_b AS n
         |      FROM ag),
         |h AS (SELECT *,
         |             CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) *
         |               (CAST(n + 1 AS DOUBLE) - CAST(tie_sum AS DOUBLE) /
         |                 (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) /
         |               ${dlit(12.0)} AS sigma2,
         |             u2 - n_a * n_b AS num2
         |      FROM g)
         |SELECT ta, tb, n_a, n_b,
         |       CAST(u2 AS DOUBLE) / ${dlit(2.0)} AS u,
         |       ${sround(s"CAST(u2 AS DOUBLE) / (${dlit(2.0)} * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))", 6)} AS auc,
         |       CASE WHEN sigma2 > ${dlit(0.0)} AND num2 <> 0
         |            THEN ${sround(s"CAST(num2 - CASE WHEN num2 > 0 THEN 1 ELSE -1 END AS DOUBLE) / (${dlit(2.0)} * sqrt(sigma2))", 6)}
         |            ELSE ${dlit(0.0)} END AS z
         |FROM h""".stripMargin,

    // the same cross-multiplied integer ECDF gap and terminal divisions
    // serially
    "q276_ks_two_sample" ->
      s"""$PairDomainSql,
         |cm AS (SELECT ta, tb, vq, na_v, nb_v,
         |              CAST(sum(na_v) OVER (PARTITION BY ta, tb ORDER BY vq
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
         |              CAST(sum(nb_v) OVER (PARTITION BY ta, tb ORDER BY vq
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb,
         |              CAST(sum(na_v) OVER (PARTITION BY ta, tb) AS BIGINT) AS ta_n,
         |              CAST(sum(nb_v) OVER (PARTITION BY ta, tb) AS BIGINT) AS tb_n
         |       FROM rk),
         |mx AS (SELECT ta, tb,
         |              CAST(max(ta_n) AS BIGINT) AS n_a,
         |              CAST(max(tb_n) AS BIGINT) AS n_b,
         |              CAST(max(abs(ca * tb_n - cb * ta_n)) AS BIGINT) AS maxdiff
         |       FROM cm GROUP BY ta, tb),
         |dd AS (SELECT *, CAST(maxdiff AS DOUBLE) /
         |              (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS d
         |       FROM mx)
         |SELECT ta, tb, n_a, n_b, ${sround("d", 9)} AS d,
         |       ${sround("d * sqrt(CAST(n_a * n_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))", 6)} AS ks_stat
         |FROM dd""".stripMargin,

    // the same BIGINT moments and sorted-fold between-group sum serially
    "q277_anova_f" ->
      s"""WITH e AS (SELECT event_type,
         |    CAST(floor(value * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS vq
         |  FROM events),
         |pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t,
         |              CAST(sum(vq) AS BIGINT) AS s_t,
         |              CAST(sum(vq * vq) AS BIGINT) AS ss_t
         |       FROM e GROUP BY event_type),
         |${AnovaTailSql("pt")}""".stripMargin,

    // the same doubled-scale median deviations through the same ANOVA
    // tail serially
    "q278_brown_forsythe" ->
      s"""WITH e AS (SELECT event_type,
         |    CAST(floor(value * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS vq
         |  FROM events),
         |tv AS (SELECT event_type, vq, CAST(count(*) AS BIGINT) AS n_tv
         |       FROM e GROUP BY event_type, vq),
         |cu AS (SELECT event_type, vq, n_tv,
         |              CAST(sum(n_tv) OVER (PARTITION BY event_type ORDER BY vq
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |              CAST(sum(n_tv) OVER (PARTITION BY event_type) AS BIGINT) AS n_t
         |       FROM tv),
         |md AS (SELECT event_type,
         |              min(CASE WHEN cum >= (n_t + 1) // 2 THEN vq END) +
         |                min(CASE WHEN cum >= n_t // 2 + 1 THEN vq END) AS med2
         |       FROM cu GROUP BY event_type),
         |zz AS (SELECT tv.event_type, tv.n_tv,
         |              abs(2 * tv.vq - md.med2) AS z2
         |       FROM tv JOIN md ON tv.event_type = md.event_type),
         |pt AS (SELECT event_type, CAST(sum(n_tv) AS BIGINT) AS n_t,
         |              CAST(sum(n_tv * z2) AS BIGINT) AS s_t,
         |              CAST(sum(n_tv * z2 * z2) AS BIGINT) AS ss_t
         |       FROM zz GROUP BY event_type),
         |${AnovaTailSql("pt")}""".stripMargin,

    // the same doubled pairwise means and deterministic rank selection
    // serially
    "q279_hodges_lehmann" ->
      s"""$DailyMeansSql,
         |pa AS (SELECT a.event_type, a.day AS di, b.day AS dj,
         |              a.mq + b.mq AS w2
         |       FROM m a JOIN m b
         |         ON a.event_type = b.event_type AND a.day <= b.day),
         |rk AS (SELECT *,
         |              row_number() OVER (PARTITION BY event_type
         |                ORDER BY w2, di, dj) AS rn,
         |              CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS np
         |       FROM pa)
         |SELECT event_type, np AS n_pairs,
         |       ${sround(s"CAST(w2 AS DOUBLE) / ${dlit(20000.0)}", 6)} AS hl
         |FROM rk WHERE rn = (np + 1) // 2""".stripMargin,

    // the same quantize-at-birth deviations and exact integer prefix
    // sums/mins serially
    "q280_page_hinkley" ->
      s"""$DailyMeansSql,
         |st AS (SELECT event_type, day, mq,
         |              row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
         |              CAST(sum(mq) OVER (PARTITION BY event_type ORDER BY day
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs
         |       FROM m),
         |qd AS (SELECT *,
         |              CAST(floor(CAST(mq AS DOUBLE) - CAST(cs AS DOUBLE) /
         |                CAST(i AS DOUBLE) + ${dlit(0.5)}) AS BIGINT) - $PhDeltaQ AS qd
         |       FROM st),
         |ph AS (SELECT *, CAST(sum(qd) OVER (PARTITION BY event_type ORDER BY day
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS phs
         |       FROM qd),
         |p2 AS (SELECT *, CAST(min(phs) OVER (PARTITION BY event_type ORDER BY day
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rmn
         |       FROM ph),
         |dv AS (SELECT event_type, day, phs - rmn AS dev FROM p2)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         |       ${sround(s"CAST(max(dev) AS DOUBLE) / ${dlit(10000.0)}", 4)} AS max_dev,
         |       COALESCE(CAST(min(CASE WHEN dev > $PhLambdaQ THEN day END) AS BIGINT),
         |                CAST(-1 AS BIGINT)) AS alarm_day
         |FROM dv GROUP BY event_type""".stripMargin,

    // the same BIGINT cross-moments over common days serially
    "q285_cross_correlation" ->
      s"""$DailyMeansSql,
         |pa AS (SELECT a.event_type AS ta, b.event_type AS tb,
         |              CAST(count(*) AS BIGINT) AS n_days,
         |              CAST(sum(a.mq) AS BIGINT) AS sx,
         |              CAST(sum(b.mq) AS BIGINT) AS sy,
         |              CAST(sum(a.mq * a.mq) AS BIGINT) AS sxx,
         |              CAST(sum(b.mq * b.mq) AS BIGINT) AS syy,
         |              CAST(sum(a.mq * b.mq) AS BIGINT) AS sxy
         |       FROM m a JOIN m b
         |         ON a.day = b.day AND a.event_type < b.event_type
         |       GROUP BY a.event_type, b.event_type),
         |f AS (SELECT ta, tb, n_days,
         |             n_days * sxy - sx * sy AS num,
         |             n_days * sxx - sx * sx AS d1,
         |             n_days * syy - sy * sy AS d2
         |      FROM pa)
         |SELECT ta, tb, n_days,
         |       CASE WHEN d1 > 0 AND d2 > 0
         |            THEN ${sround("CAST(num AS DOUBLE) / sqrt(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE))", 6)}
         |            ELSE ${dlit(0.0)} END AS r
         |FROM f""".stripMargin,

    // the same lagged BIGINT cross-moments, lags from AcfLags (ONE place)
    "q289_acf" -> {
      val lagVals = AcfLags.map(l => s"($l)").mkString(", ")
      s"""$DailyMeansSql,
         |lg AS (SELECT CAST(l AS BIGINT) AS lag_d FROM (VALUES $lagVals) t(l)),
         |pa AS (SELECT a.event_type, l.lag_d,
         |              CAST(count(*) AS BIGINT) AS n_days,
         |              CAST(sum(a.mq) AS BIGINT) AS sx,
         |              CAST(sum(b.mq) AS BIGINT) AS sy,
         |              CAST(sum(a.mq * a.mq) AS BIGINT) AS sxx,
         |              CAST(sum(b.mq * b.mq) AS BIGINT) AS syy,
         |              CAST(sum(a.mq * b.mq) AS BIGINT) AS sxy
         |       FROM m a CROSS JOIN lg l
         |       JOIN m b ON b.event_type = a.event_type
         |              AND b.day = a.day + l.lag_d
         |       GROUP BY a.event_type, l.lag_d),
         |f AS (SELECT event_type, lag_d, n_days,
         |             n_days * sxy - sx * sy AS num,
         |             n_days * sxx - sx * sx AS d1,
         |             n_days * syy - sy * sy AS d2
         |      FROM pa)
         |SELECT event_type, lag_d, n_days,
         |       CASE WHEN d1 > 0 AND d2 > 0
         |            THEN ${sround("CAST(num AS DOUBLE) / sqrt(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE))", 6)}
         |            ELSE ${dlit(0.0)} END AS r
         |FROM f""".stripMargin
    },

    // the same micro-quantized log-survival prefix sum over the
    // bounded distinct-gap-value domain
    "q290_kaplan_meier" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
         |nx AS (SELECT user_id, ts_us,
         |              lead(ts_us, 1) OVER
         |                (PARTITION BY user_id ORDER BY ts_us, event_id) AS nts
         |       FROM e),
         |obs AS (SELECT (nts - ts_us) // 1000000 AS v,
         |               CAST(count(*) AS BIGINT) AS d
         |        FROM nx WHERE nts IS NOT NULL GROUP BY 1),
         |gm AS (SELECT max(ts_us) AS gmax FROM e),
         |um AS (SELECT user_id, max(ts_us) AS umax FROM e GROUP BY user_id),
         |cen AS (SELECT (gmax - umax) // 1000000 AS v,
         |               CAST(count(*) AS BIGINT) AS c
         |        FROM um CROSS JOIN gm GROUP BY 1),
         |lv AS (SELECT COALESCE(obs.v, cen.v) AS v,
         |              CAST(COALESCE(obs.d, 0) AS BIGINT) AS d,
         |              CAST(COALESCE(cen.c, 0) AS BIGINT) AS c
         |       FROM obs FULL JOIN cen ON obs.v = cen.v),
         |tt AS (SELECT CAST(sum(d + c) AS BIGINT) AS tot FROM lv),
         |nr AS (SELECT lv.*,
         |              tot - COALESCE(CAST(sum(d + c) OVER (ORDER BY v
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
         |                0) AS n
         |       FROM lv CROSS JOIN tt),
         |lf AS (SELECT *,
         |              CASE WHEN d = n THEN NULL
         |                   WHEN d > 0 THEN CAST(floor(ln(CAST(n - d AS DOUBLE) /
         |                     CAST(n AS DOUBLE)) * ${dlit(1.0e6)} + ${dlit(0.5)}) AS BIGINT)
         |                   ELSE CAST(0 AS BIGINT) END AS lq
         |       FROM nr),
         |ab AS (SELECT min(CASE WHEN d = n THEN v END) AS vabs FROM lf),
         |cs AS (SELECT *, CAST(sum(lq) OVER (ORDER BY v
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cls
         |       FROM lf)
         |SELECT v, d, c, n,
         |       CASE WHEN vabs IS NOT NULL AND v >= vabs THEN ${dlit(0.0)}
         |            ELSE ${sround(s"exp(CAST(cls AS DOUBLE) / ${dlit(1.0e6)})", 6)} END AS s
         |FROM cs CROSS JOIN ab""".stripMargin,

    // the same BIGINT rank-weighted closed form on the (x, user_id)
    // total order
    "q291_gini" ->
      s"""WITH xs AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS x
         |  FROM events GROUP BY event_type, user_id),
         |r AS (SELECT event_type, x,
         |             CAST(row_number() OVER (PARTITION BY event_type
         |               ORDER BY x, user_id) AS BIGINT) AS i
         |      FROM xs),
         |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
         |             CAST(sum(x) AS BIGINT) AS sx,
         |             CAST(sum(i * x) AS BIGINT) AS six
         |      FROM r GROUP BY event_type)
         |SELECT event_type, n_users,
         |       CASE WHEN n_users > 0 AND sx > 0
         |            THEN ${sround("CAST(2 * six - (n_users + 1) * sx AS DOUBLE) / CAST(n_users * sx AS DOUBLE)", 6)}
         |            ELSE ${dlit(0.0)} END AS gini
         |FROM a""".stripMargin,

    // the same dense type×digit lattice with BenfordP embedded from the
    // ONE Scala definition, χ² terms micro-quantized at birth
    "q292_benford" -> {
      val bpVals = BenfordP.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, ${dlit(p)})" }.mkString(", ")
      s"""WITH f AS (SELECT event_type,
         |    abs(CAST(floor(value * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT)) AS avq
         |  FROM events),
         |g AS (SELECT event_type,
         |             CAST(substr(CAST(avq AS VARCHAR), 1, 1) AS INTEGER) AS dg
         |      FROM f WHERE avq > 0),
         |cn AS (SELECT event_type, dg, CAST(count(*) AS BIGINT) AS nd
         |       FROM g GROUP BY event_type, dg),
         |tt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
         |       FROM g GROUP BY event_type),
         |bp AS (SELECT CAST(d AS INTEGER) AS dg, p FROM (VALUES $bpVals) t(d, p)),
         |fu AS (SELECT tt.event_type, tt.n, bp.dg, bp.p,
         |              CAST(COALESCE(cn.nd, 0) AS BIGINT) AS nd
         |       FROM tt CROSS JOIN bp
         |       LEFT JOIN cn ON cn.event_type = tt.event_type AND cn.dg = bp.dg),
         |tq AS (SELECT event_type, n,
         |              CAST(floor((CAST(nd AS DOUBLE) - CAST(n AS DOUBLE) * p) *
         |                (CAST(nd AS DOUBLE) - CAST(n AS DOUBLE) * p) /
         |                (CAST(n AS DOUBLE) * p) * ${dlit(1.0e6)} + ${dlit(0.5)}) AS BIGINT) AS tq
         |       FROM fu)
         |SELECT event_type, n, ${sround(s"CAST(sum(tq) AS DOUBLE) / ${dlit(1.0e6)}", 6)} AS chi2
         |FROM tq GROUP BY event_type, n""".stripMargin
    },

    // the same scaled-integer power iteration, CTE-unrolled per
    // MarkovIters (ONE place)
    "q293_markov_stationary" -> {
      val steps = (1 to MarkovIters).map { i =>
        val prev = s"p${i - 1}"
        s"""p$i AS (SELECT pm.nt AS s,
           |            (CAST(sum($prev.v * pm.p_q) AS BIGINT) + 500000) // 1000000 AS v
           |       FROM pm JOIN $prev ON pm.pt = $prev.s GROUP BY pm.nt)""".stripMargin
      }.mkString(",\n")
      val last = s"p$MarkovIters"
      s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
         |  FROM events),
         |b AS (SELECT event_type AS nt,
         |             lag(event_type, 1) OVER
         |               (PARTITION BY user_id ORDER BY ts_us, event_id) AS pt
         |      FROM e),
         |c AS (SELECT pt, nt, CAST(count(*) AS BIGINT) AS n
         |      FROM b WHERE pt IS NOT NULL GROUP BY pt, nt),
         |st AS (SELECT DISTINCT s FROM
         |         (SELECT pt AS s FROM c UNION ALL SELECT nt AS s FROM c)),
         |rs AS (SELECT pt, CAST(sum(n) AS BIGINT) AS rsum FROM c GROUP BY pt),
         |pm AS (SELECT c.pt, c.nt,
         |              (2 * c.n * 1000000 + rs.rsum) // (2 * rs.rsum) AS p_q
         |       FROM c JOIN rs ON rs.pt = c.pt
         |       UNION ALL
         |       SELECT s AS pt, s AS nt, CAST(1000000 AS BIGINT) AS p_q
         |       FROM st WHERE s NOT IN (SELECT pt FROM c)),
         |k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM st),
         |p0 AS (SELECT s, 1000000 // k.k AS v FROM st CROSS JOIN k),
         |$steps,
         |tv AS (SELECT CAST(sum(v) AS BIGINT) AS tv FROM $last)
         |SELECT st.s AS event_type,
         |       CAST(COALESCE($last.v, 0) AS BIGINT) AS pi_q,
         |       ${sround(s"CAST(COALESCE($last.v, 0) AS DOUBLE) / CAST(tv AS DOUBLE)", 6)} AS pi
         |FROM st LEFT JOIN $last ON $last.s = st.s CROSS JOIN tv""".stripMargin
    },

    // the full recompute over RETAINED raw events (same WHERE as the
    // Spark-side decrement, inverted) — equality proves the decremented
    // MV equals a rebuild that never saw the erased users
    "q306_erasure_mv_decrement" ->
      s"""WITH base AS (
         |  SELECT epoch_us(ts) // $DayUs AS day, event_type, value FROM events
         |  WHERE event_id % 10 <> 0
         |    AND NOT (user_id % $PurgeUserMod = $PurgeUserRes))
         |SELECT CAST(day AS BIGINT) AS day, event_type,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       ${xsumSql("value", 6)} AS sum_value
         |FROM base GROUP BY day, event_type""".stripMargin,

    // the expected remediated user estate from raw: zero flagged rows and
    // the exact retained counts in every rewritten layout, the retained
    // register count for the rebuilt HLL MV, zeros for the expired
    // snapshot and the retired deletion vector, and the HORIZON-BOUNDED
    // (unchanged) contamination of the live snapshot
    "q315_user_estate_remediation" ->
      s"""WITH rt AS (SELECT CAST(count(*) AS BIGINT) AS c FROM events
         |            WHERE NOT user_id % $PurgeUserMod = $PurgeUserRes),
         |${DedupQueries.hllRetainedCountSql},
         |ue AS (SELECT user_id, event_type,
         |              epoch_us(ts) // $DayUs AS day FROM events),
         |fg AS (SELECT CAST(count(*) AS BIGINT) AS c FROM (
         |  SELECT DISTINCT day, event_type FROM ue
         |  WHERE user_id % $PurgeUserMod = $PurgeUserRes)),
         |tg AS (SELECT CAST(count(*) AS BIGINT) AS c FROM (
         |  SELECT DISTINCT day, event_type FROM ue)),
         |rg AS (SELECT CAST(count(*) AS BIGINT) AS c FROM (
         |  SELECT DISTINCT day, event_type FROM ue
         |  WHERE NOT user_id % $PurgeUserMod = $PurgeUserRes))
         |SELECT 'events_zorder' AS artifact,
         |       CAST(0 AS BIGINT) AS erased_rows, c AS retained_rows FROM rt
         |UNION ALL SELECT 'events_ranged', CAST(0 AS BIGINT), c FROM rt
         |UNION ALL SELECT 'events_schema_gens', CAST(0 AS BIGINT), c FROM rt
         |UNION ALL SELECT 'hll_mv_registers', CAST(0 AS BIGINT), c FROM hrc
         |UNION ALL SELECT 'snapshot_v1_groups', CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM rt
         |UNION ALL SELECT 'snapshot_v2_groups', fg.c, tg.c - fg.c FROM fg, tg
         |UNION ALL SELECT 'snapshot_v3_groups', CAST(0 AS BIGINT), c FROM rg
         |UNION ALL SELECT 'purge_deletion_vector', CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM rt""".stripMargin,

    // the expected horizon-travel frame from raw: the within-horizon
    // snapshot read carries the FULL corpus aggregate (cohort included —
    // the contract), the post-horizon read the retained one, the expired
    // read nothing
    "q316_snapshot_horizon_travel" ->
      s"""WITH ue AS (SELECT user_id, event_type, value,
         |                   epoch_us(ts) // $DayUs AS day FROM events),
         |a AS (SELECT CAST(count(DISTINCT (day, event_type)) AS BIGINT) AS g,
         |             CAST(count(*) AS BIGINT) AS n,
         |             ${xsumSql("value", 6)} AS s FROM ue),
         |b AS (SELECT CAST(count(DISTINCT (day, event_type)) AS BIGINT) AS g,
         |             CAST(count(*) AS BIGINT) AS n,
         |             ${xsumSql("value", 6)} AS s FROM ue
         |      WHERE NOT user_id % $PurgeUserMod = $PurgeUserRes)
         |SELECT 'a_within_horizon_v2' AS stage, g AS n_groups,
         |       n AS n_events, s AS sum_value FROM a
         |UNION ALL SELECT 'b_post_horizon_v3', g, n, s FROM b
         |UNION ALL SELECT 'c_expired_v1', CAST(0 AS BIGINT),
         |       CAST(0 AS BIGINT), CAST(0 AS DOUBLE) FROM a""".stripMargin
  )

  /** q275/q276's shared oracle prefix — the SQL twin of [[pairDomain]]:
    * per-pair bounded value domain with per-side counts, exclusive
    * combined count-below and the doubled combined midrank. Final CTE is
    * `rk`. A def for the same initialization-order reason as
    * [[DailyMeansSql]]. */
  private def PairDomainSql: String =
    s"""WITH e AS (SELECT event_type,
       |    CAST(floor(value * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS vq
       |  FROM events),
       |tv AS (SELECT event_type, vq, CAST(count(*) AS BIGINT) AS n_tv
       |       FROM e GROUP BY event_type, vq),
       |ty AS (SELECT DISTINCT event_type FROM e),
       |pr AS (SELECT a.event_type AS ta, b.event_type AS tb
       |       FROM ty a CROSS JOIN ty b WHERE a.event_type < b.event_type),
       |un AS (SELECT pr.ta, pr.tb, tv.vq,
       |              tv.n_tv AS na_v, CAST(0 AS BIGINT) AS nb_v
       |       FROM pr JOIN tv ON tv.event_type = pr.ta
       |       UNION ALL
       |       SELECT pr.ta, pr.tb, tv.vq,
       |              CAST(0 AS BIGINT) AS na_v, tv.n_tv AS nb_v
       |       FROM pr JOIN tv ON tv.event_type = pr.tb),
       |dom AS (SELECT ta, tb, vq,
       |               CAST(sum(na_v) AS BIGINT) AS na_v,
       |               CAST(sum(nb_v) AS BIGINT) AS nb_v
       |        FROM un GROUP BY ta, tb, vq),
       |pd AS (SELECT *, na_v + nb_v AS n_v,
       |              COALESCE(CAST(sum(na_v + nb_v) OVER (PARTITION BY ta, tb
       |                ORDER BY vq
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
       |                0) AS c_below
       |       FROM dom),
       |rk AS (SELECT *, 2 * c_below + n_v + 1 AS r2 FROM pd)""".stripMargin

  /** The shared q277/q278 oracle ANOVA tail — the SQL twin of [[anovaF]]
    * from a `ptCte` CTE holding (event_type, n_t, s_t, ss_t): the sorted
    * between-group fold (`sum(term ORDER BY event_type)`, matching the
    * Spark sort_array fold), SSB/SSW and the guarded F. */
  private def AnovaTailSql(ptCte: String): String =
    s"""tm AS (SELECT event_type, n_t, s_t, ss_t,
       |              CAST(s_t AS DOUBLE) * CAST(s_t AS DOUBLE) /
       |                CAST(n_t AS DOUBLE) AS term
       |       FROM $ptCte),
       |fo AS (SELECT CAST(sum(n_t) AS BIGINT) AS n,
       |              CAST(count(*) AS BIGINT) AS k,
       |              CAST(sum(s_t) AS BIGINT) AS s,
       |              CAST(sum(ss_t) AS BIGINT) AS ss,
       |              sum(term ORDER BY event_type) AS sb
       |       FROM tm),
       |g AS (SELECT k, n,
       |             sb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
       |               CAST(n AS DOUBLE) AS ssb,
       |             CAST(ss AS DOUBLE) - sb AS ssw
       |      FROM fo)
       |SELECT k, n, ${sround("ssb", 6)} AS ssb, ${sround("ssw", 6)} AS ssw,
       |       CASE WHEN k > 1 AND n > k AND ssw > ${dlit(0.0)}
       |            THEN ${sround("(ssb / CAST(k - 1 AS DOUBLE)) / (ssw / CAST(n - k AS DOUBLE))", 6)}
       |            ELSE ${dlit(0.0)} END AS f
       |FROM g""".stripMargin

  /** The q267/q270-family shared oracle prefix — the SQL twin of
    * [[dailyMeans]]: cents-quantized per-(type, day) sums/counts and the
    * micro-quantized BIGINT mean. A def for the same initialization-order
    * reason as [[SweepBoundarySql]]. */
  private def DailyMeansSql: String =
    s"""WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us,
       |    CAST(floor(value * ${dlit(100.0)} + ${dlit(0.5)}) AS BIGINT) AS vq
       |  FROM events),
       |d AS (SELECT event_type, ts_us // $DayUs AS day,
       |             CAST(sum(vq) AS BIGINT) AS sv,
       |             CAST(count(*) AS BIGINT) AS cnt
       |      FROM e GROUP BY event_type, ts_us // $DayUs),
       |m AS (SELECT event_type, day,
       |             CAST(floor(CAST(sv AS DOUBLE) / CAST(cnt AS DOUBLE)
       |               * ${dlit(10000.0)} + ${dlit(0.5)}) AS BIGINT) AS mq
       |      FROM d)""".stripMargin

  /** The q264/q265 shared oracle prefix — the SQL twin of
    * [[sweepBoundariesOf]]: gap-sessionize with [[SweepGapUs]], explode
    * session spans across their UTC days via generate_series, clip, and
    * collapse to distinct (day, t) boundary rows. */
  // a def, not a val: `oracles` above is a val and initializes first —
  // a val here would still be null while that map's strings interpolate
  private def SweepBoundarySql: String =
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
       |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS prev_us
       |  FROM events),
       |mk AS (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > $SweepGapUs
       |                      THEN 1 ELSE 0 END AS is_new FROM ev),
       |sess AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
       |           ORDER BY ts_us, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |         FROM mk),
       |sp AS (SELECT user_id, sid,
       |              CAST(min(ts_us) AS BIGINT) AS s_us,
       |              CAST(max(ts_us) AS BIGINT) AS e_us
       |       FROM sess GROUP BY user_id, sid),
       |dd AS (SELECT unnest(generate_series(s_us // $DayUs, e_us // $DayUs)) AS day,
       |              s_us, e_us
       |       FROM sp),
       |c AS (SELECT day, greatest(s_us, day * $DayUs) AS cs,
       |             least(e_us, (day + 1) * $DayUs - 1) AS ce
       |      FROM dd),
       |b AS (SELECT day, t, CAST(sum(s) AS BIGINT) AS ns,
       |             CAST(sum(e) AS BIGINT) AS ne
       |      FROM (SELECT day, cs AS t, 1 AS s, 0 AS e FROM c
       |            UNION ALL SELECT day, ce AS t, 0 AS s, 1 AS e FROM c) u
       |      GROUP BY day, t)""".stripMargin
}
