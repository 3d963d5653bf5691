package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Incremental upkeep of the per-file min/max MANIFEST that q141's
  * zone-map probes consult ([[graft.queries.RelQueries]]
  * q141_minmax_file_skip) — the maintenance half of the data-skipping
  * lifecycle, the way Iceberg/Delta keep stats current as ingestion
  * appends files: each update LISTS the layout (filesystem metadata,
  * no data read), diffs against the manifest's known file set, and
  * scans ONLY the new files for their (min, max, count) rows. Work is
  * O(new files' bytes) + O(total file COUNT) driver-side listing —
  * history is never rescanned, which is what keeps stats maintenance
  * viable on a layout that grows by thousands of files a day at 100 TB.
  * ManifestMaintenanceSpec proves the incrementally-maintained manifest
  * row-identical to a from-scratch rebuild, and that an update after k
  * appended files scans exactly k files.
  *
  * Deliberately NOT on [[GenerationalStore]] (the r17 verdict's #5 asked
  * each bespoke compaction to migrate or say why): this store is keyed
  * by LAYOUT FILE, not by micro-batch id — idempotence comes from the
  * listing-vs-manifest set diff (an update that finds nothing fresh
  * appends nothing), so there is no batch-id space for a generation to
  * cover, and growth is bounded by the layout's file count rather than
  * by stream length: the manifest gains at most one append per file
  * ever, not one directory per micro-batch forever. The unbounded-growth
  * hazard the generational protocol exists to cap cannot arise here. */
object ManifestMaintenance {

  /** input_file_name() yields `file:///…` URIs while filesystem listings
    * yield bare paths — normalize both to the bare path so set-diffs and
    * joins agree. */
  private def bare(p: String): String =
    p.replaceFirst("^file:(//)?", "")

  /** List the layout's parquet data files (bare paths, sorted for
    * determinism). Flat layouts only — the q141 ranged layout keeps all
    * files in one directory. */
  private def listDataFiles(layoutPath: String): Seq[String] = {
    val d = new java.io.File(layoutPath)
    Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted
  }

  /** Bring `manifestPath` up to date with `layoutPath`: append one
    * (file, min_key, max_key, n_rows) row per data file not yet present.
    * Returns the number of NEW files scanned (0 = manifest was current).
    * The known-file set is a driver-side collect bounded by the file
    * count — the same deliberate bound as the q141 probe's file-list
    * collect (manifests are file-granular by construction). */
  def update(spark: SparkSession, layoutPath: String, manifestPath: String,
             key: String = "user_id"): Int = {
    val listed = listDataFiles(layoutPath)
    // a manifest is "present" only when it holds COMMITTED part files: a
    // first-ever update killed mid-append leaves the directory existing
    // with nothing but `_temporary` trash, and reading that as a manifest
    // throws (no schema to infer) — the crash would wedge every later
    // update. Uncommitted trash is invisible to the commit protocol, so
    // treating such a directory as absent is exactly the recovery the
    // protocol intends (AtRestFaultSpec pins it).
    val manifestExists = listDataFiles(manifestPath).nonEmpty
    val known: Set[String] =
      if (!manifestExists) Set.empty
      else spark.read.parquet(manifestPath)
        .select("file").collect().map(r => bare(r.getString(0))).toSet
    val fresh = listed.filterNot(known)
    if (fresh.nonEmpty)
      fileStats(spark, fresh, key).write.mode("append").parquet(manifestPath)
    fresh.size
  }

  /** From-scratch rebuild over every file — the spec's ground truth and
    * the recovery path for a lost manifest. Same row shape as
    * [[update]]. */
  def rebuild(spark: SparkSession, layoutPath: String,
              key: String = "user_id"): org.apache.spark.sql.DataFrame =
    fileStats(spark, listDataFiles(layoutPath), key)

  /** One (file, min_key, max_key, n_rows) row per data file: the manifest's
    * row shape, for both [[update]] and [[rebuild]]. */
  private def fileStats(spark: SparkSession, files: Seq[String],
                        key: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(files: _*)
      .select(input_file_name().as("raw_file"), col(key))
      .groupBy("raw_file")
      .agg(min(key).as(s"min_$key"), max(key).as(s"max_$key"),
        count(lit(1)).as("n_rows"))
      .select(regexp_replace(col("raw_file"), "^file:(//)?", "").as("file"),
        col(s"min_$key"), col(s"max_$key"), col("n_rows"))
}
