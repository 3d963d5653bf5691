package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared session config + table loading for the graft engine. */
object SparkUtil {

  /** Configs every graft session needs. Applied by Verify/Bench/tests.
    *
    *  - `nanosAsLong`: the testdata `events.ts` column is parquet
    *    TIMESTAMP(NANOS), which Spark 4 otherwise refuses to read.
    *  - AQE on: runtime coalescing + skew-join handling is part of the
    *    100TB design (skewed series keys get split automatically).
    *  - `fs.file.impl` = [[graft.spark.LocalFileSystem]]: without Hadoop's
    *    native library, `RawLocalFileSystem.setPermission` (called from
    *    `LocalFSFileOutputStream.<init>` on every non-append create) forks
    *    a `chmod` for each file and again for its `.crc`. The replacement
    *    sets permissions through NIO and still writes and verifies the
    *    `.crc` sidecars. Hadoop caches one FileSystem per scheme per JVM,
    *    so this holds only because `configure` runs before any `file:`
    *    FileSystem is created.
    *  - `checkpointFileManagerClass` = the FileSystem-based manager: the
    *    default FileContext manager reaches `file:` through Hadoop's
    *    `LocalFs`, which hard-wires the stock raw FS (so `fs.file.impl`
    *    cannot reach it), and its `AbstractFileSystem.rename` forks
    *    `readlink` four times (`getFileLinkStatus` → `FileUtil.readLink`,
    *    twice each for the file and its `.crc`). JFR `jdk.ProcessStart`
    *    stacks put these two sites at ~40 forks per micro-batch. The
    *    FileSystem manager writes a temp file and commits it with
    *    `rename(2)`, atomic on local disk and on HDFS (not on object
    *    stores, which need their own manager). The offset/commit log
    *    layout is unchanged, `.crc` files are kept, and Spark's state-store
    *    checksum files (`ChecksumCheckpointFileManager`) stay on.
    */
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // bucket-subset co-location: a join on (k, extra) over two tables
      // bucketed on k must read the buckets co-located instead of
      // re-shuffling both sides on the full key pair (the q311
      // co-bucketed postings audit rides this; pre-3.3 Spark behavior)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.hadoop.fs.file.impl", classOf[graft.spark.LocalFileSystem].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")

  /** Read one of the testdata tables from `dir`. Column pruning and filter
    * pushdown reach the parquet scan because this stays a plain relation.
    *
    * The RESOLVED relation is memoized per (session, path): r19 rule
    * profiling measured `ResolveDataSource` (directory listing + parquet
    * footer schema read) at ~80 ms per `spark.read.parquet` call — paid
    * by every query on every bench pass, ~60% of the per-query driver
    * floor. Only METADATA is memoized — every execution still scans the
    * parquet bytes; Bench's per-pass clearCache() discipline is untouched.
    * The same DataFrame instance serving several relations in one query is
    * ordinary Spark usage (DeduplicateRelations re-aliases self-joins).
    *
    * Only IMMUTABLE directories may be read through here: the memoized
    * relation keeps the file listing and schema of its first read, so a
    * directory rewritten mid-session would be served stale (read a
    * mutable store with `spark.read.parquet` directly). The
    * [[graft.queries.SessionMemo]] bounds the memo at 256 entries (FIFO)
    * and drops a context's entries when it ends. */
  private[graft] val tableMemo = new graft.queries.SessionMemo[DataFrame](256)

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    tableMemo.getOrBuild(spark, path)(spark.read.parquet(path))
  }
}
