package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001: sliding-window SAX encode of
    * the events stream + numerosity reduction (the reference's core
    * operator pipeline). Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    SaxQueries.defs("q03_sax_numerosity")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2, plus the
    * relational checklist and the training-data-pipeline operators. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    SaxQueries.defs ++ RelQueries.defs ++ DedupQueries.defs ++
      TextQueries.defs ++ VectorQueries.defs ++ MultimodalQueries.defs

  /** The registry names a comma-separated query list selects, sorted. Each
    * entry is a full name or its `qNN` prefix (`q05` for `q05_sax_topk`).
    * An entry that names no query throws, so a misspelled filter fails
    * instead of selecting nothing, and so does a list with no entry. No
    * filter selects every query. */
  def select(filter: Option[String]): Seq[String] = {
    val all = queries.keys.toSeq.sorted
    filter.fold(all) { f =>
      val picked = f.split(",").map(_.trim).filter(_.nonEmpty).toSeq.flatMap { q =>
        val hit = all.filter(k => k == q || k.startsWith(q + "_"))
        require(hit.nonEmpty, s"no query named $q")
        hit
      }
      require(picked.nonEmpty, s"the query list '$f' names no query")
      picked.distinct.sorted
    }
  }

  /** Session pragmas prefixed to every oracle statement. The gate's DuckDB
    * runs with default config (80%-RAM buffer pool, one worker thread per
    * core); this container caps thread creation, and overrunning the cap
    * surfaces as spurious small-allocation OOMs mid-run. DuckDB's Python
    * `execute()` runs multi-statement strings and returns the last result,
    * and `SET` persists on the connection, so prefixing each query keeps
    * the whole gate inside the sandbox limits regardless of whether it
    * reuses one connection or opens one per query. */
  private val OraclePragmas = "SET threads TO 2; SET memory_limit='8GB'; "

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    (SaxQueries.oracles ++ RelQueries.oracles ++ DedupQueries.oracles ++
      TextQueries.oracles ++ VectorQueries.oracles ++ MultimodalQueries.oracles)
      .map { case (name, sql) => name -> (OraclePragmas + sql) }
}
