package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter for a fast local
    // loop on one new query (the driver's 2-arg invocation is unchanged;
    // oracle_sql.json is filtered too so tools/compare.py follows along).
    // Entries are full names or qNN prefixes; an unknown one throws here,
    // before any output: an empty dump would compare as a clean pass.
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f))
    }
    val keep = SparkEntry.select(only).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkUtil.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // every thrown query is RECORDED, not just logged: r10's ts-type break
    // produced a 102-row correctness artifact with zero err entries because
    // a missing parquet dir read as "absent", not "red". _failures.json is
    // written unconditionally (empty {} on a clean run) so a consumer can
    // distinguish "nothing failed" from "the loud path never ran".
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = (Option(e.getMessage).getOrElse("") match {
          case "" => e.getClass.getName
          case m  => s"${e.getClass.getSimpleName}: $m"
        }).take(800)
      }
      // Queries may cache intermediates (q75's edge relation, q52's prefix
      // index); evict between queries so one query's pins don't squeeze the
      // next 70 — mirrors Bench.scala's per-query clearCache. Deliberately
      // NOT invalidating the q75/q83 component memo here (only Bench does):
      // Verify is a correctness dump, so q75 and q83 sharing one label
      // propagation is the production shape and halves the gate's runtime;
      // Bench isolates it because it measures each query standalone.
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val fjson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), fjson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.keys.mkString(", "))
    spark.stop()
  }
}
