package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural guard for the CLAUDE.md invariant "every new query needs
  * BOTH a defs entry and an oracles entry": the r11 gate shipped
  * q270_mann_kendall with a defs entry only, and tools/compare.py iterates
  * oracle_sql.json keys, so the omission silently bypassed the 264-green
  * gate (CORRECTNESS_r11 `err: no_oracle`). This spec reddens `sbt test`
  * instead. Needs no SparkSession — both maps are pure values.
  *
  * A genuinely non-SQL-expressible query may be exempted by adding its
  * name to [[OracleParitySpec.OracleExempt]] WITH a comment saying why;
  * the exempt set must never contain a name that actually has an oracle
  * (that would mask a later regression), which the third assert pins.
  */
class OracleParitySpec extends AnyFunSuite {
  import OracleParitySpec.OracleExempt

  test("every defs entry has an oracles entry (minus declared exemptions)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val missing = q -- o -- OracleExempt
    assert(missing.isEmpty,
      s"queries with no oracle and no declared exemption: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("every oracles entry has a defs entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty,
      s"oracles with no query: ${orphans.toSeq.sorted.mkString(", ")}")
  }

  test("exemptions are real (no exempt name actually has an oracle or is unknown)") {
    val stale = OracleExempt.filter(n =>
      SparkEntry.oracleSql.contains(n) || !SparkEntry.queries.contains(n))
    assert(stale.isEmpty, s"stale exemptions: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("no oracle SQL carries a broken-interpolation 'null' or is blank") {
    // a Scala `val` initialization-order bug interpolates the literal
    // string "null" into the SQL (the SweepBoundarySql trap) — DuckDB's
    // keyword is upper-cased everywhere in generated oracles, so a
    // lower-case standalone `null` token can only be that bug
    val nullTok = "(?<![A-Za-z_])null(?![A-Za-z_])".r
    val bad = SparkEntry.oracleSql.collect {
      case (n, sql) if sql.trim.isEmpty || nullTok.findFirstIn(sql).isDefined => n
    }
    assert(bad.isEmpty, s"suspect oracle SQL: ${bad.toSeq.sorted.mkString(", ")}")
  }

  test("select resolves qNN prefixes and full names to registry names") {
    assert(SparkEntry.select(Some("q05")) == Seq("q05_sax_topk"))
    assert(SparkEntry.select(Some("q142_aqe_skew_join, q05")) ==
      Seq("q05_sax_topk", "q142_aqe_skew_join"))
  }

  test("select throws on an unknown entry and names it") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("q05,q142_aqe_skw_join")))
    assert(e.getMessage.contains("q142_aqe_skw_join"))
    intercept[IllegalArgumentException](SparkEntry.select(Some(" , ")))
  }

  test("select with no filter returns every registry key") {
    assert(SparkEntry.select(None) == SparkEntry.queries.keys.toSeq.sorted)
  }
}

object OracleParitySpec {
  /** Queries deliberately shipped without a DuckDB oracle (driver records a
    * weaker rows-only check). Currently empty — every registered query is
    * SQL-expressible. */
  val OracleExempt: Set[String] = Set.empty
}
