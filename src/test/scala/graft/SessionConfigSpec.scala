package graft

import org.scalatest.funsuite.AnyFunSuite

/** Session config is set in one place (the [[SourceEncodingSpec]]
  * source-scan idiom): every key [[SparkUtil.configure]] sets belongs to
  * it alone. A launcher script once copied those settings as `--conf`
  * flags, and the copy drifted: it lacked the two local-I/O keys, so its
  * sessions forked a process per written file. This spec reads the keys
  * `SparkUtil.scala` sets with `.config("…"` and fails when any other file
  * under `src/main` or `tools/` sets one of them through `--conf`,
  * `.config("` or `conf.set("`. Comment lines are skipped, so a doc
  * example may still name a key. Needs no SparkSession. */
class SessionConfigSpec extends AnyFunSuite {

  private val Owner = "src/main/scala/graft/SparkUtil.scala"
  private val Skip = SourceLines.Comments :+ "#"

  private val Setters = Seq(
    """--conf\s+"?([A-Za-z0-9_.]+)=""".r,
    """\.config\(\s*"([^"]+)"""".r,
    """conf\.set\(\s*"([^"]+)"""".r)

  /** The keys [[SparkUtil.configure]] sets. */
  private def owned: Set[String] = SourceLines(Owner, skip = Skip)
    .flatMap(l => Setters(1).findAllMatchIn(l._3).map(_.group(1))).toSet

  /** (path, 1-based line, text) of every non-comment line of every file
    * under `src/main` and `tools/` but [[Owner]]. */
  private def lines: Seq[(String, Int, String)] =
    Seq("src/main", "tools").flatMap { root =>
      SourceLines(root, suffix = "", skip = Skip).map { case (f, n, l) => (s"$root/$f", n, l) }
    }.filterNot(_._1 == Owner)

  test("the scan sees the keys SparkUtil.configure sets") {
    val keys = owned
    assert(Seq("spark.sql.extensions", "spark.sql.session.timeZone",
      "spark.hadoop.fs.file.impl",
      "spark.sql.streaming.checkpointFileManagerClass").forall(keys),
      s"run from the repository root, or update the pattern: found $keys")
  }

  test("no file outside SparkUtil sets a key that configure sets") {
    val keys = owned
    val hits = for {
      (f, n, l) <- lines
      k <- Setters.flatMap(_.findAllMatchIn(l).map(_.group(1))) if keys(k)
    } yield s"$f:$n: $k"
    assert(hits.isEmpty,
      s"${hits.size} settings copied from SparkUtil.configure — build the " +
        s"session through configure instead:\n${hits.mkString("\n")}")
  }
}
