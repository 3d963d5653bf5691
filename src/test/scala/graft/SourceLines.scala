package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The one source scan under the canary specs: (path relative to the
  * scanned root, 1-based line, text) of every line of every regular file
  * under `root` whose name ends with `suffix`, in path order. A line whose
  * trimmed text starts with one of `skip` is dropped — by default the
  * Scala comment lines, so a doc may still name what a canary forbids.
  * Relative paths assume the repository root as the working directory,
  * as `sbt test` runs. */
object SourceLines {

  val Comments: Seq[String] = Seq("//", "/*", "*")

  def apply(root: String, suffix: String = ".scala",
            skip: Seq[String] = Comments): Seq[(String, Int, String)] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix))
      .toSeq.sortBy(_.toString)
      .flatMap { f =>
        val rel = base.relativize(f).toString.replace('\\', '/')
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (l, i) if !skip.exists(l.trim.startsWith) => (rel, i + 1, l)
        }
      }
  }
}
