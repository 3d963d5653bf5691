package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-encoding canary (the [[EstateCoverageSpec]] source-scan idiom):
  * UTF-8 text that was decoded as Latin-1 and re-encoded turns every
  * em dash, `≤` or `×` into a two- or three-character run starting with
  * U+00C2, U+00C3 or U+00E2. Such a re-encode once garbled 265 lines of
  * one query file, two runtime error strings included, and nothing
  * failed. This spec scans the raw bytes of every file under `src/` and
  * `tools/` for the UTF-8 encodings of those lead characters (C3 82,
  * C3 83, C3 A2), which no source here uses legitimately. Needs no
  * SparkSession. */
class SourceEncodingSpec extends AnyFunSuite {

  private val Mojibake: Seq[(String, Array[Byte])] = Seq(
    "U+00C2" -> Array(0xC3, 0x82), "U+00C3" -> Array(0xC3, 0x83),
    "U+00E2" -> Array(0xC3, 0xA2)).map { case (n, b) => n -> b.map(_.toByte) }

  private def files: Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    Seq("src", "tools").flatMap { root =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).toSeq
    }
  }

  /** 1-based numbers of the lines of `bytes` that contain `seq`. */
  private def linesWith(bytes: Array[Byte], seq: Array[Byte]): Seq[Int] =
    bytes.indices.filter(i => bytes.startsWith(seq, i))
      .map(i => bytes.take(i).count(_ == '\n') + 1).distinct

  test("the scan sees the source tree") {
    assert(files.count(_.toString.endsWith(".scala")) > 100,
      "run from the repository root: the scan found no sources")
  }

  test("no file under src/ or tools/ carries Latin-1 mojibake") {
    val hits = for {
      f <- files
      bytes = java.nio.file.Files.readAllBytes(f)
      (name, seq) <- Mojibake
      lines = linesWith(bytes, seq) if lines.nonEmpty
    } yield s"$f: $name on lines ${lines.take(5).mkString(", ")}" +
      (if (lines.size > 5) s" (+${lines.size - 5} more)" else "")
    assert(hits.isEmpty,
      s"re-encoded UTF-8 found — restore the file's text:\n${hits.mkString("\n")}")
  }
}
