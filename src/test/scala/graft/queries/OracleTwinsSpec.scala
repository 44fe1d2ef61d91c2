package graft.queries

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Each library operator has one DuckDB twin, defined beside it
  * (`Similarity.duckDot`/`duckD2`/`duckExactMean`/`duckHyperplaneBucket`,
  * `NearDup.duckShingles`, `TextAnalysis.duckTokens`, …). A query module
  * composes oracles from those twins; it never re-spells one, so a numeric
  * rule (sequential dot, 2^48-scaled exact mean, SRP sign bits) has one
  * definition to change.
  */
class OracleTwinsSpec extends AnyFunSuite {

  private val copies = Seq(
    """\bdef\s+(duckDot|duckShingles|duckD2)\b""".r ->
      "a private twin: use the library's",
    """\bval\s+(NormText|Toks|StopList)\b""".r ->
      "a private text twin: use Cleaning.duckNormalizeText / TextAnalysis.duckTokens / duckStopwords",
    """281474976710656\s*/\s*COUNT\(\*\)""".r ->
      "an inline exact mean: use Similarity.duckExactMean",
    """CAST\(p AS VARCHAR\) \|\| ':' \|\| CAST\(i - 1 AS VARCHAR\)""".r ->
      "an inline SRP sign: use Similarity.duckHyperplaneBucket")

  /** `file:line: what` for each re-spelled twin in `text`. */
  private def respelled(file: String, text: String): Seq[String] =
    copies.flatMap { case (re, what) =>
      re.findAllMatchIn(text).map { m =>
        s"$file:${text.take(m.start).count(_ == '\n') + 1}: $what"
      }
    }

  test("the scan flags a planted copy of each twin") {
    val src = Seq(
      "private def duckDot(a: String, b: String): String = ???",
      "private val Toks = s\"string_split($NormText, ' ')\"",
      "  CAST(SUM(x) AS DOUBLE) / 281474976710656 / COUNT(*) AS mean",
      "  md5(CAST(p AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR))",
      "s\"${duckDot(\"a\", \"b\")} ${duckTokens(\"text\")}\"").mkString("\n")
    assert(respelled("t.scala", src).map(_.takeWhile(_ != ' ')) ==
      Seq("t.scala:1:", "t.scala:2:", "t.scala:3:", "t.scala:4:"))
  }

  test("no query module re-spells an operator's DuckDB twin") {
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft/queries")
    val files = scala.util.Using.resource(Files.walk(root))(_.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList)
    assert(files.size > 10, s"expected the query modules under ${root.toAbsolutePath}")
    val hits = files.flatMap(f =>
      respelled(f.toString, new String(Files.readAllBytes(f), "UTF-8")))
    assert(hits.isEmpty, hits.mkString("re-spelled DuckDB twins:\n", "\n", ""))
  }
}
