package graft.plans

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every `localCheckpoint` in the library says why it materializes. Two
  * consumers of one plan share it under [[SharedSubplan]] instead; what is
  * left is plan growth in a loop, a driver-side decision, one frame read by
  * several actions, or a fan-out in one plan where sharing under the
  * barrier was measured to cost more than one copy. The line directly
  * above each call carries
  * `// materialize: loop|decision|cross-action|fanout — <reason>`.
  */
class LocalCheckpointSitesSpec extends AnyFunSuite {

  private val tag = """^\s*// materialize: (?:loop|decision|cross-action|fanout) — \S.*$""".r

  /** `file:line` of each untagged call in `text`, a call split across
    * lines included.
    */
  private def untagged(file: String, text: String): Seq[String] = {
    val lines = text.split("\n", -1)
    """localCheckpoint\s*\(""".r.findAllMatchIn(text).toSeq.flatMap { m =>
      val line = text.take(m.start).count(_ == '\n')
      val code = lines(line)
      val inComment = code.indexOf("//") match {
        case -1 => code.trim.startsWith("*")
        case c => c < code.indexOf("localCheckpoint")
      }
      val tagged = line > 0 && tag.pattern.matcher(lines(line - 1)).matches()
      if (inComment || tagged) None else Some(s"$file:${line + 1}: ${code.trim}")
    }
  }

  test("the scan flags an untagged call and accepts a tagged one") {
    val src = Seq(
      "val a = x.localCheckpoint()",
      "// materialize: loop — each round reads the last",
      "val b = x",
      "  .localCheckpoint(eager = false)",
      "// materialize: cross-action — two writes read it",
      "val c = x.localCheckpoint",
      "  ()",
      "// a comment on localCheckpoint() is not a call").mkString("\n")
    assert(untagged("t.scala", src).map(_.takeWhile(_ != ' ')) ==
      Seq("t.scala:1:", "t.scala:4:"))
  }

  test("every localCheckpoint in src/main carries a materialize tag") {
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    val files = scala.util.Using.resource(Files.walk(root))(_.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList)
    assert(files.size > 50, s"expected the library sources under ${root.toAbsolutePath}")
    val hits = files.flatMap(f =>
      untagged(f.toString, new String(Files.readAllBytes(f), "UTF-8")))
    assert(hits.isEmpty, hits.mkString("localCheckpoint calls without a tag:\n", "\n", ""))
  }
}
