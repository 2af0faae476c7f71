package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Shape invariants of `src/main`: each Spark entry point of one kind
  * lives in one place, so a second stream start, session builder or
  * listener cannot creep back in unseen. Comments are stripped before
  * matching (scaladocs may name these entry points).
  */
class SourceShapeSpec extends AnyFunSuite {
  private val main = new File("src/main/scala")

  /** Each main source file by its name relative to `src/main/scala`,
    * with comments removed. */
  private lazy val sources: Seq[(String, String)] = {
    assert(main.isDirectory, s"run from the project root: $main")
    val s = Files.walk(main.toPath)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map { p =>
        main.toPath.relativize(p).toString ->
          new String(Files.readAllBytes(p), "UTF-8")
            .replaceAll("(?s)/\\*.*?\\*/", "")
            .replaceAll("(?m)//.*$", "")
      }
    finally s.close()
  }

  private def filesMatching(pattern: String): Seq[String] = {
    val re = pattern.r
    sources.collect { case (f, code) if re.findFirstIn(code).nonEmpty => f }
      .sorted
  }

  test("source shape: .writeStream appears only in MicroBatches") {
    assert(filesMatching("""\.writeStream\b""") ==
      Seq("graft/operators/MicroBatches.scala"))
  }

  test("source shape: SparkSession.builder() appears only in LocalSession") {
    assert(filesMatching("""SparkSession\s*\.\s*builder\s*\(""") ==
      Seq("graft/LocalSession.scala"))
  }

  test("source shape: SparkListener subclasses live only in QueryMetrics and Tables") {
    assert(filesMatching(
      """\b(extends|with|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b""") ==
      Seq("graft/QueryMetrics.scala", "graft/sources/Tables.scala"))
  }
}
