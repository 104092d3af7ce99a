package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Session policy and job accounting each live in one module: no other
  * source file builds a session or implements the accounting callbacks.
  * The patterns are split so this file does not match them itself. */
class SourcePolicySpec extends AnyFunSuite {
  private val root: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(d => Files.isDirectory(d.resolve("src/main/scala")))
      .getOrElse(fail("no src/main/scala above the working directory"))

  /** Source files under src/main and src/test containing `re`, relative
    * to the project root. */
  private def filesMatching(re: Regex): Set[String] =
    Seq("src/main", "src/test").flatMap { d =>
      Files.walk(root.resolve(d)).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          re.findFirstIn(Files.readString(p)).isDefined)
        .map(p => root.relativize(p).toString)
    }.toSet

  test("only GraftSession builds a SparkSession") {
    assert(filesMatching(("SparkSession" + "\\.builder").r) ==
      Set("src/main/scala/graft/GraftSession.scala"))
  }

  test("only QueryMetrics implements the job-accounting listener callbacks") {
    assert(filesMatching(("on" + "(JobStart|TaskEnd|StageCompleted)").r) ==
      Set("src/main/scala/graft/obs/QueryMetrics.scala"))
  }
}
