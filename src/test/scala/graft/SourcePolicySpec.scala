package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Session policy, job accounting, artifact release, on-disk artifact
  * publishing and the sinks' file writes each live in one module: no
  * other source file builds a session, implements the accounting
  * callbacks, releases a query module's memo by hand or keeps a
  * completion marker, no sink writes a DataFrame, and no sink reads
  * parquet but through the manifest's file index. The patterns are split so
  * this file does not match them itself. */
class SourcePolicySpec extends AnyFunSuite {
  private val root: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(d => Files.isDirectory(d.resolve("src/main/scala")))
      .getOrElse(fail("no src/main/scala above the working directory"))

  /** Source files under `dirs` containing `re`, relative to the project
    * root. */
  private def filesMatching(re: Regex,
      dirs: Seq[String] = Seq("src/main", "src/test")): Set[String] =
    dirs.flatMap { d =>
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

  test("query modules hold no release hook or release function") {
    assert(filesMatching(("onRelease" + "All|def " + "release").r,
      Seq("src/main/scala/graft/queries")).isEmpty)
  }

  test("the sinks write parquet only through PartWriter") {
    assert(filesMatching(("\\.write" + "\\.|Save" + "Mode").r,
      Seq("src/main/scala/graft/sinks")).isEmpty)
  }

  test("the sinks read parquet only through ManifestFileIndex") {
    // a DataFrameReader chain (`spark.read.parquet`, `.read.schema`, …);
    // `catalog.read(table)` calls are no reader
    assert(filesMatching(("\\.read" + "\\b(?!\\s*\\()").r,
      Seq("src/main/scala/graft/sinks")).isEmpty)
  }

  test("only the image decoder catches fatal errors") {
    assert(filesMatching(("case \\w+: " + "Throwable").r, Seq("src/main")) ==
      Set("src/main/scala/graft/queries/Multimodal.scala"))
  }

  test("only Artifact writes or probes an artifact completion marker") {
    // a string literal ending in a marker name; a comment naming one
    // (PartWriter's `_SUCCESS`) is no probe. BucketedLayout probes the
    // `_SUCCESS` of its own `saveAsTable` write: the table is registered
    // at the path it writes, so it cannot stage and rename, and its
    // overwrite-mode write is safe to repeat.
    assert(filesMatching(("(_READY|_VERSIONS|_SUCCESS)" + "\"").r,
      Seq("src/main")) == Set("src/main/scala/graft/Artifact.scala",
        "src/main/scala/graft/operators/BucketedLayout.scala"))
  }

  test("only Artifact places an artifact under the artifact root") {
    assert(filesMatching(("artifact" + "Root").r, Seq("src/main")) ==
      Set("src/main/scala/graft/Tuning.scala",
        "src/main/scala/graft/Artifact.scala"))
  }
}
