package graft.sinks

import java.io.File
import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.sql.functions.lit
import org.scalatest.concurrent.Eventually.{eventually, timeout}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Vacuum's retention window. Every catalog write ([[PartWriter]]) puts
  * part files into the table directory under final names BEFORE the
  * manifest commit references them — so to a concurrent vacuum, an
  * about-to-be-committed part looks exactly like a crashed append's
  * orphan. The mtime-based window is what makes a maintenance vacuum
  * safe beside live writers. */
class ManifestVacuumSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("mvac").toString

  private def orphan(root: String, table: String,
      name: String): File = {
    val dir = new File(root, table)
    dir.mkdirs()
    val f = new File(dir, name)
    Files.write(f.toPath, Array[Byte](1, 2, 3))
    f
  }

  test("a fresh uncommitted part survives the default retention window") {
    val root = freshRoot()
    val cat = new ManifestCatalog(spark, root)
    cat.append("t", Seq((1L, "a")).toDF("k", "v"))
    // stand-in for another writer's staged-but-uncommitted part: just
    // moved into the table directory, commit not yet published
    val staged = orphan(root, "t", "in-flight-part.parquet")
    assert(cat.vacuum() == 0, "a young uncommitted file must survive")
    assert(staged.exists(),
      "vacuum deleted a part an in-flight writer is about to commit")
    // the in-flight writer's commit then lands and the rows are readable
    cat.commitVersion(None, Map("t" -> Seq(staged.getName)))
    assert(cat.fileCount("t") == 2)
  }

  test("an aged orphan is reclaimed; live files never are") {
    val root = freshRoot()
    val cat = new ManifestCatalog(spark, root)
    cat.append("t", Seq((1L, "a")).toDF("k", "v"))
    val crashed = orphan(root, "t", "crashed-append.parquet")
    // age the orphan past the window (mtime is the retention clock)
    assert(crashed.setLastModified(
      System.currentTimeMillis() - ManifestCatalog.DefaultVacuumRetentionMs
        - 60_000))
    assert(cat.vacuum() == 1)
    assert(!crashed.exists())
    assert(cat.read("t").count() == 1) // committed data untouched
  }

  test("retention 0 is the no-writers-in-flight teardown mode") {
    val root = freshRoot()
    val cat = new ManifestCatalog(spark, root)
    cat.append("t", Seq((1L, "a")).toDF("k", "v"))
    val staged = orphan(root, "t", "fresh-orphan.parquet")
    assert(cat.vacuum(retentionMs = 0L) == 1)
    assert(!staged.exists())
  }

  private def stagingDirs(root: String): Seq[String] =
    Option(new File(root).listFiles()).getOrElse(Array.empty[File]).toSeq
      .map(_.getName).filter(n =>
        n.startsWith(".staging-") || n.startsWith(".rewrite-"))

  test("a failed write leaves no staging directory behind") {
    val root = freshRoot()
    val cat = new ManifestCatalog(spark, root)
    val boom = org.apache.spark.sql.functions.udf { (k: Long) =>
      if (k == 2L) throw new IllegalStateException("boom"); k
    }
    // four tasks, one fails: the others are killed while the job fails
    val bad = spark.range(0, 4, 1, 4).select(boom($"id").as("k"))
    (1 to 5).foreach { _ =>
      // a routed append and a plain append
      intercept[Exception](cat.appendRouted(bad.select(
        lit("t").as("tableName"), $"k".cast("string").as("client"),
        lit("d").as("device"), lit("Float64").as("value_type"),
        $"k".cast("double").as("value_d"),
        lit(null).cast("string").as("value_s")), Seq("t")))
      intercept[Exception](cat.append("t", bad))
      assert(stagingDirs(root).isEmpty, s"leaked: ${stagingDirs(root)}")
    }
    assert(cat.listTables().isEmpty)
    // the failed writes' files are unlisted (the manifest lists none of
    // t); a killed task may still close one after its job has failed
    eventually(timeout(Span(10, Seconds))) {
      cat.vacuum(retentionMs = 0L)
      val left = Option(new File(root, "t").list())
        .getOrElse(Array.empty[String]).toSeq
      assert(left.isEmpty, s"unlisted files left in t/: $left")
    }
  }
}
