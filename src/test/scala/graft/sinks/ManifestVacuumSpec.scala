package graft.sinks

import java.io.File
import java.nio.file.Files

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Vacuum's retention window. [[ManifestCatalog.writeParts]] moves part
  * files into the table directory under final names BEFORE the manifest
  * commit references them — so to a concurrent vacuum, an
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
        ManifestCatalog.StagingPrefixes.exists(n.startsWith))

  test("a failed write leaves no staging directory behind") {
    val root = freshRoot()
    val cat = new ManifestCatalog(spark, root)
    val boom = org.apache.spark.sql.functions.udf { (k: Long) =>
      if (k == 2L) throw new IllegalStateException("boom"); k
    }
    // four tasks, one fails: the others are killed while the job fails
    val bad = spark.range(0, 4, 1, 4).select(boom($"id").as("k"))
    (1 to 5).foreach { _ =>
      // routed append (.staging-*) and a plain append (.rewrite-*)
      intercept[Exception](cat.appendRouted(
        bad.select($"k", org.apache.spark.sql.functions.lit("t")
          .as("tableName")), Seq("t")))
      intercept[Exception](cat.append("t", bad))
      assert(stagingDirs(root).isEmpty, s"leaked: ${stagingDirs(root)}")
    }
    assert(cat.listTables().isEmpty)
  }

  test("vacuum reclaims a stale staging directory, never a fresh one") {
    val root = freshRoot()
    val cat = new ManifestCatalog(spark, root)
    def staging(name: String): File = {
      val d = new File(root, s"$name/tableName=t")
      d.mkdirs()
      Files.write(new File(d, "part-0.parquet").toPath, Array[Byte](1))
      new File(root, name)
    }
    val stale = staging(".staging-dead")
    val staleRewrite = staging(".rewrite-dead")
    val fresh = staging(".staging-live")
    val old = System.currentTimeMillis() -
      ManifestCatalog.DefaultVacuumRetentionMs - 60_000
    Seq(stale, staleRewrite).foreach { d =>
      def age(f: File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(age)
        assert(f.setLastModified(old))
      }
      age(d)
    }
    assert(cat.vacuum() == 2)
    assert(!stale.exists() && !staleRewrite.exists())
    assert(fresh.exists(), "vacuum removed an in-flight writer's staging")
  }
}
