package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class ManifestTimeTravelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("readAt pins each committed version's content") {
    val cat = new ManifestCatalog(spark,
      Files.createTempDirectory("tt").toString)
    cat.append("t", Seq(("a", 1.0)).toDF("client", "value"))   // v0
    cat.append("t", Seq(("b", 2.0)).toDF("client", "value"))   // v1
    cat.append("t", Seq(("c", 3.0)).toDF("client", "value"))   // v2
    assert(cat.latestVersion() == 2)
    assert(cat.readAt("t", 0).collect().map(_.getString(0)).toSet == Set("a"))
    assert(cat.readAt("t", 1).collect().map(_.getString(0)).toSet ==
      Set("a", "b"))
    assert(cat.readAt("t", 2).collect().map(_.getString(0)).toSet ==
      Set("a", "b", "c"))
    intercept[IllegalArgumentException](cat.readAt("t", 3))
    intercept[IllegalArgumentException](cat.readAt("missing", 2))
  }

  test("old snapshots survive compaction until vacuum reclaims them") {
    val cat = new ManifestCatalog(spark,
      Files.createTempDirectory("tt").toString)
    cat.append("t", Seq(("a", 1.0)).toDF("client", "value"))   // v0
    cat.append("t", Seq(("b", 2.0)).toDF("client", "value"))   // v1
    cat.compact("t")                                           // v2
    assert(cat.fileCount("t") == 1)
    // pre-compaction version still reads the ORIGINAL files
    assert(cat.readAt("t", 1).collect().map(_.getString(0)).toSet ==
      Set("a", "b"))
    assert(cat.vacuum(retentionMs = 0L) > 0) // reclaims the compacted-away data files
    assert(cat.read("t").count() == 2) // live snapshot unaffected
    // the travel window shrank: v1's data files are gone
    intercept[Exception] {
      cat.readAt("t", 1).collect()
    }
  }

  test("travel works from a checkpoint base and fails loudly below it") {
    val cat = new ManifestCatalog(spark,
      Files.createTempDirectory("tt").toString, checkpointInterval = 2)
    (0 until 4).foreach { i =>
      cat.append("t", Seq((s"r$i", i.toDouble)).toDF("client", "value"))
    }
    assert(cat.vacuum(retentionMs = 0L) > 0) // deltas folded into the latest checkpoint go
    // the latest checkpoint (v3) and the live head still read fine
    assert(cat.read("t").count() == 4)
    assert(cat.readAt("t", 3).count() == 4)
    // below the checkpoint the delta chain is gone — loud failure, not a
    // silently incomplete fold
    intercept[IllegalStateException](cat.snapshotAt(0))
  }

  test("a delta holding a replace section fails the fold, naming its version") {
    val root = Files.createTempDirectory("tt").toString
    val cat = new ManifestCatalog(spark, root)
    cat.append("t", Seq(("a", 1.0)).toDF("client", "value"))   // v0
    // the full-list swap no writer emits any more, written by hand
    Files.write(Paths.get(root, "_manifest", "v00000000000000000001.json"),
      ("""{"version":1,"batchId":-1,"add":{},""" +
        """"replace":{"t":["gone.parquet"]},"removed":{},"schemas":{},""" +
        """"stats":{}}""").getBytes(UTF_8))
    Seq(intercept[IllegalStateException](cat.read("t")),
      intercept[IllegalStateException](cat.snapshotAt(1))).foreach(e =>
      assert(e.getMessage.contains("version 1 "), e.getMessage))
    assert(cat.snapshotAt(0)("t").size == 1) // the version below still folds
  }

  test("two writers across two checkpoints and a vacuum: the head travels") {
    // what an exactly-once check does: snapshotAt(latestVersion()) must
    // be the live head, whichever writer committed last
    val root = Files.createTempDirectory("tt").toString
    val a = new ManifestCatalog(spark, root, checkpointInterval = 3)
    val b = new ManifestCatalog(spark, root, checkpointInterval = 3)
    def headIsLive(): Unit = Seq(a, b).foreach { c =>
      val head = c.snapshotAt(c.latestVersion())
      assert(head.keys.toSeq.sorted == c.listTables())
      head.foreach { case (t, fs) => assert(fs.size == c.fileCount(t), t) }
    }
    (0 until 8).foreach { i =>
      val (w, t) = (if (i % 2 == 0) a else b, if (i % 3 == 0) "u" else "t")
      w.append(t, Seq((s"r$i", i.toDouble)).toDF("client", "value"))
      headIsLive()
      if (i == 5) {
        assert(a.logStats()._1.contains(5L)) // checkpoints at v2 and v5
        // reclaims v0..v5, so `a`'s counter, last advanced by its v4,
        // names a version that is gone: its next append must not land
        // there, below the checkpoint, where no fold reads it
        assert(a.vacuum(retentionMs = 0L) > 0)
        headIsLive()
      }
    }
    b.compact("t") // v8, the third checkpoint
    headIsLive()
    assert(a.latestVersion() == 8L && a.logStats() == (Some(8L), 0))
    assert(a.read("t").count() == 5 && b.read("u").count() == 3)
    // below the retained checkpoint the chain is gone
    intercept[IllegalStateException](a.snapshotAt(0))
    intercept[IllegalStateException](b.snapshotAt(4))
  }
}
