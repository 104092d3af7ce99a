package graft.sinks

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Multi-writer optimistic concurrency on the manifest log. Two
  * `ManifestCatalog` instances on the same root stand in for two writer
  * PROCESSES: each takes its next version number from its own listing
  * of the log, so their commits genuinely race on the version file — and the hard-link
  * publish is the only thing preventing a silent clobber (a POSIX
  * rename REPLACES an existing target; `Files.move` cannot detect the
  * collision).
  *
  * Contract under race:
  *  - blind appends (add-only) retry transparently — all commits land,
  *    no version is ever overwritten;
  *  - a commit whose `removed` files were concurrently removed ABORTS
  *    (`ConcurrentModificationException`) — retrying a compaction/MERGE
  *    over files someone else rewrote would resurrect deleted rows;
  *  - the same streaming batch id committed by two writers lands ONCE
  *    (the loser's staged rows stay invisible orphans for vacuum).
  */
class ManifestConcurrencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("mcc").toString

  private def rows(from: Int, n: Int) =
    (from until from + n).map(i => (i.toLong, s"r$i")).toDF("k", "v")
      .repartition(1)

  test("interleaved writers with stale counters clobber nothing") {
    val root = freshRoot()
    val w1 = new ManifestCatalog(spark, root)
    val w2 = new ManifestCatalog(spark, root)
    // alternate appends: after w2's first commit, w1's cached counter is
    // stale every time (and vice versa) — every commit must still land
    // at a distinct version
    for (i <- 0 until 3) {
      w1.append("t", rows(i * 200, 100))
      w2.append("t", rows(i * 200 + 100, 100))
    }
    val reader = new ManifestCatalog(spark, root)
    assert(reader.read("t").count() == 600)
    assert(reader.read("t").select("k").distinct().count() == 600)
    assert(reader.latestVersion() == 5L) // 6 commits, v0..v5, no gaps
  }

  test("threaded writers race on the same versions; all appends land") {
    val root = freshRoot()
    val writers = Seq.fill(3)(new ManifestCatalog(spark, root))
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(writers.size)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    writers.zipWithIndex.foreach { case (w, wi) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try (0 until 4).foreach(i => w.append("t", rows(wi * 1000 + i * 100, 50)))
          catch { case t: Throwable => failures.add(t) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(failures.isEmpty, s"append must never conflict: ${failures.peek()}")
    val reader = new ManifestCatalog(spark, root)
    assert(reader.read("t").count() == 3 * 4 * 50)
    assert(reader.latestVersion() == 11L) // 12 commits, contiguous
  }

  test("racing writers crossing a checkpoint boundary fold correctly") {
    // checkpointInterval=4 → several checkpoints materialize WHILE two
    // writers race on version numbers; whichever writer lands the
    // interval-th version writes the checkpoint, and later folds (and
    // late writers' conflict validation) must see the same state
    // through checkpoint + deltas as through pure deltas
    val root = freshRoot()
    val w1 = new ManifestCatalog(spark, root, checkpointInterval = 4)
    val w2 = new ManifestCatalog(spark, root, checkpointInterval = 4)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    Seq(w1 -> 0, w2 -> 1).foreach { case (w, wi) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try (0 until 5).foreach(i => w.append("t", rows(wi * 1000 + i * 100, 40)))
          catch { case t: Throwable => failures.add(t) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(failures.isEmpty, s"append must never conflict: ${failures.peek()}")
    val reader = new ManifestCatalog(spark, root, checkpointInterval = 4)
    assert(reader.read("t").count() == 2 * 5 * 40)
    assert(reader.latestVersion() == 9L) // 10 commits, v0..v9, no gaps
    // at least one checkpoint materialized mid-race, and the fold from
    // it agrees with the data
    val (ckpt, deltas) = reader.logStats()
    assert(ckpt.nonEmpty, "a checkpoint must have materialized")
    assert(deltas <= 4, s"fold must read <= interval deltas, read $deltas")
  }

  test("a won commit stays won when another writer checkpoints past it") {
    // w1 wins v1; before its commit returns, w2 commits v2 and v3 and
    // writes checkpoint c3, which folds w1's v1 in. w1 must not take that
    // checkpoint for a sign that its number was reclaimed and commit its
    // files a second time.
    val root = freshRoot()
    val w1 = new ManifestCatalog(spark, root, checkpointInterval = 4)
    val w2 = new ManifestCatalog(spark, root, checkpointInterval = 4)
    w1.append("t", rows(0, 10)) // v0
    w1.afterPublishForTest = () => {
      w1.afterPublishForTest = () => ()
      w2.append("t", rows(100, 10)) // v2
      w2.append("t", rows(200, 10)) // v3 and checkpoint c3
    }
    w1.append("t", rows(10, 10)) // v1
    val reader = new ManifestCatalog(spark, root, checkpointInterval = 4)
    assert(reader.logStats()._1 == Some(3L))
    assert(reader.read("t").count() == 40)
    assert(reader.read("t").select("k").distinct().count() == 40)
    assert(reader.latestVersion() == 3L)
  }

  test("losing a removal race aborts instead of resurrecting files") {
    val root = freshRoot()
    val w1 = new ManifestCatalog(spark, root)
    w1.append("t", rows(0, 100))
    w1.append("t", rows(100, 100)) // w1's counter now warm at v2
    val before = new ManifestCatalog(spark, root).read("t").count()
    assert(before == 200)

    // w2 compacts first: consumes both files at v2
    val w2 = new ManifestCatalog(spark, root)
    w2.compact("t")

    // w1 (stale counter: also targeting v2) now tries its own compaction
    // of the SAME original files — it loses the race to w2's v2, and the
    // refreshed snapshot shows its consumed files are gone → abort
    val stale = (0 until 2).map(i => s"missing-part-$i.parquet")
    val preVersions = new ManifestCatalog(spark, root).latestVersion()
    val e = intercept[java.util.ConcurrentModificationException] {
      w1.commitVersion(None,
        add = Map("t" -> Seq("would-double-apply.parquet")),
        removed = Map("t" -> stale))
    }
    assert(e.getMessage.contains("another writer"))
    // nothing was committed by the aborted attempt
    assert(new ManifestCatalog(spark, root).latestVersion() == preVersions)
    assert(new ManifestCatalog(spark, root).read("t").count() == 200)
  }

  test("rewrite committing from a FRESH counter still detects the conflict") {
    // The hole the lost-race-only validation left: writer A snapshots,
    // computes a long rewrite, and meanwhile writer B commits a
    // conflicting rewrite. A's counter refreshes AFTER B's commit, so
    // A's publish wins the link on the first attempt — no race is ever
    // lost, and without read-version validation A lands silently
    // (doubling every row for two compactions, or resurrecting rows B's
    // MERGE deleted).
    val root = freshRoot()
    val w1 = new ManifestCatalog(spark, root)
    w1.append("t", rows(0, 100))
    w1.append("t", rows(100, 100))
    // what a compaction snapshotting at v1 would read and consume
    val readV = w1.latestVersion()
    assert(readV == 1L)
    val consumed = Option(new java.io.File(root, "t").listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(_.endsWith(".parquet")).toSeq.sorted
    assert(consumed.size == 2)

    // B's compaction commits first (v2): consumes exactly those files
    val w2 = new ManifestCatalog(spark, root)
    w2.compact("t")

    // A commits its own rewrite of the SAME files from a fresh counter:
    // the publish would win v3 outright — the read version is the only
    // thing that can catch the conflict
    val a = new ManifestCatalog(spark, root) // lists the log afresh
    val e = intercept[java.util.ConcurrentModificationException] {
      a.commitVersion(None,
        add = Map("t" -> Seq("duplicate-rows.parquet")),
        removed = Map("t" -> consumed), readVersion = Some(readV))
    }
    assert(e.getMessage.contains("another writer"))
    val reader = new ManifestCatalog(spark, root)
    assert(reader.read("t").count() == 200)
    assert(reader.latestVersion() == 2L) // B's compaction only
  }

  test("rewrite racing only blind appends commits fine (no false abort)") {
    val root = freshRoot()
    val w1 = new ManifestCatalog(spark, root)
    w1.append("t", rows(0, 100)) // v0
    val readV = w1.latestVersion()
    val consumed = Option(new java.io.File(root, "t").listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(_.endsWith(".parquet")).toSeq
    // an append lands between A's snapshot and A's commit — the
    // rewrite's consumed files are still live, so validation passes and
    // the later add survives the fold
    new ManifestCatalog(spark, root).append("t", rows(100, 50)) // v1
    val a = new ManifestCatalog(spark, root)
    val moved = {
      // stand-in for a real rewrite output of the v0 file
      val f = new java.io.File(new java.io.File(root, "t"),
        "rewritten-okay.parquet")
      val src = new java.io.File(new java.io.File(root, "t"), consumed.head)
      Files.copy(src.toPath, f.toPath)
      Seq(f.getName)
    }
    a.commitVersion(None, add = Map("t" -> moved),
      removed = Map("t" -> consumed), readVersion = Some(readV))
    val reader = new ManifestCatalog(spark, root)
    assert(reader.read("t").count() == 150) // rewrite + surviving append
  }

  test("publish falls back to CREATE_NEW where hard links are unsupported") {
    val root = freshRoot()
    val w1 = new ManifestCatalog(spark, root)
    val w2 = new ManifestCatalog(spark, root)
    w1.hardLinksDisabledForTest = true
    w2.hardLinksDisabledForTest = true
    // commits keep working (previously: UnsupportedOperationException
    // propagated and EVERY commit failed on such filesystems) …
    for (i <- 0 until 2) {
      w1.append("t", rows(i * 200, 100))
      w2.append("t", rows(i * 200 + 100, 100))
    }
    // … and the fallback is still atomic-fail-on-exists: interleaved
    // stale-counter writers clobber nothing
    val reader = new ManifestCatalog(spark, root)
    assert(reader.read("t").count() == 400)
    assert(reader.read("t").select("k").distinct().count() == 400)
    assert(reader.latestVersion() == 3L) // 4 commits, v0..v3, no gaps
  }

  test("same batch id from two writers commits once") {
    val root = freshRoot()
    val w1 = new ManifestCatalog(spark, root)
    val w2 = new ManifestCatalog(spark, root)
    w1.append("t", rows(0, 10)) // warm both counters at v1
    w2.read("t")
    // both writers replay streaming batch 7 (e.g. two drivers racing
    // after a failover): each stages its own part files, both race the
    // SAME next version with the same batch id
    w2.appendBatch(7L, Map("t" -> rows(100, 10)))
    assert(w2.batchCommitted(7L))
    // w1's attempt loses the version race, sees batch 7 already
    // committed, and returns WITHOUT writing — its rows stay invisible
    w1.appendBatch(7L, Map("t" -> rows(100, 10)))
    val reader = new ManifestCatalog(spark, root)
    assert(reader.read("t").count() == 20, "batch 7 must land exactly once")
    assert(reader.latestVersion() == 1L) // v0 append, v1 batch, nothing else
  }

  test("compaction carries range stats and blooms through the rewrite") {
    val root = freshRoot()
    val cat = new ManifestCatalog(spark, root)
    Seq(0, 1, 2).foreach { b =>
      cat.appendWithStats("t",
        spark.range(b * 1000, b * 1000 + 500).toDF("k")
          .withColumn("v", org.apache.spark.sql.functions.col("k") * 3)
          .repartition(1),
        statsCols = Seq("k"), bloomCols = Seq("k"))
    }
    cat.compact("t", targetFiles = 2)
    val reader = new ManifestCatalog(spark, root)
    assert(reader.read("t").count() == 1500)
    // range stats survived: a between-read still proves pruning inputs
    val stats = reader.fileStats("t")
    assert(stats.nonEmpty, "compacted files must carry stats")
    assert(stats.values.forall(_.contains("k")),
      "every compacted file must keep k's min/max")
    // blooms survived: a point lookup still prunes and still answers
    val (kept, all) = reader.bloomPrunedFiles("t", "k", "1042")
    assert(all.size == 2)
    assert(kept.nonEmpty, "a live key's file must survive bloom pruning")
    assert(reader.readPoint("t", "k", "1042").count() == 1)
    // and no false negatives on compacted layout
    Seq(0L, 499L, 1042L, 1499L, 2000L, 2499L).foreach { k =>
      assert(reader.readPoint("t", "k", k.toString).count() == 1,
        s"key $k lost after compaction")
    }
  }
}
