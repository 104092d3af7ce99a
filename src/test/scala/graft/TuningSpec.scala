package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/** [[Tuning.withShufflePartitions]] mutates session-global conf — the
  * scoped override must serialize against concurrent overrides on the
  * same session (no interleaved set/restore leaving a stale value) and
  * restore LIFO-correctly when nested. */
class TuningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Key = "spark.sql.shuffle.partitions"

  test("concurrent scoped overrides serialize and restore the original") {
    val original = spark.conf.get(Key)
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val tasks = (1 to 4).map { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          (1 to 25).foreach { _ =>
            Tuning.withShufflePartitions(spark, 100 + i) {
              // inside the scope this thread's own value must hold —
              // an interleaved set from another thread would differ
              val seen = spark.conf.get(Key)
              if (seen != (100 + i).toString)
                failures.add(s"thread $i saw $seen")
            }
          }
        }
      })
    }
    start.countDown()
    tasks.foreach(_.get(60, TimeUnit.SECONDS))
    pool.shutdown()
    assert(failures.isEmpty, failures.toString)
    assert(spark.conf.get(Key) == original,
      "stale temporary value leaked past the scopes")
  }

  test("nested overrides restore LIFO (reentrant lock)") {
    val original = spark.conf.get(Key)
    Tuning.withShufflePartitions(spark, 7) {
      assert(spark.conf.get(Key) == "7")
      Tuning.withShufflePartitions(spark, 11) {
        assert(spark.conf.get(Key) == "11")
      }
      assert(spark.conf.get(Key) == "7", "inner scope must restore outer")
    }
    assert(spark.conf.get(Key) == original)
  }

  test("partsFor: floor 4, rows-proportional, capped") {
    assert(Tuning.partsFor(0L) == 4)
    assert(Tuning.partsFor(500000L) == 4)
    assert(Tuning.partsFor(5000000L) == 10)
    assert(Tuning.partsFor(Long.MaxValue / 4) == (1 << 20))
  }

  // The r15 lifecycle-compliance contract: every offline-build artifact
  // (index, warehouse table, layout, split copy) roots under
  // Tuning.artifactRoot, which without the SPARK_GRAFT_INDEX_DIR override
  // is a PER-PROCESS directory — no run can be served an artifact a
  // previous run built. Every one is placed by Artifact.dir, the only
  // reader of artifactRoot besides Tuning (SourcePolicySpec pins that).
  // A regression here (the key function reverting to a fixed /tmp path)
  // silently reintroduces cross-run reuse the bench rules forbid.
  test("artifactRoot is one per-process dir and all artifact dirs root there") {
    val root = Tuning.artifactRoot
    assert(root == Tuning.artifactRoot, "stable within the process")
    if (!sys.env.contains("SPARK_GRAFT_INDEX_DIR")) {
      assert(new java.io.File(root).isDirectory, "created eagerly")
      assert(new java.io.File(root).getName.startsWith("graft-idx-"),
        "fresh per-process dir, not a fixed shared path")
    }
    val d = "/root/testdata/sf0.001"
    val dirs = Seq("c16", "det8-i2", "pq8-m4-sd16-k8-i2", "cow", "cow-zs",
      "cow-zo", "cow-bl", "dpp", "bkt", "split-lineitem")
      .map(Artifact.dir(d, _))
    dirs.foreach(p => assert(p.startsWith(root), s"$p must root under $root"))
  }
}
