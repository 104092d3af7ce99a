package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** The artifact registry: warming an artifact pins storage, releasing it
  * unpins everything the warm pinned, [[Resources.releaseAll]] alone
  * releases every artifact, and a build runs once per key. */
class ArtifactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"
  private def pinned = spark.sparkContext.getPersistentRDDs.keySet

  private val inMemory = Bench.warmup.collect { case a: Artifact[_] => a }

  test("the warmup list keeps every step, in order") {
    assert(Bench.warmupSteps.map(_._1) == Seq("layout", "tables", "ivf",
      "det", "pq", "lsh", "shingle", "labels", "bm25", "lmScores", "probe",
      "spans", "coEdges", "prGraph", "walkAdj", "hitsEdges", "bpe",
      "groundTruth", "cow", "stats", "zorder", "bloom", "dpp", "bucket",
      "coverTok", "ivmBase"))
  }

  test("each in-memory warmup artifact: warm pins, release unpins, warm " +
      "rebuilds") {
    Resources.releaseAll()
    inMemory.foreach { a =>
      a.warm(spark, sfDir)
      val first = pinned
      assert(first.nonEmpty, s"${a.name}: warm pinned nothing")
      a.release(spark)
      assert(pinned.isEmpty, s"${a.name}: release left $pinned")
      a.warm(spark, sfDir)
      assert(pinned.nonEmpty && (pinned & first).isEmpty,
        s"${a.name}: warm after release must build fresh frames")
      Resources.releaseAll()
    }
  }

  test("releaseAll alone releases every artifact") {
    inMemory.foreach(_.warm(spark, sfDir))
    assert(pinned.nonEmpty, "precondition: artifacts pinned")
    Resources.releaseAll()
    assert(pinned.isEmpty, s"leftover: $pinned")
  }

  test("concurrent first gets of one key build once") {
    val builds = new AtomicInteger
    val a = Artifact.frame("counting") { (s, d) =>
      builds.incrementAndGet()
      Thread.sleep(200)
      s.range(3).toDF(d)
    }
    val start = new CountDownLatch(1)
    val threads = (1 to 2).map(_ =>
      new Thread(() => { start.await(); a.get(spark, "id"); () }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    assert(builds.get == 1)

    // keys are per session: releasing one session keeps the other's
    val other = spark.newSession()
    a.get(other, "id")
    assert(builds.get == 2)
    a.release(other)
    a.get(spark, "id")
    assert(builds.get == 2)
    a.get(other, "id")
    assert(builds.get == 3)
    Resources.releaseAll()
  }
}
