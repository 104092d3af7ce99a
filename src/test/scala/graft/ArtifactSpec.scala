package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** The artifact registry: warming an artifact pins storage, releasing it
  * unpins everything the warm pinned, [[Resources.releaseAll]] alone
  * releases every artifact, and a build runs once per key. On disk,
  * [[Artifact.publish]] serves only whole builds and builds each target
  * once. */
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

  /** A publish build that writes one data file and counts its runs. */
  private def writing(builds: AtomicInteger)(stage: String): Unit = {
    builds.incrementAndGet()
    Files.writeString(Paths.get(stage, "part-0"), "data")
    ()
  }

  private def fresh(): String =
    Files.createTempDirectory("publish-spec").resolve("a").toString

  test("publish: a failed build leaves nothing trusted; the next call " +
      "builds once") {
    val target = fresh()
    val builds = new AtomicInteger
    intercept[RuntimeException](Artifact.publish(target) { stage =>
      writing(builds)(stage)
      throw new RuntimeException("killed mid-build")
    })
    assert(!Files.exists(Paths.get(target)), "nothing published")
    assert(Files.list(Paths.get(target).getParent).count() == 0,
      "the staging directory is gone")
    Artifact.publish(target)(writing(builds))
    Artifact.publish(target)(writing(builds))
    assert(builds.get == 2, "one failed build, then exactly one more")
    assert(Files.readString(Paths.get(target, "part-0")) == "data")
  }

  test("publish: concurrent first calls publish one build and both " +
      "serve it") {
    val target = fresh()
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val both = new CountDownLatch(2)
    val served = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val threads = (1 to 2).map(_ => new Thread(() => {
      start.await()
      served.add(Artifact.publish(target) { stage =>
        writing(builds)(stage)
        // both builds are staged before either renames
        both.countDown()
        both.await()
      })
      ()
    }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    assert(builds.get == 2 && served.size == 2)
    assert(Files.readString(Paths.get(target, "part-0")) == "data")
    assert(Files.list(Paths.get(target).getParent).count() == 1,
      "the loser's staging directory is gone")
    Artifact.publish(target)(writing(builds))
    assert(builds.get == 2, "a published target is never rebuilt")
  }

  test("publish: an existing empty target is built into") {
    val target = Files.createTempDirectory("publish-empty").toString
    val builds = new AtomicInteger
    Artifact.publish(target)(writing(builds))
    Artifact.publish(target)(writing(builds))
    assert(builds.get == 1)
    assert(Files.readString(Paths.get(target, "part-0")) == "data")
  }

  test("publish: a non-empty target without the marker fails, naming it") {
    val target = Files.createTempDirectory("publish-foreign")
    Files.writeString(target.resolve("part-0"), "not ours")
    val builds = new AtomicInteger
    val e = intercept[IllegalStateException](
      Artifact.publish(target.toString)(writing(builds)))
    assert(e.getMessage.contains(target.toString))
    assert(builds.get == 0)
    assert(Files.readString(target.resolve("part-0")) == "not ours",
      "a directory publish did not create is never touched")
  }

  test("a stats table whose commit landed but whose build never " +
      "finished fails loudly instead of doubling its rows") {
    // a corpus of its own (orders only), so no other spec's build of
    // the sf0.001 tables sees this half-built directory
    val d = Files.createTempDirectory("half-built-corpus")
    Files.copy(Paths.get(sfDir, "orders.parquet"),
      d.resolve("orders.parquet"))
    // the commit the build makes, with no completion after it
    val dir = Artifact.dir(d.toString, "cow-zs")
    new graft.sinks.ManifestCatalog(spark, dir).appendWithStats(
      "orders_zoned", Tables.raw(spark, d.toString, "orders").selectExpr(
        "o_orderkey AS k", "o_custkey AS ck", "o_orderstatus AS st",
        "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS pc"),
      Seq("pc"))
    val e = intercept[IllegalStateException](
      graft.queries.Warehouse.ensureStatsTable(spark, d.toString))
    assert(e.getMessage.contains(dir))
  }
}
