package graft.obs

import graft.{TestSpark, Tuning}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class QueryMetricsSpec extends AnyFunSuite {
  test("a drained snapshot holds exactly the action's jobs, stages and tasks") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    // Holds the shared listener queue 25 ms per task start, so the
    // action returns while its later events still wait in the queue: a
    // snapshot that did not drain would miss them.
    val lag = new SparkListener {
      override def onTaskStart(e: SparkListenerTaskStart): Unit = Thread.sleep(25)
    }
    sc.addSparkListener(lag)
    val m = QueryMetrics.install(sc)
    try Tuning.withConfs(spark, "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "3") {
      (1 to 3).foreach { round =>
        m.reset()
        spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count()
          .write.format("noop").mode("overwrite").save()
        val s = m.snapshot()
        // one job: a 4-task map stage, then a 3-task result stage
        assert((s.jobs, s.shuffleMapStages, s.stages, s.tasks) == (1, 1, 2, 7),
          s"round $round: $s")
        assert(s.shuffleWriteBytes > 0 && s.shuffleReadBytes > 0, s"round $round: $s")
        assert(s.coveredMs >= 0 && s.coveredMs <= s.taskMs, s"round $round: $s")
      }
    } finally { m.close(); sc.removeSparkListener(lag) }
  }

  test("coveredMs is the length of the union of the intervals") {
    assert(QueryMetrics.coveredMs(Nil) == 0)
    assert(QueryMetrics.coveredMs(Seq((20L, 25L), (0L, 10L))) == 15) // disjoint
    assert(QueryMetrics.coveredMs(Seq((0L, 10L), (5L, 15L))) == 15) // overlapping
    assert(QueryMetrics.coveredMs(Seq((0L, 20L), (5L, 10L))) == 20) // nested
    assert(QueryMetrics.coveredMs(Seq((0L, 10L), (10L, 20L))) == 20) // touching
    assert(QueryMetrics.coveredMs(
      Seq((30L, 40L), (0L, 20L), (5L, 10L), (15L, 35L), (50L, 51L))) == 41)
  }
}
