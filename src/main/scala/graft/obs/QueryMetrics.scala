package graft.obs

import org.apache.spark.{ListenerDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** The engine's one job-accounting `SparkListener`: jobs, stages, tasks,
  * task time, task intervals, shuffle and input bytes of everything a
  * context runs between a [[reset]] and a [[snapshot]]. Both drain the
  * listener bus first, so a snapshot taken after an action returns holds
  * exactly that action's jobs, with no settle pause.
  *
  * {{{
  * val m = QueryMetrics.install(spark.sparkContext)
  * m.reset(); df.write.format("noop").mode("overwrite").save()
  * val s = m.snapshot()   // s.jobs, s.stages, s.coveredMs, ...
  * }}}
  */
final class QueryMetrics private (sc: SparkContext) extends SparkListener {
  private var jobs, shuffleMapStages, stages, tasks, taskMs = 0L
  private var shuffleWriteBytes, shuffleReadBytes, inputBytes = 0L
  // (launch, finish) wall clocks; comparable in a single-process local
  // context, where the driver and every executor share one clock
  private val intervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    // every stage in the job's graph but its result stage, skipped ones
    // included: the shuffles the plan asked for, not the ones it re-ran
    shuffleMapStages += e.stageInfos.size - 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += 1
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        inputBytes += m.inputMetrics.bytesRead
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.taskInfo != null) {
      taskMs += e.taskInfo.duration
      intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  /** Blocks until every event posted so far has reached this listener. */
  def drain(): Unit = ListenerDrain(sc)

  /** Drains, then zeroes every counter. */
  def reset(): Unit = {
    drain()
    synchronized {
      jobs = 0; shuffleMapStages = 0; stages = 0; tasks = 0; taskMs = 0
      shuffleWriteBytes = 0; shuffleReadBytes = 0; inputBytes = 0
      intervals.clear()
    }
  }

  /** Drains, then reads what accumulated since the last [[reset]]. */
  def snapshot(): QueryMetrics.Snapshot = {
    drain()
    synchronized {
      QueryMetrics.Snapshot(jobs, shuffleMapStages, stages, tasks, taskMs,
        QueryMetrics.coveredMs(intervals.toSeq), shuffleWriteBytes,
        shuffleReadBytes, inputBytes)
    }
  }

  /** Detaches from the context. */
  def close(): Unit = sc.removeSparkListener(this)
}

object QueryMetrics {
  /** Counts since a [[QueryMetrics.reset]]. `stages` are completed stages;
    * `shuffleMapStages` are counted from the job graphs at job start.
    * `coveredMs` is the wall time with at least one task running, so
    * `wall - coveredMs` is the driver-side gap: job submission, planning,
    * adaptive re-planning between stages, broadcast collection. */
  final case class Snapshot(jobs: Long, shuffleMapStages: Long, stages: Long,
      tasks: Long, taskMs: Long, coveredMs: Long, shuffleWriteBytes: Long,
      shuffleReadBytes: Long, inputBytes: Long)

  /** A listener registered on `sc`, counting from now. */
  def install(sc: SparkContext): QueryMetrics = {
    val m = new QueryMetrics(sc)
    sc.addSparkListener(m)
    m
  }

  /** Length of the union of `[start, end]` intervals. */
  def coveredMs(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }
}
