package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `key` groups the spans of one
  * micro-batch (`batch:<id>`) or one query (`query:<name>`); `parent` is
  * the enclosing span's name. Times are epoch ms on [[Clock]]'s axis. */
final case class Span(name: String, layer: String, key: String,
    parent: String, startMs: Double, endMs: Double, depth: Int)

/** In-memory span store, written out once at the end of a traced run.
  * With tracing off, [[record]] is a no-op and nothing is kept. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val selfRows = new ConcurrentLinkedQueue[String]()

  def record(s: Span): Unit = if (enabled) { spans.add(s); () }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)

  /** Split `root`'s wall time into layer self times: every instant goes
    * to the deepest span covering it, instants no span covers go to
    * `unattributed`. The parts sum to root's duration by construction;
    * each split is also written to the span file as a `self_of` row. */
  def selfTimes(root: Span, inside: Seq[Span]): Map[String, Double] = {
    val kids = inside.filter(s => s.endMs > root.startMs &&
      s.startMs < root.endMs && s.depth > root.depth)
    val cuts = (kids.flatMap(s => Seq(s.startMs, s.endMs)) ++
      Seq(root.startMs, root.endMs))
      .filter(t => t >= root.startMs && t <= root.endMs).distinct.sorted
    val out = mutable.LinkedHashMap.empty[String, Double]
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val mid = (a + b) / 2
        val owner = kids.filter(s => s.startMs <= mid && s.endMs > mid)
          .sortBy(s => (-s.depth, s.startMs)).headOption
        val layer = owner.map(_.layer).getOrElse("unattributed")
        out(layer) = out.getOrElse(layer, 0.0) + (b - a)
      case _ =>
    }
    val parts = out.toMap
    selfRows.add(s"""{"self_of":${Json.str(root.key)},"wall_ms":""" +
      s"""${Json.num(root.endMs - root.startMs)},"parts":${Json.value(parts)}}""")
    parts
  }

  def write(file: File, extra: Seq[String]): Unit = {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try {
      // spans recorded without key or parent (jobs, fetches, plan phases)
      // get the innermost enclosing span's
      val spansNow = all
      val roots = spansNow.filter(_.depth == 0)
      spansNow.map { s =>
        val key = if (s.key.nonEmpty) s.key else roots
          .find(r => r.startMs <= s.startMs && s.startMs < r.endMs)
          .map(_.key).getOrElse("")
        val parent = if (s.parent.nonEmpty || s.depth == 0) s.parent
          else spansNow.filter(p => p.depth < s.depth &&
              p.startMs <= s.startMs && s.startMs < p.endMs)
            .sortBy(-_.depth).headOption.map(_.name).getOrElse("")
        s.copy(key = key, parent = parent)
      }.foreach { s =>
        w.println(s"""{"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
          s""""key":${Json.str(s.key)},"parent":${Json.str(s.parent)},""" +
          s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)}}""")
      }
      selfRows.forEach(w.println(_))
      extra.foreach(w.println)
    } finally w.close()
  }
}

/** Spark job/stage/task accounting, with each job attributed to a layer
  * by the source file of its call site (`callSite.short`). A streaming
  * query stamps every job it runs with the call site of its own
  * `start()`, so jobs inside a micro-batch get their layer from the
  * harness spans around them instead (see IngestRun). */
final class JobListener(tracer: Tracer) extends SparkListener {
  final case class Job(id: Int, var layer: String, site: String,
      startMs: Double,
      var endMs: Double = Double.NaN, var tasks: Int = 0,
      var taskMs: Double = 0, var stages: Int = 0,
      var shuffleWrite: Long = 0, var input: Long = 0,
      var output: Long = 0, var spill: Long = 0)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  /** Task run intervals (epoch ms), for the scheduling-gap measure. */
  private val taskIv = mutable.ArrayBuffer.empty[(Double, Double)]

  def layerOf(site: String): String = {
    val file = "at ([A-Za-z0-9_$]+\\.scala)".r.findFirstMatchIn(site)
      .map(_.group(1)).getOrElse("")
    file match {
      case "Ingest.scala" | "IngestPipeline.scala" => "ingest"
      case "TableRouter.scala" => "sinks.route"
      case "ManifestCatalog.scala" | "TableCatalog.scala" => "sinks.append"
      case "IngestRun.scala" => "sinks.read"
      case "QueriesMix.scala" => "exec"
      case "" => "unknown"
      case _ => "query"
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage's name is the call site Spark derived from the
    // submitting thread's stack when no call site was set explicitly
    val site = Option(e.properties).flatMap(p =>
      Option(p.getProperty("callSite.short"))).getOrElse(
        e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
    jobs(e.jobId) = Job(e.jobId, layerOf(site), site, e.time.toDouble)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    taskIv += ((info.launchTime.toDouble, info.finishTime.toDouble))
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      j.taskMs += info.duration.toDouble
      Option(e.taskMetrics).foreach { m =>
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Record a span per finished job, after layers are final. */
  def recordSpans(js: Seq[Job]): Unit = js.filter(!_.endMs.isNaN).foreach { j =>
    tracer.record(Span(s"job ${j.id}: ${j.site}", s"job.${j.layer}", "", "",
      j.startMs, j.endMs, JobListener.Depth))
  }

  /** Jobs that started inside [from, to). */
  def jobsIn(from: Double, to: Double): Seq[Job] = synchronized {
    jobs.values.filter(j => j.startMs >= from && j.startMs < to).toSeq
  }
  /** Wall time in [from, to) that no task covers. */
  def gapMs(from: Double, to: Double): Double = synchronized {
    val iv = taskIv.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    (to - from) - covered
  }
}

object JobListener {
  val Depth = 9
}
