package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Set-up accounting: `setup_s` runs from JVM start to the first measured
  * operation; named phases are reported as `setup.<phase>_s`. */
final class Setup(rep: Report) {
  private val jvmStart =
    ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  private var finished = false
  def phase[T](name: String)(body: => T): T = {
    Log(s"setup: $name")
    val t = Clock.nowMs()
    try body
    finally rep.metric(s"setup.${name}_s", (Clock.nowMs() - t) / 1000.0, "s")
  }
  def done(): Unit = if (!finished) {
    finished = true
    Log("setup done; measuring")
    rep.metric("setup_s", (Clock.nowMs() - jvmStart) / 1000.0, "s")
  }
}

/** Benchmark entry point: one workload, one JSON result line last.
  * {{{ perfbench.Main --workload <name> --seed <n> --seconds <s>
  *       --trace <0|1> --work <dir> --out <dir> --data <dir> }}} */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val rep = new Report
    val setup = new Setup(rep)
    val tracer = new Tracer(a.trace)
    val cpus = Env.cpus
    val jiffies0 = graft.Tuning.cpuJiffies()
    val load0 = Env.loadAvg()

    val spark = setup.phase("session") {
      Session.start(Env.slots, new File(a.work, "spark"))
    }
    val jl = if (a.trace) Some(new JobListener(tracer)) else None
    jl.foreach(spark.sparkContext.addSparkListener)
    if (a.trace) spark.listenerManager.register(new PlanPhases(tracer))

    try a.workload match {
      case "ingest_live" => IngestRun.live(a, spark, rep, tracer, jl, setup)
      case "ingest_backlog" =>
        IngestRun.backlog(a, spark, rep, tracer, jl, setup)
      case "queries_mix" => QueriesMix.run(a, spark, rep, tracer, jl, setup)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        rep.fail(s"workload aborted: $e")
    }
    rep.metric("jvm.peak_rss_mb", Env.peakRssMb(), "MB")
    rep.metric("retained_heap_mb", Env.retainedHeapMb(), "MB")
    Log("workload done")

    rep.note("workload", a.workload)
    rep.note("seed", a.seed)
    rep.note("nproc", cpus)
    rep.note("spark_slots", Env.slots)
    rep.note("steal_pct", graft.Tuning.stealPct(jiffies0,
      graft.Tuning.cpuJiffies()))
    rep.note("loadavg_start", load0)
    rep.note("loadavg_end", Env.loadAvg())
    rep.note("xmx_mb", Env.maxHeapMb())
    rep.note("trace", a.trace)

    if (a.trace) {
      org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
      tracer.write(new File(a.out, s"spans-${a.workload}-${a.seed}.jsonl"),
        Seq(rep.infoJson))
    }
    if (a.workload == "ingest_live" && a.trace) {
      spark.stop()
      IngestRun.local1Baseline(a, rep)
    } else spark.stop()
    Log("session stopped")

    println(rep.infoJson)
    println(rep.resultJson)
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is out
    System.exit(0)
  }

  /** Spark-runtime layer over the measured window [t0, t1). */
  def sparkLayer(rep: Report, jl: JobListener, t0: Double, t1: Double,
      gc0: Double): Unit = {
    val jobs = jl.jobsIn(t0, t1)
    rep.metric("spark.jobs", jobs.size.toDouble, "count")
    rep.metric("spark.tasks", jobs.map(_.tasks).sum.toDouble, "count")
    rep.metric("spark.task_ms", Stats.sum(jobs.map(_.taskMs)), "ms")
    rep.metric("spark.gap_ms", jl.gapMs(t0, t1), "ms")
    rep.metric("spark.shuffle_write_mb",
      jobs.map(_.shuffleWrite).sum / 1048576.0, "MB")
    rep.metric("spark.input_mb", jobs.map(_.input).sum / 1048576.0, "MB")
    rep.metric("spark.spill_mb", jobs.map(_.spill).sum / 1048576.0, "MB")
    rep.metric("jvm.gc_ms", Env.gcMs() - gc0, "ms")
  }
}

/** Catalyst phase spans (analysis, optimization, planning) of every
  * executed plan, from the query execution's own phase tracker. */
final class PlanPhases(tracer: Tracer) extends QueryExecutionListener {
  override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      tracer.record(Span(s"plan.$phase", "plan", "", "",
        s.startTimeMs.toDouble, s.endTimeMs.toDouble, 2))
    }
  override def onFailure(fn: String, qe: QueryExecution,
      e: Exception): Unit = ()
}
