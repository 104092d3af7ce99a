package perfbench

import java.io.File
import java.security.MessageDigest

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `queries_mix`: one closed-loop client running a fixed set of
  * LLM-data-pipeline queries through `SparkEntry.queries`. Set-up builds
  * the artifacts they read and runs one cold pass that also checks every
  * result against its golden row count and content hash
  * (perfbench/data/goldens.json), then one untimed warm pass. Then warm
  * passes, each query ending in the noop sink as in graft.Bench, run
  * until the time is up. Query order in every pass is a seeded
  * permutation. */
object QueriesMix {
  val Names: Seq[String] = Seq("q132_exact_jaccard_join",
    "q126_dsir_selection", "q100_bpe_encode", "q108_media_phash_neardup",
    "q89_hybrid_rrf", "q08_star_join_region_revenue",
    "q19_approx_quantiles", "q124_bloom_point_lookup")

  /** graft.Bench warm-up steps whose artifacts these queries read. */
  val Artifacts: Seq[String] = Seq("layout", "bloom")

  final case class Exec(name: String, pass: Int, startMs: Double,
      builtMs: Double, endMs: Double) {
    def ms: Double = endMs - startMs
  }

  def run(a: Args, spark: SparkSession, rep: Report, tr: Tracer,
      jl: Option[JobListener], setup: Setup): Unit = {
    val dir = a.data.getAbsolutePath
    val fns = graft.SparkEntry.queries
    val rnd = new scala.util.Random(a.seed)
    val execs = scala.collection.mutable.ArrayBuffer.empty[Exec]
    val passMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val codegen0 = Codegen.read()
    val gc0 = Env.gcMs()
    var c0 = Clock.nowMs()

    setup.phase("artifacts") {
      graft.Bench.warmupSteps.filter(s => Artifacts.contains(s._1))
        .foreach { case (_, step) => step(spark, dir) }
    }
    setup.phase("cold_pass") {
      c0 = Clock.nowMs()
      val golden = Goldens.load(new File(a.data.getParentFile, "goldens.json"))
      rnd.shuffle(Names).foreach { name =>
        rep.attempted += 1
        try {
          val s = Clock.nowMs()
          val df = fns(name)(spark, dir)
          val b = Clock.nowMs()
          val (rows, hash) = Goldens.digest(df)
          execs += Exec(name, 0, s, b, Clock.nowMs())
          a.dump.foreach(d =>
            df.write.mode("overwrite").parquet(new File(d, name).toString))
          golden.get(name) match {
            case Some((r, h)) if r == rows && h == hash =>
            case g => rep.fail(s"$name: rows=$rows hash=$hash golden=$g")
          }
        } catch { case NonFatal(e) => rep.fail(s"$name: $e") }
      }
      passMs += Clock.nowMs() - c0
    }
    /** One pass in seeded order; it stops before the first query that
      * would start at or after `until`. */
    def warmPass(pass: Int, until: Double = Double.MaxValue): Unit = {
      val p0 = Clock.nowMs()
      rnd.shuffle(Names).iterator.takeWhile(_ => Clock.nowMs() < until)
        .foreach { name =>
          rep.attempted += 1
          val s = Clock.nowMs()
          try {
            val df = fns(name)(spark, dir)
            val b = Clock.nowMs()
            df.write.format("noop").mode("overwrite").save()
            execs += Exec(name, pass, s, b, Clock.nowMs())
          } catch { case NonFatal(e) => rep.fail(s"$name: $e") }
        }
      passMs += Clock.nowMs() - p0
    }
    // the JIT is still compiling the query paths after the cold pass:
    // the first warm pass runs 20-40 % slower than the next
    setup.phase("warmup_pass")(warmPass(1))
    setup.done()
    a.dump.foreach { d =>
      val sql = graft.SparkEntry.oracleSql.filter(kv => Names.contains(kv._1))
      java.nio.file.Files.write(new File(d, "oracle_sql.json").toPath,
        Json.value(sql).getBytes("UTF-8"))
    }

    // one full pass, so that every query is measured, then queries until
    // the time is up
    val t0 = Clock.nowMs()
    val deadline = t0 + a.seconds * 1000.0
    warmPass(2)
    var pass = 3
    while (Clock.nowMs() < deadline) {
      warmPass(pass, deadline)
      pass += 1
    }
    val t1 = Clock.nowMs()
    val codegen1 = Codegen.read()

    // each query's latency is its median over the measured executions;
    // the mix's latency is their mean and its tail the slowest of them.
    // (A percentile over all executions falls between the times of two
    // different queries and jumps from one to the other between runs.)
    val warm = execs.filter(_.pass > 1)
    val perQuery = Names.map(n => n -> Stats.midMedian(
      warm.filter(_.name == n).map(_.ms))).toMap
    // whole passes only: the last one ran into the deadline
    val measuredPasses = passMs.slice(2, math.max(3, pass - 1))
    rep.metric("op_latency_ms", Stats.sum(perQuery.values) / Names.size, "ms")
    rep.metric("op_latency_tail_ms", perQuery.values.max, "ms")
    rep.note("queries_per_s", warm.size / ((t1 - t0) / 1000.0))
    rep.note("mix_cold_s", passMs.head / 1000.0)
    rep.note("mix_warm_s", Stats.median(measuredPasses) / 1000.0)
    rep.note("measured_passes", measuredPasses.size)
    rep.note("latency_samples", warm.size)
    rep.note("query_median_ms", perQuery)
    rep.note("warm_ms", Names.map(n => n ->
      execs.filter(e => e.pass > 0 && e.name == n).map(_.ms)).toMap)
    rep.note("per_query_cold_ms", execs.filter(_.pass == 0)
      .map(e => e.name -> e.ms).toMap)

    jl.foreach { l =>
      org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
      layers(rep, tr, l, execs.toSeq, c0, t1, passMs.head,
        Stats.median(measuredPasses),
        codegen0, codegen1, gc0)
    }
  }

  private def layers(rep: Report, tr: Tracer, jl: JobListener,
      execs: Seq[Exec], t0: Double, t1: Double, coldMs: Double,
      warmMs: Double, cg0: (Long, Long), cg1: (Long, Long),
      gc0: Double): Unit = {
    // spans per query execution: the query itself, frame construction
    // (QueryDef.fn, incl. eager jobs) and execution (noop write); jobs
    // come from the listener
    val key = (e: Exec) => s"query:${e.name}#${e.pass}"
    execs.foreach { e =>
      tr.record(Span(e.name, "query", key(e), "", e.startMs, e.endMs, 0))
      tr.record(Span("construct", "query.construct", key(e), e.name,
        e.startMs, e.builtMs, 1))
      tr.record(Span("exec", "query.exec", key(e), e.name,
        e.builtMs, e.endMs, 1))
    }
    val jobs = jl.jobsIn(t0, t1)
    // adaptive execution submits query stages from a Spark thread pool,
    // whose call site names no source file
    jobs.filter(_.layer == "unknown").foreach(_.layer = "query")
    jl.recordSpans(jobs)
    val all = tr.all
    val self = execs.map { e =>
      tr.selfTimes(Span(e.name, "query", key(e), "", e.startMs, e.endMs, 0),
        all)
    }
    val selfTot = self.flatMap(_.toSeq).groupBy(_._1)
      .map { case (k, v) => k -> Stats.sum(v.map(_._2)) / 1000.0 }
    val wall = Stats.sum(execs.map(_.ms)) / 1000.0
    rep.note("query_self_s", selfTot + ("wall" -> wall))
    rep.metric("query.construct_s",
      Stats.sum(execs.map(e => e.builtMs - e.startMs)) / 1000.0, "s")
    rep.metric("query.exec_s",
      Stats.sum(execs.map(e => e.endMs - e.builtMs)) / 1000.0, "s")
    rep.metric("query.plan_s", selfTot.getOrElse("plan", 0.0), "s")
    rep.metric("query.codegen_compiles", (cg1._1 - cg0._1).toDouble, "count")
    rep.metric("query.codegen_s", (cg1._2 - cg0._2) / 1e9, "s")
    rep.metric("query.gap_s", execs.map(e => jl.gapMs(e.startMs, e.endMs))
      .sum / 1000.0, "s")
    rep.metric("query.task_s", Stats.sum(jobs.map(_.taskMs)) / 1000.0, "s")
    rep.metric("query.jobs", jobs.size.toDouble, "count")
    rep.metric("query.stages", jobs.map(_.stages).sum.toDouble, "count")
    rep.metric("query.shuffle_write_mb",
      jobs.map(_.shuffleWrite).sum / 1048576.0, "MB")
    rep.metric("query.cold_pass_s", coldMs / 1000.0, "s")
    rep.metric("query.warm_pass_s", warmMs / 1000.0, "s")
    Main.sparkLayer(rep, jl, t0, t1, gc0)
  }
}

object Codegen {
  /** (classes compiled, whole-stage codegen compile ns) so far. */
  def read(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount,
    org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime)
}

object Goldens {
  def load(f: File): Map[String, (Long, String)] =
    if (!f.isFile) Map.empty
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      "\"([A-Za-z0-9_]+)\"\\s*:\\s*\\{\\s*\"rows\"\\s*:\\s*(\\d+)\\s*,\\s*\"hash\"\\s*:\\s*\"([0-9a-f]+)\"".r
        .findAllMatchIn(txt).map(m => m.group(1) -> ((m.group(2).toLong,
          m.group(3)))).toMap
    }

  /** Row count and an order-insensitive SHA-256 over the rows rendered
    * with columns in name order. */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect()
    val lines = rows.map(render).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().take(16).map("%02x".format(_)).mkString)
  }

  private def render(r: Row): String =
    (0 until r.length).map(i => show(r.get(i))).mkString("|")
  private def show(v: Any): String = v match {
    case null => "NULL"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => show(k) + ":" + show(x) }.sorted
        .mkString("{", ",", "}")
    case r: Row => render(r)
    case o => o.toString
  }
}
