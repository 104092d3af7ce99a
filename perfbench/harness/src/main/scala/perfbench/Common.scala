package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Command line shared by every workload (see perfbench/README.md). */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: File, out: File, data: File,
    dump: Option[File] = None)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")), new File(need("out")),
      new File(need("data")), m.get("dump").map(new File(_)))
  }
}

/** The metrics one run reports: the last stdout line is their JSON. */
final class Report {
  private val metrics = scala.collection.mutable.LinkedHashMap
    .empty[String, (Double, String)]
  private val info = scala.collection.mutable.LinkedHashMap
    .empty[String, String]
  var attempted = 0L
  var failed = 0L
  val problems = scala.collection.mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  /** Free-form context (sample counts, environment); printed as its own
    * JSON line before the result line. */
  def note(name: String, value: Any): Unit = info(name) = Json.value(value)
  def fail(what: String): Unit = { failed += 1; problems += what }

  def metricsJson: String = metrics.map { case (k, (v, u)) =>
    s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
  }.mkString("{", ",", "}")
  def infoJson: String = (info.toSeq ++ Seq("problems" ->
    problems.take(20).map(Json.str).mkString("[", ",", "]")))
    .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
  def resultJson: String =
    s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":$metricsJson}"""
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  /** Ten significant digits: runs are compared on raw measured values. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).round(new java.math.MathContext(10))
      .stripTrailingZeros().toPlainString
  def value(v: Any): String = v match {
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}

object Stats {
  /** Nearest-rank percentile of unsorted samples (q in 0..100). */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.length - 1,
      math.max(0, math.ceil(q / 100.0 * s.length).toInt - 1)))
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
  /** Median that averages the two middle samples of an even count. */
  def midMedian(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else (s((s.length - 1) / 2) + s(s.length / 2)) / 2
  }
  def sum(xs: Iterable[Double]): Double = xs.foldLeft(0.0)(_ + _)
}

/** Process and machine readings recorded with every run. */
object Env {
  private def read(path: String): String =
    try new String(Files.readAllBytes(new File(path).toPath), UTF_8)
    catch { case _: java.io.IOException => "" }

  /** Peak resident set of this JVM so far, in MB (VmHWM). */
  def peakRssMb(): Double = status("VmHWM") / 1024.0
  private def status(key: String): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith(key + ":"))
      .map(_.replaceAll("[^0-9]", "").toDouble).getOrElse(Double.NaN)

  def loadAvg(): Double =
    read("/proc/loadavg").split("\\s+").headOption
      .flatMap(_.toDoubleOption).getOrElse(Double.NaN)

  /** Heap still in use after full collections: what the run keeps
    * resident once its transient garbage is gone. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    // Spark's ContextCleaner frees broadcast and shuffle state only after
    // a GC has cleared their references, so collect more than once
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def maxHeapMb(): Double = Runtime.getRuntime.maxMemory() / 1048576.0

  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.toDouble).sum
  }

  def cpus: Int = Runtime.getRuntime.availableProcessors()

  /** Spark task slots: half the cores. The driver thread, GC, the JIT,
    * the generator process and the point reader need the rest; at
    * local[nproc] they queue behind the tasks and every batch and query
    * is slower and far less steady from run to run. */
  def slots: Int = math.max(1, cpus / 2)
}

object Session {
  /** The engine's bench session conf (graft.Bench), at local[slots]. */
  def start(slots: Int, localDir: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.getAbsolutePath)
      .config("spark.sql.warehouse.dir",
        new File(localDir, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(localDir, "checkpoints").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean
    .getStartTime.toDouble
  /** Progress line on stderr, stamped with seconds since JVM start. */
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - t0) / 1000}%7.2fs] $msg")
}

object Clock {
  /** Wall clock in epoch milliseconds with sub-ms digits, derived from
    * the monotonic clock so that spans and Spark's epoch-ms event times
    * share one axis. */
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs(): Double = (System.nanoTime() + offsetNs) / 1e6
  def ms(ns: Long): Double = (ns + offsetNs) / 1e6
}
