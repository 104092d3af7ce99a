package graft.streaming

import graft.TestSpark
import graft.registry.SchemaRegistry
import graft.sinks.{ManifestCatalog, TableRouter}
import graft.sources.mqtt.{InMemoryBroker, MqttSource}
import java.io.File
import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The ingest path's per-batch job graph, counted rather than timed so
  * host load cannot make it flaky. One mixed micro-batch (valid,
  * poison and string-valued messages) costs at most four Spark jobs —
  * the count, the rejected write, one routed append per value type —
  * runs no shuffle, and writes at most min(input partitions, task slots)
  * files into each routed table. */
class IngestJobGraphSpec extends AnyFunSuite {
  import IngestJobGraphSpec._

  test("one-connector batch: <= 4 jobs, no shuffle, one file per table") {
    val spark = TestSpark.spark
    val r = runOneBatch(spark, shards = 1)
    assert(r.batches == 1, s"expected one micro-batch, got $r")
    assert(r.jobs <= 4, s"jobs per batch: $r")
    assert(r.shuffleMapStages == 0, s"shuffle map stages: $r")
    assert(r.tables == 10, s"routed tables: $r")
    assert(r.maxFilesPerTable <=
      math.min(1, spark.sparkContext.defaultParallelism), s"files: $r")
    assert(r.routedRows == expectedValid(Messages) &&
      r.rejectedRows == Messages - expectedValid(Messages), s"rows: $r")
  }

  test("4-connector batch at local[2]: files per table <= 2 slots") {
    // a session of its own needs a JVM of its own
    val java = new File(System.getProperty("java.home"), "bin/java")
    val cmd = Seq(java.toString, "-Xmx1g", "-Dspark.ui.enabled=false") ++
      org.apache.spark.launcher.JavaModuleOptions
        .defaultModuleOptionArray().toSeq ++
      Seq("-cp", System.getProperty("java.class.path"),
        "graft.streaming.IngestJobGraphSpec")
    val proc = new ProcessBuilder(cmd: _*)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 0, s"child run failed: $out")
    val r = Result.parse(out.linesIterator.filter(_.startsWith("RESULT "))
      .toSeq.last)
    assert(r.batches == 1, s"expected one micro-batch, got $r")
    assert(r.jobs <= 4 && r.shuffleMapStages == 0, s"job graph: $r")
    assert(r.tables == 10, s"routed tables: $r")
    assert(r.maxFilesPerTable <= math.min(4, 2), s"files: $r")
    assert(r.routedRows == expectedValid(Messages) &&
      r.rejectedRows == Messages - expectedValid(Messages), s"rows: $r")
  }
}

object IngestJobGraphSpec {
  val Messages = 1100
  private val Filters = Seq("/c0/#", "/c1/#", "/c2/#", "c/#")

  final case class Result(batches: Int, jobs: Int, shuffleMapStages: Int,
      tables: Int, maxFilesPerTable: Int, routedRows: Long,
      rejectedRows: Long) {
    def line: String = s"RESULT $batches $jobs $shuffleMapStages $tables " +
      s"$maxFilesPerTable $routedRows $rejectedRows"
  }
  object Result {
    def parse(line: String): Result = {
      val f = line.stripPrefix("RESULT ").trim.split(" ")
      Result(f(0).toInt, f(1).toInt, f(2).toInt, f(3).toInt, f(4).toInt,
        f(5).toLong, f(6).toLong)
    }
  }

  /** Message i: 1 in 11 lacks `value`, 1 in 11 has an invalid topic,
    * 1 in 11 is string-valued, the rest numeric; 5 sensors, so 10 routed
    * tables (`sN` and `str_sN`). */
  private def message(i: Int): (String, String) = {
    val sensor = s"s${i % 5}"
    val prefix = s"/c${i % 3}/d${i % 7}/out/sensors"
    (i % 11) match {
      case 9 => (s"$prefix/$sensor", s"""{"k":$i}""")
      case 10 => (s"c/bad/$sensor", s"""{"value":$i}""")
      case 7 => (s"$prefix/str_$sensor", s"""{"value":"v$i"}""")
      case _ => (s"$prefix/$sensor", s"""{"value":${i % 1000}.25}""")
    }
  }

  def expectedValid(n: Int): Long =
    (0 until n).count(i => i % 11 != 9 && i % 11 != 10).toLong

  /** Jobs started, and the shuffle map stages in their graphs (every
    * stage of a job but its result stage, skipped ones included). */
  private final class Counter extends SparkListener {
    @volatile var jobs = 0
    @volatile var shuffleMapStages = 0
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      shuffleMapStages += e.stageInfos.size - 1
    }
  }

  /** Publish [[Messages]] mixed messages, then run them through
    * `IngestPipeline.start` with `shards` connector sessions (one input
    * partition each) and count what the batch cost. */
  def runOneBatch(spark: SparkSession, shards: Int): Result = {
    val cid = s"graph-$shards-${System.nanoTime()}"
    val filters = if (shards == 1) Seq("#") else Filters.take(shards)
    MqttSource.shardIds(cid, shards).foreach(InMemoryBroker.reset)
    val source = IngestPipeline.mqttStream(spark, cid, filters, shards)
    (0 until Messages).foreach { i =>
      val (t, p) = message(i); InMemoryBroker.publish(t, p)
    }
    val wh = Files.createTempDirectory("graph-wh").toString
    val rej = Files.createTempDirectory("graph-rej").toString
    val catalog = new ManifestCatalog(spark, wh)
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain(sc)
    val counter = new Counter
    sc.addSparkListener(counter)
    val q = IngestPipeline.start(source,
      new TableRouter(new SchemaRegistry, catalog),
      Files.createTempDirectory("graph-ckpt").toString,
      rejectedDir = Some(rej))
    try {
      q.processAllAvailable()
      org.apache.spark.ListenerDrain(sc)
    } finally {
      q.stop()
      sc.removeSparkListener(counter)
    }
    val tables = catalog.listTables()
    Result(
      batches = q.recentProgress.count(_.numInputRows > 0),
      jobs = counter.jobs,
      shuffleMapStages = counter.shuffleMapStages,
      tables = tables.size,
      maxFilesPerTable = tables.map(catalog.fileCount).maxOption.getOrElse(0),
      routedRows = tables.map(t => catalog.read(t).count()).sum,
      rejectedRows = spark.read.parquet(rej).count())
  }

  /** The 4-connector run, in a `local[2]` session of its own. */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .appName("ingest-job-graph")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try println(runOneBatch(spark, shards = 4).line)
    finally spark.stop()
  }
}
