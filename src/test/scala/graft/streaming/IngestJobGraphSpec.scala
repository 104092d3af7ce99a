package graft.streaming

import graft.{GraftSession, TestSpark}
import graft.obs.QueryMetrics
import graft.registry.{ColumnDef, SchemaRegistry}
import graft.sinks.{ManifestCatalog, TableCatalog, TableRouter}
import graft.sources.mqtt.{InMemoryBroker, MqttSource}
import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** The ingest path's per-batch job graph, counted rather than timed so
  * host load cannot make it flaky. One mixed micro-batch (valid,
  * poison and string-valued messages) that creates its tables costs at
  * most two Spark jobs — the batch pass that counts and writes the
  * rejected rows, and one routed append for the new tables — runs no
  * shuffle, and writes at most min(input partitions, task slots) files
  * into each routed table. A batch into tables that exist already is
  * ONE job: the pass is the routed write's input. */
class IngestJobGraphSpec extends AnyFunSuite {
  import IngestJobGraphSpec._

  test("one-connector batch: <= 2 jobs, no shuffle, one file per table") {
    val spark = TestSpark.spark
    val r = runOneBatch(spark, shards = 1)
    assert(r.batches == 1, s"expected one micro-batch, got $r")
    assert(r.jobs <= 2, s"jobs per batch: $r")
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
    val cmd = Seq(java.toString, "-Xmx1g") ++
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
    assert(r.jobs <= 2 && r.shuffleMapStages == 0, s"job graph: $r")
    assert(r.tables == 10, s"routed tables: $r")
    assert(r.maxFilesPerTable <= math.min(4, 2), s"files: $r")
    assert(r.routedRows == expectedValid(Messages) &&
      r.rejectedRows == Messages - expectedValid(Messages), s"rows: $r")
  }

  test("steady-state batch into existing tables: exactly 1 job") {
    val r = runSteadyBatch(TestSpark.spark, forwardOnly = false)
    assertSteady(r)
  }

  test("steady-state batch via a forward-only catalog: exactly 1 job") {
    // a wrapper that forwards only TableCatalog's own methods (as a
    // timing or auditing wrapper does) keeps the one-job path
    val r = runSteadyBatch(TestSpark.spark, forwardOnly = true)
    assertSteady(r)
  }

  private def assertSteady(r: Result): Unit = {
    assert(r.batches == 1, s"expected one micro-batch, got $r")
    assert(r.jobs == 1 && r.shuffleMapStages == 0, s"job graph: $r")
    assert(r.tables == 10, s"routed tables: $r")
    assert(r.routedRows == expectedValid(2 * Messages) &&
      r.rejectedRows == 2 * Messages - expectedValid(2 * Messages),
      s"rows: $r")
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
    val metrics = QueryMetrics.install(spark.sparkContext)
    metrics.reset()
    val q = IngestPipeline.start(source,
      new TableRouter(new SchemaRegistry, catalog),
      Files.createTempDirectory("graph-ckpt").toString,
      rejectedDir = Some(rej))
    val counts = try {
      q.processAllAvailable()
      metrics.snapshot()
    } finally {
      q.stop()
      metrics.close()
    }
    val tables = catalog.listTables()
    Result(
      batches = q.recentProgress.count(_.numInputRows > 0),
      jobs = counts.jobs.toInt,
      shuffleMapStages = counts.shuffleMapStages.toInt,
      tables = tables.size,
      maxFilesPerTable = tables.map(catalog.fileCount).maxOption.getOrElse(0),
      routedRows = tables.map(t => catalog.read(t).count()).sum,
      rejectedRows = spark.read.parquet(rej).count())
  }

  /** A [[TableCatalog]] that forwards only the trait's methods. */
  final class Forwarding(inner: TableCatalog) extends TableCatalog {
    def listTables(): Seq[String] = inner.listTables()
    def describe(table: String): Seq[ColumnDef] = inner.describe(table)
    def createTable(table: String, cols: Seq[ColumnDef]): Unit =
      inner.createTable(table, cols)
    def appendRouted(df: DataFrame, tables: Seq[String]): Boolean =
      inner.appendRouted(df, tables)
    override def atomicRoutedWrite: Boolean = inner.atomicRoutedWrite
    override def batchCommitted(batchId: Long): Boolean =
      inner.batchCommitted(batchId)
    override def beginBatch(batchId: Long): Unit = inner.beginBatch(batchId)
    override def commitBatch(batchId: Long): Unit = inner.commitBatch(batchId)
  }

  /** Two micro-batches of [[Messages]] mixed messages each, through one
    * router, one query per batch: the first creates the 10 tables, the
    * second, counted, only appends to them. */
  def runSteadyBatch(spark: SparkSession, forwardOnly: Boolean): Result = {
    val cid = s"graph-steady-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    val wh = Files.createTempDirectory("graph-wh").toString
    val rej = Files.createTempDirectory("graph-rej").toString
    val ckpt = Files.createTempDirectory("graph-ckpt").toString
    val catalog = new ManifestCatalog(spark, wh)
    val router = new TableRouter(new SchemaRegistry,
      if (forwardOnly) new Forwarding(catalog) else catalog)
    val metrics = QueryMetrics.install(spark.sparkContext)
    def batch(from: Int): (StreamingQuery, QueryMetrics.Snapshot) = {
      val source = IngestPipeline.mqttStream(spark, cid, Seq("#"))
      (from until from + Messages).foreach { i =>
        val (t, p) = message(i); InMemoryBroker.publish(t, p)
      }
      metrics.reset()
      val q = IngestPipeline.start(source, router, ckpt,
        rejectedDir = Some(rej))
      try { q.processAllAvailable(); (q, metrics.snapshot()) }
      finally q.stop()
    }
    val (q, counts) = try { batch(0); batch(Messages) }
      finally metrics.close()
    val tables = catalog.listTables()
    Result(
      batches = q.recentProgress.count(_.numInputRows > 0),
      jobs = counts.jobs.toInt,
      shuffleMapStages = counts.shuffleMapStages.toInt,
      tables = tables.size,
      maxFilesPerTable = tables.map(catalog.fileCount).maxOption.getOrElse(0),
      routedRows = tables.map(t => catalog.read(t).count()).sum,
      rejectedRows = spark.read.parquet(rej).count())
  }

  /** The 4-connector run, in a `local[2]` session of its own. */
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(2).appName("ingest-job-graph").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try println(runOneBatch(spark, shards = 4).line)
    finally spark.stop()
  }
}
