package graft.examples

import graft.registry.SchemaRegistry
import graft.sinks.{TableCatalog, TableRouter}
import graft.sources.mqtt.InMemoryBroker
import graft.streaming.IngestPipeline
import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** Ingest-path throughput: N pre-published MQTT messages through
  * source → parse → route → warehouse, one JSON line out.
  *
  * The reference's write path is structurally serial — one goroutine, one
  * INSERT statement per message (/root/reference/main.go:95,
  * db/db.go:259-264) — and publishes no numbers (BASELINE.md). This
  * measures the engine's replacement: micro-batched, partition-parallel,
  * bulk-appended. The JSON line carries the Spark slot count and the
  * host steal over the drain (`Tuning.stealPct`), which bounds how far
  * two runs' throughput can be compared.
  *
  * {{{ STREAM_BENCH_N=200000 sbt "runMain graft.examples.StreamBench" }}}
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("STREAM_BENCH_N", "200000").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val cid = "streambench"
    // sharded source: each filter owns one connector session → one input
    // partition each, so the parse stage starts 4-wide at the scan
    val shards = 4
    val filters = Seq("/c0/#", "/c1/#", "/c2/#", "c/#")
    graft.sources.mqtt.MqttSource.shardIds(cid, shards)
      .foreach(InMemoryBroker.reset)
    graft.sources.mqtt.MqttSource.reconfigure(cid, filters, shards)

    // 20 sensors, mixed payload shapes incl. poison (~9%)
    var i = 0
    while (i < n) {
      val sensor = s"sensor${i % 20}"
      val (topic, payload) = (i % 11) match {
        case 9 => (s"/c${i % 3}/d${i % 7}/out/sensors/$sensor",
          s"""{"k":$i}""") // missing value → rejected
        case 10 => (s"c/bad/$sensor", s"""{"value":$i}""") // bad topic
        case 7 => (s"/c${i % 3}/d${i % 7}/out/sensors/str_$sensor",
          s"""{"value":"v$i"}""")
        case _ => (s"/c${i % 3}/d${i % 7}/out/sensors/$sensor",
          s"""{"timestamp":"2024-01-01T00:00:00Z","value":${i % 1000}.25}""")
      }
      InMemoryBroker.publish(topic, payload)
      i += 1
    }

    val wh = Files.createTempDirectory("sb-wh").toString
    val catalog = TableCatalog.default(spark, wh)
    val router = new TableRouter(new SchemaRegistry, catalog)
    val q = IngestPipeline.start(
      IngestPipeline.mqttStream(spark, cid, filters, connectors = shards),
      router, Files.createTempDirectory("sb-ckpt").toString,
      rejectedDir = Some(Files.createTempDirectory("sb-rej").toString))

    val jiffies0 = graft.Tuning.cpuJiffies()
    val t0 = System.nanoTime()
    q.processAllAvailable()
    val secs = (System.nanoTime() - t0) / 1e9
    val steal = graft.Tuning.stealPct(jiffies0, graft.Tuning.cpuJiffies())
    q.stop()

    val routed = catalog.listTables()
      .map(t => catalog.read(t).count()).sum
    println(s"""{"metric":"ingest_throughput","messages":$n,""" +
      s""""routed_rows":$routed,"seconds":${f"$secs%.2f"},""" +
      s""""msgs_per_sec":${(n / secs).toInt},"source_shards":$shards,""" +
      s""""cpus":$cpus,"steal_pct":$steal}""")
    spark.stop()
  }
}
