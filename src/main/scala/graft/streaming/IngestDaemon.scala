package graft.streaming

import java.nio.file.{Files, Paths}

import graft.registry.SchemaRegistry
import graft.sinks.{ClickHouseDialect, JdbcCatalog, TableCatalog, TableRouter}
import graft.sources.mqtt.{MqttConnector, MqttConnectors, MqttSettings, TcpMqttConnector, TlsSettings}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** The deployable daemon — the reference's user-facing CLI surface
  * (main.go:39-46) as a `spark-submit`-able main: parse flags, connect
  * the MQTT client (TLS per client.go:56-99), long-poll Consul for the
  * topic map (config.go:72-96), bootstrap the DB catalog (db.go:25-47 +
  * LoadTables), and run the ingest pipeline until terminated.
  *
  * Flags (Go `flag` syntax: `-name value`, `-name=value`, or `--name`):
  *   -enableTLS   bool, default true   (main.go:39)
  *   -username / -password             (main.go:40-41)
  *   -broker      MQTT broker HOST     (main.go:42; scheme is derived —
  *                `ssl://` iff port 8883, client.go:92-98)
  *   -port        int, default 8883    (main.go:43)
  *   -consulHost  `host[:port]`        (main.go:44; port default 8500)
  *   -DBHost      JDBC url for the warehouse (main.go:45 — the
  *                reference's ClickHouse DSN; any JDBC url works here,
  *                the dialect stays ClickHouse unless tests inject)
  *  Engine-side extensions (no reference analog — a Spark deploy needs
  *  them): -clientId, -checkpointDir, -rejectedDir, -connectors
  *  (topic-filter shards), -pollMillis (config watch cadence),
  *  -dedupClusters (standing near-dup clusters over String records),
  *  -maxResidentRoots (driver-memory bound for that stage's root map —
  *  implies -dedupClusters; [[IncrementalClusters]] DRIVER-MEMORY
  *  BOUND), -clustersCheckpointDir (default `<checkpointDir>-clusters`),
  *  -tlsConfig (path to the reference-shaped JSON
  *  `{"caPath":…,"certPath":…,"keyPath":…}`, default
  *  `config/configTLS.json` — config.go:12-21).
  *
  * {{{
  * spark-submit --class graft.streaming.IngestDaemon graft.jar \
  *   -broker mqtt.example.com -port 8883 -username u -password p \
  *   -consulHost consul.example.com:8500 \
  *   -DBHost jdbc:clickhouse://ch.example.com:8123/default \
  *   -checkpointDir hdfs:///graft/ckpt
  * }}}
  *
  * Faithful-vs-fixed (SURVEY.md §4.3 discipline): TLS verification is ON
  * (the reference sets InsecureSkipVerify, client.go:65); a config-watch
  * error logs and keeps the previous subscriptions (the reference kills
  * the process, main.go:99-102); a poison message goes to the rejected
  * side output instead of silently killing the consumer goroutine
  * (main.go:21-31; opt into strict semantics via IngestPipeline's
  * `strictPoisonStop`). Graceful stop — the QuitChannel analog
  * (message/message.go:20) — is a JVM shutdown hook that stops the
  * watcher, the query, and the connector in order.
  *
  * [[assemble]] is the testable seam: `IngestDaemonSpec` drives it
  * end-to-end against a real-TCP in-process broker, an embedded Derby
  * warehouse, and a scripted-HTTP Consul backend — the full daemon wire
  * path minus the sandbox-blocked external endpoints.
  */
object IngestDaemon {

  final case class Config(
      enableTls: Boolean = true,
      username: Option[String] = None,
      password: Option[String] = None,
      broker: String = "",
      port: Int = 8883,
      consulHost: String = "",
      dbHost: String = "",
      tlsConfig: String = "config/configTLS.json",
      clientId: String = "graft-ingest",
      checkpointDir: String = "graft-daemon-ckpt",
      rejectedDir: Option[String] = None,
      connectors: Int = 1,
      pollMillis: Long = 1000L,
      dedupClusters: Boolean = false,
      maxResidentRoots: Int = Int.MaxValue,
      clustersCheckpointDir: Option[String] = None)

  /** Go-flag-style parser for the surface above. Unknown flags fail
    * loudly (the reference's flag package does too). */
  def parse(argv: Array[String]): Config = {
    var cfg = Config()
    var i = 0
    def next(flag: String): String = {
      i += 1
      if (i >= argv.length)
        throw new IllegalArgumentException(s"flag -$flag needs a value")
      argv(i)
    }
    while (i < argv.length) {
      val tok = argv(i).dropWhile(_ == '-')
      val (name, inline) = tok.indexOf('=') match {
        case -1 => (tok, None)
        case eq => (tok.take(eq), Some(tok.drop(eq + 1)))
      }
      def v: String = inline.getOrElse(next(name))
      name match {
        case "enableTLS" =>
          // bare `-enableTLS` means true (Go bool-flag rule); a value is
          // only consumed when given inline (`-enableTLS=false`)
          cfg = cfg.copy(enableTls = inline.forall(_.toBoolean))
        case "username" => cfg = cfg.copy(username = Some(v).filter(_.nonEmpty))
        case "password" => cfg = cfg.copy(password = Some(v).filter(_.nonEmpty))
        case "broker" => cfg = cfg.copy(broker = v)
        case "port" => cfg = cfg.copy(port = v.toInt)
        case "consulHost" => cfg = cfg.copy(consulHost = v)
        case "DBHost" => cfg = cfg.copy(dbHost = v)
        case "tlsConfig" => cfg = cfg.copy(tlsConfig = v)
        case "clientId" => cfg = cfg.copy(clientId = v)
        case "checkpointDir" => cfg = cfg.copy(checkpointDir = v)
        case "rejectedDir" => cfg = cfg.copy(rejectedDir = Some(v))
        case "connectors" => cfg = cfg.copy(connectors = v.toInt)
        case "pollMillis" => cfg = cfg.copy(pollMillis = v.toLong)
        case "dedupClusters" =>
          cfg = cfg.copy(dedupClusters = inline.forall(_.toBoolean))
        case "maxResidentRoots" =>
          // the cap only means something with the stage on — setting it
          // implies -dedupClusters, so a deploy can't ask for a bound
          // and silently get no dedup at all
          cfg = cfg.copy(maxResidentRoots = v.toInt, dedupClusters = true)
        case "clustersCheckpointDir" =>
          cfg = cfg.copy(clustersCheckpointDir = Some(v))
        case other =>
          throw new IllegalArgumentException(s"unknown flag -$other")
      }
      i += 1
    }
    cfg
  }

  /** The reference's TLS config file shape — flat
    * `{"caPath":…,"certPath":…,"keyPath":…}` (config.go:17-21). */
  def parseTlsFile(json: String): TlsSettings = {
    val m = ConfigBackend.parseTopicMap(json) // same flat string map
    TlsSettings(
      caCertPath = m.getOrElse("caPath", ""),
      clientCertPath = m.getOrElse("certPath", ""),
      clientKeyPath = m.getOrElse("keyPath", ""))
  }

  /** MQTT settings from the parsed flags — TLS paths are read only when
    * the flag asks AND the port selects the ssl scheme (main.go:57-66 +
    * client.go:92-98; with `-enableTLS=false` on port 8883 the reference
    * would dial TLS with an empty config — here that combination fails
    * fast at connect instead of silently skipping verification). */
  def mqttSettings(cfg: Config): MqttSettings = MqttSettings(
    host = cfg.broker,
    port = cfg.port,
    clientId = cfg.clientId,
    username = cfg.username,
    password = cfg.password,
    tls =
      if (cfg.enableTls && cfg.port == 8883)
        Some(parseTlsFile(Files.readString(Paths.get(cfg.tlsConfig))))
      else None)

  /** `host[:port]` → ConsulKvBackend (port default 8500, the consul
    * api client's default the reference inherits, config.go:58-61). */
  def consulBackend(consulHost: String): ConsulKvBackend =
    consulHost.split(':') match {
      case Array(h, p) => new ConsulKvBackend(h, p.toInt)
      case Array(h) => new ConsulKvBackend(h)
      case _ => throw new IllegalArgumentException(
        s"bad -consulHost '$consulHost'")
    }

  final case class Assembled(
      query: StreamingQuery,
      watcher: TopicConfigWatcher,
      /** Graceful stop — the QuitChannel analog: watcher first (no new
        * resubscribes), then the query (drains the current batch), then
        * whatever the caller owns (connector, catalog). */
      stop: () => Unit,
      /** Standing-cluster state when `-dedupClusters` is on — the
        * resident/spilled gauge a deploy (and the spec) reads. */
      clusters: Option[IncrementalClusters.State] = None)

  /** Wire config-watch + source + parse/route/reject + catalog into a
    * running pipeline. Every external endpoint is injected, so the full
    * daemon path is testable offline; [[main]] passes the real ones. */
  def assemble(spark: SparkSession, cfg: Config, connector: MqttConnector,
      connectorName: String, backend: ConfigBackend,
      catalog: TableCatalog): Assembled = {
    val router = new TableRouter(new SchemaRegistry, catalog)
    // startup topic read + standing watch (main.go:97-108's loop)
    val watcher = new TopicConfigWatcher(backend, cfg.clientId,
      cfg.pollMillis, connector, cfg.connectors).start()
    val filters = watcher.topics.values.toSeq.sorted
    val source = spark.readStream.format("mqtt")
      .option("connector", connectorName)
      .option("clientId", cfg.clientId)
      .option("connectors", cfg.connectors.toString)
      .option("topics", filters.mkString(","))
      .load()
    // optional standing near-dup clusters over String-typed records.
    // A fresh deploy starts from an EMPTY index (it grows one segment
    // per batch); the state restores from its own checkpoint dir. The
    // per-batch gauge line is the operational alarm the class doc asks
    // a capped deploy to watch: resident vs spilled tells an operator
    // whether -maxResidentRoots is sized right BEFORE the driver heap
    // does.
    val stage = if (!cfg.dedupClusters) None else {
      val ckpt = cfg.clustersCheckpointDir
        .getOrElse(cfg.checkpointDir.stripSuffix("/") + "-clusters")
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
      val idx = new IncrementalClusters.GrowingIndex(
        IncrementalDedup.buildIndex(empty))
      val state = new IncrementalClusters.State
      IncrementalClusters.initState(ckpt, state)
      Some((IngestPipeline.ClustersStage(idx, state, ckpt,
        cfg.maxResidentRoots, onUpdate = _ => {
          val m = state.metrics
          System.err.println(s"[graft-daemon] clusters " +
            s"resident=${m.residentRoots} spilled=${m.spillAppends} " +
            s"batch=${m.lastBatch} segments=${idx.segments}")
        }), idx))
    }
    val query = IngestPipeline.start(source, router, cfg.checkpointDir,
      rejectedDir = cfg.rejectedDir, clusters = stage.map(_._1))
    Assembled(query, watcher, () => {
      watcher.stop()
      query.stop()
      stage.foreach(_._2.release())
    }, clusters = stage.map(_._1.state))
  }

  def main(argv: Array[String]): Unit = {
    val cfg = parse(argv)
    require(cfg.broker.nonEmpty, "-broker is required (main.go:42)")
    require(cfg.consulHost.nonEmpty, "-consulHost is required (main.go:44)")
    require(cfg.dbHost.nonEmpty, "-DBHost is required (main.go:45)")

    val spark = graft.GraftSession.builder()
      .appName("graft-mqtt-ingest")
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()

    val connector = new TcpMqttConnector(mqttSettings(cfg)).connect()
    val connectorName = s"daemon:${cfg.clientId}"
    MqttConnectors.register(connectorName, connector)

    val dbUrl = cfg.dbHost
    val catalog = new JdbcCatalog(
      () => java.sql.DriverManager.getConnection(dbUrl), ClickHouseDialect)

    val a = assemble(spark, cfg, connector, connectorName,
      consulBackend(cfg.consulHost), catalog)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      a.stop()
      connector.close()
    }, "graft-daemon-shutdown"))
    a.query.awaitTermination()
  }
}
