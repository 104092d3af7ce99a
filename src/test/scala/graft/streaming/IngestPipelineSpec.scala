package graft.streaming

import graft.TestSpark
import graft.registry.SchemaRegistry
import graft.sinks.{TableCatalog, TableRouter}
import graft.sources.mqtt.InMemoryBroker
import java.nio.file.Files
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end: broker → MQTT source → F1–F5 parse → router → warehouse,
  * plus the poison-message and QoS-1-dedup behaviors the engine fixes
  * relative to the reference (SURVEY.md §4.3). */
class IngestPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def pipeline(cid: String, dedup: Option[String] = None) = {
    val wh = Files.createTempDirectory("wh").toString
    val rej = Files.createTempDirectory("rej").toString
    val catalog = TableCatalog.default(spark, wh)
    val router = new TableRouter(new SchemaRegistry, catalog)
    val q = IngestPipeline.start(
      IngestPipeline.mqttStream(spark, cid, Seq("#")),
      router,
      Files.createTempDirectory("ckpt").toString,
      rejectedDir = Some(rej),
      dedupWithinWatermark = dedup)
    (q, catalog, rej)
  }

  test("golden path: broker to typed warehouse tables") {
    val cid = s"pipe-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    val (q, catalog, _) = pipeline(cid)
    try {
      InMemoryBroker.publish("/balalaykajazz/plants1/out/sensors/temp_out",
        """{"timestamp":"2021-11-24T20:27:23Z","value":27.8}""")
      InMemoryBroker.publish("/balalaykajazz/plants1/out/sensors/door",
        """{"value":"open"}""")
      q.processAllAvailable()
      val temp = catalog.read("temp_out").collect()
      assert(temp.length == 1)
      val r = temp.head
      assert(r.getAs[String]("client") == "balalaykajazz")
      assert(r.getAs[String]("device") == "plants1")
      assert(r.getAs[Double]("value") == 27.8)
      assert(catalog.read("temp_out").schema("value").dataType == DoubleType)
      assert(catalog.read("door").head().getAs[String]("value") == "open")
    } finally q.stop()
  }

  test("wildcard filter set over TCP: +/# filters route, others drop") {
    // the reference's Consul topic map is a set of wildcard filters in
    // production MQTT deployments — this is that set, over the real
    // TCP wire path (MqttSourceSpec pins the matching rules in
    // isolation; here they gate a full pipeline)
    import graft.sources.mqtt.{MiniMqttBroker, MqttConnectors, MqttSettings, TcpMqttConnector}
    val broker = new MiniMqttBroker()
    val cid = s"pipe-wild-${System.nanoTime()}"
    val conn = new TcpMqttConnector(MqttSettings(
      host = "127.0.0.1", port = broker.port, clientId = cid,
      keepAliveSecs = 5, reconnectDelayMillis = 50L)).connect()
    val connectorName = s"pipe-wild-$cid"
    MqttConnectors.register(connectorName, conn)
    conn.setSubscriptions(cid, Seq("/+/+/out/sensors/#", "/alerts/#"))
    val wh = Files.createTempDirectory("wild-wh").toString
    val catalog = TableCatalog.default(spark, wh)
    val source = spark.readStream.format("mqtt")
      .option("connector", connectorName)
      .option("clientId", cid)
      .option("topics", "/+/+/out/sensors/#,/alerts/#")
      .load()
    val q = IngestPipeline.start(source,
      new TableRouter(new SchemaRegistry, catalog),
      Files.createTempDirectory("wild-ckpt").toString)
    // evaluate cond at most once per poll — cond has side effects here
    // (publish), so a trailing re-evaluation would double-send
    def await(cond: => Boolean): Boolean = {
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline) {
        if (cond) return true
        Thread.sleep(20)
      }
      cond
    }
    try {
      q.processAllAvailable()
      // + matches exactly one level; # matches the rest
      assert(await(broker.publish("/c1/d1/out/sensors/temp",
        """{"value":1.5}""") == 1))
      assert(await(broker.publish("/c2/d9/out/sensors/deep/nested/hum",
        """{"value":2.5}""") == 1))
      assert(await(broker.publish("/alerts/a/b/c/fire",
        """{"value":"ALARM"}""") == 1))
      // one + level cannot span two segments; non-matching root drops
      assert(broker.publish("/c1/d1/extra/out/sensors/temp",
        """{"value":9.9}""") == 0, "+ must not span levels")
      assert(broker.publish("/other/x/y/z/w", """{"value":9.9}""") == 0)
      assert(await(conn.latestSeq(cid) >= 3L))
      q.processAllAvailable()
      assert(catalog.read("temp").count() == 1)
      assert(catalog.read("hum").head().getAs[Double]("value") == 2.5)
      assert(catalog.read("fire").head().getAs[String]("value") == "ALARM")
    } finally {
      q.stop()
      conn.close()
      broker.close()
    }
  }

  test("poison message goes to rejected sink; query survives") {
    val cid = s"poison-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    val (q, catalog, rej) = pipeline(cid)
    try {
      InMemoryBroker.publish("bad-topic", """{"value":1}""")
      InMemoryBroker.publish("/c/d/out/sensors/ok", """{"value":true}""")
      q.processAllAvailable()
      // query still alive: a good message after the poison ones lands
      InMemoryBroker.publish("/c/d/out/sensors/ok", """{"value":5.0}""")
      q.processAllAvailable()
      assert(q.isActive)
      assert(catalog.read("ok").count() == 1)
      val reasons = spark.read.parquet(rej)
        .select("reason").collect().map(_.getString(0)).sorted
      assert(reasons.toSeq == Seq("invalid_topic", "unsupported_value_type"))
    } finally q.stop()
  }

  test("restart from checkpoint: no replay duplicates, ingestion continues") {
    val cid = s"restart-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    InMemoryBroker.setSubscriptions(cid, Seq("#"))
    val wh = Files.createTempDirectory("wh").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val catalog = TableCatalog.default(spark, wh)
    def newQuery() = IngestPipeline.start(
      IngestPipeline.mqttStream(spark, cid, Seq("#")),
      new TableRouter(new SchemaRegistry, catalog), ckpt)

    val q1 = newQuery()
    InMemoryBroker.publish("/c/d/out/sensors/r", """{"value":1.0}""")
    InMemoryBroker.publish("/c/d/out/sensors/r", """{"value":2.0}""")
    q1.processAllAvailable()
    q1.stop()

    InMemoryBroker.publish("/c/d/out/sensors/r", """{"value":3.0}""")
    val q2 = newQuery()
    try {
      q2.processAllAvailable()
      val vals = catalog.read("r").collect()
        .map(_.getAs[Double]("value")).sorted.toSeq
      assert(vals == Seq(1.0, 2.0, 3.0),
        s"expected exactly-once across restart, got $vals")
    } finally q2.stop()
  }

  test("a failed rejected write fails the batch before its commit") {
    // the rejected write runs beside the routed appends; the batch must
    // still commit only after it succeeded (crash point: side output)
    val cid = s"rejfail-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    InMemoryBroker.setSubscriptions(cid, Seq("#"))
    val wh = Files.createTempDirectory("wh").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val rejDir = new java.io.File(Files.createTempDirectory("rej").toFile,
      "rejected")
    Files.write(rejDir.toPath, Array[Byte](1)) // a file, not a directory
    def newQuery(router: TableRouter) = IngestPipeline.start(
      IngestPipeline.mqttStream(spark, cid, Seq("#")), router, ckpt,
      rejectedDir = Some(rejDir.toString))

    val catalog1 = TableCatalog.default(spark, wh)
    val router1 = new TableRouter(new SchemaRegistry, catalog1)
    // published before the start, so batch 0 holds all four messages: a
    // trigger between two publishes would commit a batch of valid rows
    InMemoryBroker.publish("/c/d/out/sensors/w", """{"value":1.0}""")
    InMemoryBroker.publish("/c/d/out/sensors/w", """{"value":2.0}""")
    InMemoryBroker.publish("/c/d/out/sensors/w", """{"k":3}""")
    InMemoryBroker.publish("bad-topic", """{"value":4.0}""")
    val q1 = newQuery(router1)
    try {
      val failed = try { q1.processAllAvailable(); false }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException =>
        true }
      assert(failed, "a failed rejected write must fail the query")
      assert(q1.exception.isDefined)
      assert(!router1.isCommitted(0L))
      assert(catalog1.listTables().isEmpty, "routed rows became visible")
    } finally if (q1.isActive) q1.stop()

    // fix the side output and restart from the checkpoint
    assert(rejDir.delete())
    val catalog2 = TableCatalog.default(spark, wh)
    val q2 = newQuery(new TableRouter(new SchemaRegistry, catalog2))
    try {
      q2.processAllAvailable()
      val vals = catalog2.read("w").collect()
        .map(_.getAs[Double]("value")).sorted.toSeq
      assert(vals == Seq(1.0, 2.0), s"warehouse rows not exactly once: $vals")
      val reasons = spark.read.parquet(rejDir.toString)
        .select("reason").collect().map(_.getString(0)).toSet
      assert(reasons == Set("invalid_topic", "missing_value"),
        s"rejected rows not at least once: $reasons")
    } finally q2.stop()
  }

  test("a failed routing step fails the batch after its rejected write") {
    // the counting pass writes the rejected rows before the router's
    // DDL and appends; a failure there fails the batch before its commit
    // (rejected rows at least once), and the restart routes it once
    val cid = s"ddlfail-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    InMemoryBroker.setSubscriptions(cid, Seq("#"))
    val wh = Files.createTempDirectory("wh").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val rej = Files.createTempDirectory("rej").toString
    val catalog = TableCatalog.default(spark, wh)
    val ddlFails = new TableCatalog {
      def listTables(): Seq[String] = catalog.listTables()
      def describe(table: String): Seq[graft.registry.ColumnDef] =
        catalog.describe(table)
      def createTable(table: String,
          cols: Seq[graft.registry.ColumnDef]): Unit =
        throw new IllegalStateException("ddl")
      def append(table: String, df: org.apache.spark.sql.DataFrame): Unit =
        catalog.append(table, df)
      override def appendRouted(df: org.apache.spark.sql.DataFrame,
          tables: Seq[String]): Boolean = catalog.appendRouted(df, tables)
      override def batchCommitted(batchId: Long): Boolean =
        catalog.batchCommitted(batchId)
      override def beginBatch(batchId: Long): Unit =
        catalog.beginBatch(batchId)
      override def commitBatch(batchId: Long): Unit =
        catalog.commitBatch(batchId)
    }
    def newQuery(c: TableCatalog) = {
      val source = IngestPipeline.mqttStream(spark, cid, Seq("#"))
      IngestPipeline.start(source, new TableRouter(new SchemaRegistry, c),
        ckpt, rejectedDir = Some(rej))
    }
    InMemoryBroker.publish("/c/d/out/sensors/x", """{"value":1.0}""")
    InMemoryBroker.publish("/c/d/out/sensors/x", """{"value":2.0}""")
    InMemoryBroker.publish("bad-topic", """{"value":3.0}""")
    def reasons() = spark.read.parquet(rej).select("reason").collect()
      .map(_.getString(0)).toSeq

    val q1 = newQuery(ddlFails)
    try {
      val failed = try { q1.processAllAvailable(); false }
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(_.getMessage == "ddl"), s"not the DDL failure: $e")
        true }
      assert(failed, "a failed DDL must fail the query")
      assert(!catalog.batchCommitted(0L))
      assert(catalog.listTables().isEmpty, "routed rows became visible")
      assert(reasons() == Seq("invalid_topic"), "rejected rows not written")
    } finally if (q1.isActive) q1.stop()

    val q2 = newQuery(catalog)
    try {
      q2.processAllAvailable()
      val vals = catalog.read("x").collect()
        .map(_.getAs[Double]("value")).sorted.toSeq
      assert(vals == Seq(1.0, 2.0), s"warehouse rows not exactly once: $vals")
      assert(reasons().toSet == Set("invalid_topic"),
        "rejected rows not at least once")
    } finally q2.stop()
  }

  test("committed batch replay is skipped (idempotent routeBatch)") {
    val wh = Files.createTempDirectory("wh").toString
    val catalog = TableCatalog.default(spark, wh)
    val router = new TableRouter(new SchemaRegistry, catalog)
    val batch = {
      import spark.implicits._
      graft.ingest.Ingest.records(Seq(
        ("/c/d/out/sensors/once", """{"value":5.0}"""))
        .toDF("topic", "payload"))
    }
    val first = router.routeBatch(batch, batchId = 7L)
    assert(first.appended == Map("once" -> 1L))
    val replay = router.routeBatch(batch, batchId = 7L)
    assert(replay.appended.isEmpty)
    assert(catalog.read("once").count() == 1)
  }

  test("strict-compat mode: poison message halts the query (reference X1)") {
    val cid = s"strict-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    InMemoryBroker.setSubscriptions(cid, Seq("#"))
    val wh = Files.createTempDirectory("wh").toString
    val router = new TableRouter(new SchemaRegistry,
      TableCatalog.default(spark, wh))
    val q = IngestPipeline.start(
      IngestPipeline.mqttStream(spark, cid, Seq("#")),
      router, Files.createTempDirectory("ckpt").toString,
      strictPoisonStop = true)
    try {
      InMemoryBroker.publish("/c/d/out/sensors/ok", """{"value":true}""")
      val failed = try { q.processAllAvailable(); false }
      catch { case _: Throwable => true }
      assert(failed, "query should die on poison in strict mode")
      assert(q.exception.isDefined)
      assert(q.exception.get.getMessage.contains("poison") ||
        q.exception.get.cause != null)
    } finally if (q.isActive) q.stop()
  }

  test("strict-compat mode: a poison batch commits nothing, creates no table") {
    val cid = s"strict0-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    InMemoryBroker.setSubscriptions(cid, Seq("#"))
    val catalog = TableCatalog.default(spark,
      Files.createTempDirectory("wh").toString)
    InMemoryBroker.publish("/c/d/out/sensors/ok", """{"value":1.0}""")
    InMemoryBroker.publish("/c/d/out/sensors/ok", """{"value":true}""")
    val q = IngestPipeline.start(
      IngestPipeline.mqttStream(spark, cid, Seq("#")),
      new TableRouter(new SchemaRegistry, catalog),
      Files.createTempDirectory("ckpt").toString, strictPoisonStop = true)
    try {
      val failed = try { q.processAllAvailable(); false }
      catch { case _: Throwable => true }
      assert(failed, "query should die on poison in strict mode")
      assert(!catalog.batchCommitted(0L))
      assert(catalog.listTables().isEmpty)
    } finally if (q.isActive) q.stop()
  }

  test("hostile table names through the pipeline touch no path") {
    val cid = s"hostile-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    InMemoryBroker.setSubscriptions(cid, Seq("#"))
    val parent = Files.createTempDirectory("hostile").toFile
    val wh = new java.io.File(parent, "wh")
    val catalog = TableCatalog.default(spark, wh.toString)
    val router = new TableRouter(new SchemaRegistry, catalog)
    val ckpt = Files.createTempDirectory("ckpt").toString
    val rej = Files.createTempDirectory("rej").toString
    def batch(values: Double*): Unit = {
      values.zipWithIndex.foreach { case (v, i) =>
        val name = Seq("ok", "..", "_hidden")(i % 3)
        InMemoryBroker.publish(s"/c/d/out/sensors/$name", s"""{"value":$v}""")
      }
      val q = IngestPipeline.start(
        IngestPipeline.mqttStream(spark, cid, Seq("#")), router, ckpt,
        rejectedDir = Some(rej))
      try q.processAllAvailable() finally q.stop()
    }
    batch(1.0, 2.0, 3.0)
    // `ok` exists now: this batch takes the one-job path
    batch(4.0, 5.0, 6.0)
    assert(parent.list().toSeq == Seq("wh"))
    assert(wh.list().toSet == Set("_manifest", "ok"))
    assert(catalog.listTables() == Seq("ok"))
    assert(catalog.read("ok").collect().map(_.getAs[Double]("value"))
      .sorted.toSeq == Seq(1.0, 4.0))
  }

  test("the cluster stage folds each valid String row once over two batches") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, xxhash64}
    import org.apache.spark.sql.types._
    val cid = s"clusters-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    InMemoryBroker.setSubscriptions(cid, Seq("#"))
    val catalog = TableCatalog.default(spark,
      Files.createTempDirectory("wh").toString)
    val router = new TableRouter(new SchemaRegistry, catalog)
    val ckpt = Files.createTempDirectory("ckpt").toString
    val stateDir = Files.createTempDirectory("clusters").toString
    val idx = new IncrementalClusters.GrowingIndex(IncrementalDedup.buildIndex(
      spark.createDataFrame(java.util.List.of[Row](), StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))))
    val state = new IncrementalClusters.State
    IncrementalClusters.initState(stateDir, state)
    val stage = IngestPipeline.ClustersStage(idx, state, stateDir)
    val fox = "the quick brown fox jumps over the lazy dog by the river bank"
    val batches = Seq(
      Seq("/c/a/out/sensors/note" -> s"""{"value":"$fox"}""",
        "/c/b/out/sensors/note" ->
          """{"value":"a wholly different sentence about rain in spain"}""",
        "/c/a/out/sensors/t" -> """{"value":1.5}""",
        "bad-topic" -> s"""{"value":"$fox"}"""),
      Seq("/c/z/out/sensors/note" -> s"""{"value":"$fox"}""",
        "/c/a/out/sensors/t" -> """{"value":2.5}"""))
    batches.foreach { msgs =>
      msgs.foreach { case (t, p) => InMemoryBroker.publish(t, p) }
      val q = IngestPipeline.start(
        IngestPipeline.mqttStream(spark, cid, Seq("#")), router, ckpt,
        clusters = Some(stage))
      try q.processAllAvailable() finally q.stop()
    }
    val docIds = {
      import spark.implicits._
      batches.flatten.filter(m => m._1.startsWith("/") &&
          m._2.contains("\"value\":\""))
        .toDF("topic", "payload")
        .select(xxhash64(col("topic"), col("payload")))
        .collect().map(_.getLong(0)).toSeq
    }
    try {
      assert(docIds.size == 3)
      val seen = idx.composite.sets.select("old_doc").collect()
        .map(_.getLong(0)).toSeq
      assert(seen.sorted == docIds.sorted, "each String row exactly once")
      val c = state.get
      assert(c.lastBatch == 1L)
      // the fox of batch 1 joins the fox of batch 0's cluster
      assert(c.label(docIds(0)) == c.label(docIds(2)))
      assert(c.label(docIds(1)) != c.label(docIds(0)))
    } finally idx.release()
  }

  test("QoS-1 redelivery collapsed by watermark dedup") {
    val cid = s"dedup-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    val (q, catalog, _) = pipeline(cid, dedup = Some("10 minutes"))
    try {
      // same message delivered twice (broker redelivery), plus a distinct one
      InMemoryBroker.publish("/c/d/out/sensors/temp", """{"value":7.5}""")
      InMemoryBroker.publish("/c/d/out/sensors/temp", """{"value":7.5}""")
      InMemoryBroker.publish("/c/d/out/sensors/temp", """{"value":8.0}""")
      q.processAllAvailable()
      assert(catalog.read("temp").count() == 2)
    } finally q.stop()
  }
}
