package graft.sinks

import graft.TestSpark
import graft.ingest.Ingest
import graft.obs.QueryMetrics
import graft.registry.SchemaRegistry
import java.lang.reflect.{InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, Statement}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.concurrent.TrieMap

/** Derby connections that count, per database URL, the statements that
  * create the batch-marker table. */
object MarkerCreates {
  val counts = TrieMap.empty[String, AtomicInteger]

  private def proxy[T](iface: Class[T])(
      f: (Method, Array[AnyRef]) => AnyRef): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(iface),
      (_: AnyRef, m: Method, a: Array[AnyRef]) => f(m, a)).asInstanceOf[T]

  private def call(real: AnyRef, m: Method, a: Array[AnyRef]): AnyRef =
    try m.invoke(real, (if (a == null) Array.empty[AnyRef] else a): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  def connect(url: String): Connection = {
    val n = counts.getOrElseUpdate(url, new AtomicInteger)
    val c = DriverManager.getConnection(url)
    proxy(classOf[Connection]) { (m, a) =>
      val out = call(c, m, a)
      if (m.getName != "createStatement") out
      else proxy(classOf[Statement]) { (sm, sa) =>
        if (sm.getName.startsWith("execute") && sa != null &&
            sa(0).toString.startsWith("CREATE TABLE") &&
            sa(0).toString.contains(JdbcCatalog.BatchTable))
          n.incrementAndGet()
        call(out, sm, sa)
      }
    }
  }
}

/** The router against a REAL SQL database (embedded Derby, the only one
  * shipping with Spark): metadata bootstrap, auto-DDL, executor-side
  * batched INSERTs — the reference's ClickHouse path end-to-end minus the
  * wire protocol. */
class JdbcCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDb(): (JdbcCatalog, String) = {
    val db = s"memory:graft${System.nanoTime()}"
    val url = s"jdbc:derby:$db;create=true"
    DriverManager.getConnection(url).close() // create
    val factory: () => java.sql.Connection = {
      val u = s"jdbc:derby:$db" // serializable closure over the URL only
      () => DriverManager.getConnection(u)
    }
    (new JdbcCatalog(factory, DerbyDialect), s"jdbc:derby:$db")
  }

  private def batchOf(rows: (String, String)*) =
    Ingest.records(rows.toDF("topic", "payload"))

  test("route → auto-DDL → batched insert → query back over JDBC") {
    val (catalog, url) = freshDb()
    val router = new graft.sinks.TableRouter(new SchemaRegistry, catalog)
    val stats = router.routeBatch(batchOf(
      ("/c1/d1/out/sensors/temp_out", """{"value":27.8}"""),
      ("/c1/d2/out/sensors/temp_out", """{"value":12.5}"""),
      ("/c1/d1/out/sensors/door", """{"value":"open"}""")))
    assert(stats.appended == Map("temp_out" -> 2L, "door" -> 1L))

    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        """SELECT "client", "device", "value" FROM "temp_out" ORDER BY "value"""")
      assert(rs.next()); assert(rs.getString(1) == "c1")
      assert(rs.getString(2) == "d2"); assert(rs.getDouble(3) == 12.5)
      assert(rs.next()); assert(rs.getDouble(3) == 27.8)
      assert(!rs.next())
      val rs2 = c.createStatement().executeQuery(
        """SELECT "value" FROM "door"""")
      assert(rs2.next()); assert(rs2.getString(1) == "open")
    } finally c.close()
  }

  test("bootstrap discovers JDBC tables via metadata (W1, fixed DESCRIBE)") {
    val (catalog, _) = freshDb()
    val router = new TableRouter(new SchemaRegistry, catalog)
    router.routeBatch(batchOf(
      ("/c/d/out/sensors/pres", """{"value":1013.2}""")))

    val registry2 = new SchemaRegistry
    new TableRouter(registry2, catalog).bootstrap()
    assert(registry2.contains("pres"))
    assert(registry2.get("pres").get.map(_.chType) ==
      Seq("String", "String", "Float64"))
  }

  test("batch replay is skipped via the JDBC marker table (effectively-once)") {
    val (catalog, url) = freshDb()
    val router = new TableRouter(new SchemaRegistry, catalog)
    val batch = batchOf(("/c/d/out/sensors/once", """{"value":5.0}"""))
    assert(!catalog.batchCommitted(42))
    val first = router.routeBatch(batch, batchId = 42L)
    assert(first.appended == Map("once" -> 1L))
    assert(catalog.batchCommitted(42))
    // foreachBatch replay after restart: same batch id → no duplicate rows
    val replay = router.routeBatch(batch, batchId = 42L)
    assert(replay.appended.isEmpty)
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement()
        .executeQuery("""SELECT COUNT(*) FROM "once"""")
      rs.next(); assert(rs.getInt(1) == 1)
    } finally c.close()
    // the marker table is catalog-internal: not listed, not bootstrapped
    assert(catalog.listTables() == Seq("once"))
    val registry2 = new SchemaRegistry
    new TableRouter(registry2, catalog).bootstrap()
    assert(!registry2.contains(JdbcCatalog.BatchTable))
  }

  test("a failed side write appends no rows; the restart appends them once") {
    // JDBC appends are visible at once, so the batch's rejected rows
    // (written by its counting pass) must succeed before any append starts
    import graft.sources.mqtt.InMemoryBroker
    import graft.streaming.IngestPipeline
    val (catalog, url) = freshDb()
    val cid = s"jdbc-rej-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    InMemoryBroker.setSubscriptions(cid, Seq("#"))
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val rejDir = new java.io.File(
      java.nio.file.Files.createTempDirectory("rej").toFile, "rejected")
    java.nio.file.Files.write(rejDir.toPath, Array[Byte](1)) // not a dir
    def rows(): Int = if (!catalog.listTables().contains("side")) 0 else {
      val c = DriverManager.getConnection(url)
      try {
        val rs = c.createStatement()
          .executeQuery("""SELECT COUNT(*) FROM "side"""")
        rs.next(); rs.getInt(1)
      } finally c.close()
    }
    def newQuery() = {
      val source = IngestPipeline.mqttStream(spark, cid, Seq("#"))
      // restart: fresh registry from the catalog
      val router = new TableRouter(new SchemaRegistry, catalog)
      router.bootstrap()
      IngestPipeline.start(source, router, ckpt,
        rejectedDir = Some(rejDir.toString))
    }
    InMemoryBroker.publish("/c/d/out/sensors/side", """{"value":1.0}""")
    InMemoryBroker.publish("/c/d/out/sensors/side", """{"value":2.0}""")
    InMemoryBroker.publish("bad-topic", """{"value":3.0}""")

    val q1 = newQuery()
    try {
      val failed = try { q1.processAllAvailable(); false }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException =>
        true }
      assert(failed, "a failed rejected write must fail the query")
      assert(!catalog.batchCommitted(0L))
      assert(rows() == 0, "routed rows written before the rejected rows")
    } finally if (q1.isActive) q1.stop()

    // fix the rejected directory and restart from the checkpoint
    assert(rejDir.delete())
    val q2 = newQuery()
    try {
      q2.processAllAvailable()
      assert(catalog.batchCommitted(0L))
      assert(rows() == 2, "routed rows not exactly once")
      assert(spark.read.parquet(rejDir.toString).count() == 1)
    } finally q2.stop()
  }

  test("second batch appends without re-DDL; mismatch rejected") {
    val (catalog, url) = freshDb()
    val router = new TableRouter(new SchemaRegistry, catalog)
    router.routeBatch(batchOf(("/c/d/out/sensors/hum", """{"value":0.5}""")))
    val stats = router.routeBatch(batchOf(
      ("/c/d/out/sensors/hum", """{"value":0.6}"""),
      ("/c/d/out/sensors/hum", """{"value":"wet"}""")))
    assert(stats.appended == Map("hum" -> 1L))
    assert(stats.rejectedSchema == Map("hum" -> 1L))
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement()
        .executeQuery("""SELECT COUNT(*) FROM "hum"""")
      rs.next(); assert(rs.getInt(1) == 2)
    } finally c.close()
  }

  test("a bootstrapped table with other column names takes routed rows") {
    // W3 compares a table's columns by position only, so the INSERT must
    // bind by position too
    val (catalog, url) = freshDb()
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute(
      """CREATE TABLE "ext" ("a" VARCHAR(64), "b" VARCHAR(64), "c" DOUBLE)""")
    finally c.close()
    val router = new TableRouter(new SchemaRegistry, catalog)
    router.bootstrap()
    val stats = router.routeBatch(batchOf(
      ("/c1/d1/out/sensors/ext", """{"value":1.5}""")), batchId = 0L)
    assert(stats.appended == Map("ext" -> 1L))
    val c2 = DriverManager.getConnection(url)
    try {
      val rs = c2.createStatement()
        .executeQuery("""SELECT "a", "b", "c" FROM "ext"""")
      assert(rs.next()); assert(rs.getString(1) == "c1")
      assert(rs.getString(2) == "d1"); assert(rs.getDouble(3) == 1.5)
      assert(!rs.next())
    } finally c2.close()
  }

  test("the marker table is created once per catalog, not per batch") {
    val (_, url) = freshDb()
    val catalog = new JdbcCatalog(() => MarkerCreates.connect(url),
      DerbyDialect)
    val router = new TableRouter(new SchemaRegistry, catalog)
    (0L until 3L).foreach { b =>
      router.routeBatch(batchOf(
        ("/c/d/out/sensors/mk", s"""{"value":$b.5}""")), batchId = b)
    }
    assert(catalog.batchCommitted(2L))
    assert(MarkerCreates.counts(url).get <= 1,
      s"marker CREATEs: ${MarkerCreates.counts(url).get}")
  }

  test("a batch into 20 tables runs 2 jobs, creating them or not") {
    // the batch pass, then one routed write for every table
    val (catalog, url) = freshDb()
    val router = new TableRouter(new SchemaRegistry, catalog)
    val metrics = QueryMetrics.install(spark.sparkContext)
    def jobs(batchId: Long): Long = {
      val batch = batchOf((0 until 200).map(i =>
        (s"/c/d${i % 7}/out/sensors/t${i % 20}", s"""{"value":$i.5}""")): _*)
      metrics.reset()
      val stats = router.routeBatch(batch, batchId)
      val n = metrics.snapshot().jobs
      assert(stats.appended == (0 until 20).map(t => s"t$t" -> 10L).toMap)
      n
    }
    try {
      assert(jobs(0L) == 2, "a batch that creates its tables")
      assert(jobs(1L) == 2, "a batch into existing tables")
    } finally metrics.close()
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement()
        .executeQuery("""SELECT COUNT(*) FROM "t7"""")
      rs.next(); assert(rs.getInt(1) == 20)
    } finally c.close()
  }
}
