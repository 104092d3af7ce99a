package graft.sinks

import graft.TestSpark
import graft.ingest.Ingest
import graft.registry.{ColumnDef, SchemaRegistry}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** W2/W4/W5 routing semantics (/root/reference/db/db.go:147-205): auto-DDL
  * on first sight, positional validation afterwards, typed per-table
  * appends, schema-mismatch rejection instead of pipeline death. */
class TableRouterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRouter() = {
    val root = Files.createTempDirectory("graft-wh").toString
    val catalog = new ManifestCatalog(spark, root)
    val registry = new SchemaRegistry
    (new TableRouter(registry, catalog), registry, catalog)
  }

  private def batchOf(rows: (String, String)*) =
    Ingest.records(rows.toDF("topic", "payload"))

  test("routes two sensors to typed tables with golden schema") {
    val (router, registry, catalog) = freshRouter()
    val stats = router.routeBatch(batchOf(
      ("/c1/d1/out/sensors/temp_out", """{"value":27.8}"""),
      ("/c1/d2/out/sensors/temp_out", """{"value":12.5}"""),
      ("/c1/d1/out/sensors/door", """{"value":"open"}""")))
    assert(stats.appended == Map("temp_out" -> 2L, "door" -> 1L))
    assert(stats.rejectedSchema.isEmpty)

    val temp = catalog.read("temp_out")
    assert(temp.schema == StructType(Seq(
      StructField("client", StringType), StructField("device", StringType),
      StructField("value", DoubleType))))
    assert(temp.count() == 2)
    assert(catalog.read("door").schema.fields.last.dataType == StringType)
    assert(registry.tableNames == Seq("door", "temp_out"))
  }

  test("schema mismatch on later batch is rejected, not fatal") {
    val (router, _, catalog) = freshRouter()
    router.routeBatch(batchOf(
      ("/c1/d1/out/sensors/hum", """{"value":0.5}""")))
    val stats = router.routeBatch(batchOf(
      ("/c1/d1/out/sensors/hum", """{"value":"wet"}"""),
      ("/c1/d2/out/sensors/hum", """{"value":0.7}""")))
    assert(stats.appended == Map("hum" -> 1L))
    assert(stats.rejectedSchema == Map("hum" -> 1L))
    assert(catalog.read("hum").count() == 2)
  }

  test("mixed types for a brand-new table: majority type wins, rest rejected") {
    val (router, registry, _) = freshRouter()
    val stats = router.routeBatch(batchOf(
      ("/c/d/out/sensors/mix", """{"value":1.0}"""),
      ("/c/d/out/sensors/mix", """{"value":2.0}"""),
      ("/c/d/out/sensors/mix", """{"value":"x"}""")))
    assert(registry.get("mix").get.last.chType == "Float64")
    assert(stats.appended == Map("mix" -> 2L))
    assert(stats.rejectedSchema == Map("mix" -> 1L))
  }

  test("compaction collapses per-batch files; data unchanged") {
    val (router, _, catalog) = freshRouter()
    // 5 micro-batches → ≥5 files
    (1 to 5).foreach { i =>
      router.routeBatch(batchOf(
        (s"/c/d$i/out/sensors/compactme", s"""{"value":$i.0}""")))
    }
    assert(catalog.fileCount("compactme") >= 5)
    val before = catalog.read("compactme").collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    catalog.compact("compactme", targetFiles = 1)
    assert(catalog.fileCount("compactme") == 1)
    val after = catalog.read("compactme").collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    assert(after == before)
  }

  test("many tables in one batch: parallel appends all land") {
    val (router, _, catalog) = freshRouter()
    val msgs = (1 to 12).map(i =>
      (s"/c/d/out/sensors/s$i", s"""{"value":$i.5}"""))
    val stats = router.routeBatch(batchOf(msgs: _*))
    assert(stats.appended.size == 12)
    (1 to 12).foreach { i =>
      assert(catalog.read(s"s$i").head().getAs[Double]("value") == i + 0.5)
    }
  }

  test("schema-mismatch rows reach the configured reject sink") {
    val root = Files.createTempDirectory("graft-wh").toString
    val catalog = new ManifestCatalog(spark, root)
    val collected = scala.collection.mutable.ArrayBuffer.empty[String]
    val router = new TableRouter(new SchemaRegistry, catalog,
      schemaRejectSink = Some(df =>
        collected ++= df.select("tableName").collect().map(_.getString(0))))
    router.routeBatch(batchOf(
      ("/c/d/out/sensors/mm", """{"value":1.0}""")))
    val stats = router.routeBatch(batchOf(
      ("/c/d/out/sensors/mm", """{"value":"oops"}""")))
    assert(stats.rejectedSchema == Map("mm" -> 1L))
    assert(collected.toSeq == Seq("mm"))
  }

  test("a mismatched slice of an existing table reaches only the sink") {
    val root = Files.createTempDirectory("graft-wh").toString
    val catalog = new ManifestCatalog(spark, root)
    val collected = scala.collection.mutable.ArrayBuffer.empty[String]
    val router = new TableRouter(new SchemaRegistry, catalog,
      schemaRejectSink = Some(df =>
        collected ++= df.select("value_s").collect().map(_.getString(0))))
    router.routeBatch(batchOf(
      ("/c/d/out/sensors/mm", """{"value":1.0}""")), batchId = 0L)
    // `mm` exists: the batch pass routes its Float64 rows, and its
    // String rows are left to the sink
    val stats = router.routeBatch(batchOf(
      ("/c/d/out/sensors/mm", """{"value":2.0}"""),
      ("/c/d/out/sensors/mm", """{"value":"oops"}""")), batchId = 1L)
    assert(stats.appended == Map("mm" -> 1L))
    assert(stats.rejectedSchema == Map("mm" -> 1L))
    assert(collected.toSeq == Seq("oops"))
    assert(catalog.read("mm").collect().map(_.getAs[Double]("value"))
      .sorted.toSeq == Seq(1.0, 2.0))
    catalog.vacuum(retentionMs = 0L)
    val listed = catalog.snapshotAt(catalog.latestVersion())("mm").toSet
    assert(new java.io.File(root, "mm").list().toSet == listed)
  }

  test("a catalog that skips a table-less routed write still routes") {
    val root = Files.createTempDirectory("graft-wh").toString
    val inner = new ManifestCatalog(spark, root)
    // returns true for an empty table list without reading the frame
    val catalog = new TableCatalog {
      def listTables(): Seq[String] = inner.listTables()
      def describe(table: String): Seq[ColumnDef] = inner.describe(table)
      def createTable(table: String, cols: Seq[ColumnDef]): Unit =
        inner.createTable(table, cols)
      def append(table: String, df: DataFrame): Unit = inner.append(table, df)
      override def appendRouted(df: DataFrame, tables: Seq[String]): Boolean =
        tables.isEmpty || inner.appendRouted(df, tables)
      override def batchCommitted(batchId: Long): Boolean =
        inner.batchCommitted(batchId)
      override def beginBatch(batchId: Long): Unit = inner.beginBatch(batchId)
      override def commitBatch(batchId: Long): Unit =
        inner.commitBatch(batchId)
    }
    val router = new TableRouter(new SchemaRegistry, catalog)
    // no table is registered before the first batch
    val stats = router.routeBatch(batchOf(
      ("/c/d/out/sensors/t1", """{"value":1.0}""")), batchId = 0L)
    assert(stats.appended == Map("t1" -> 1L))
    assert(inner.batchCommitted(0L))
    assert(inner.read("t1").count() == 1L)
  }

  test("hostile or exotic table names rejected, never touch the catalog") {
    val root = Files.createTempDirectory("graft-wh").toString
    val catalog = new ManifestCatalog(spark, root)
    val collected = scala.collection.mutable.ArrayBuffer.empty[String]
    val router = new TableRouter(new SchemaRegistry, catalog,
      schemaRejectSink = Some(df =>
        collected ++= df.select("tableName").collect().map(_.getString(0))))
    val stats = router.routeBatch(batchOf(
      ("/c/d/out/sensors/..", """{"value":1.0}"""),      // path traversal
      ("/c/d/out/sensors/_hidden", """{"value":2.0}"""), // invisible to bootstrap
      ("/c/d/out/sensors/temp-1", """{"value":3.0}""")))  // hyphen: LEGAL
    assert(stats.appended == Map("temp-1" -> 1L))
    assert(stats.rejectedName.keySet == Set("..", "_hidden"))
    assert(collected.sorted == Seq("..", "_hidden"))
    assert(catalog.listTables() == Seq("temp-1"))
    // nothing escaped the warehouse root
    assert(!new java.io.File(root).getParentFile.listFiles()
      .exists(f => f.getName.endsWith(".parquet")))
  }

  test("partition-name decoding keeps '+' literal (direct appendRouted)") {
    // router policy rejects '+' names upstream; a direct catalog caller
    // must still get the literal name (URLDecoder would map '+'→' ')
    val root = Files.createTempDirectory("graft-wh").toString
    val catalog = new ManifestCatalog(spark, root)
    val df = spark.createDataFrame(Seq(
      ("a+b", "c1", "d1", "Float64", Option(4.5), Option.empty[String])))
      .toDF(TableCatalog.RoutedColumns: _*)
    assert(catalog.appendRouted(df, Seq("a+b")))
    assert(catalog.read("a+b").head().getAs[Double]("value") == 4.5)
    assert(catalog.listTables().contains("a+b"))
  }

  test("bootstrap seeds registry from existing warehouse (W1)") {
    val (router, _, catalog) = freshRouter()
    router.routeBatch(batchOf(
      ("/c/d/out/sensors/pres", """{"value":1013.0}""")))
    // a fresh router over the same physical catalog must discover pres
    val registry2 = new SchemaRegistry
    val router2 = new TableRouter(registry2, catalog)
    router2.bootstrap()
    assert(registry2.contains("pres"))
    assert(registry2.get("pres").get.map(_.chType) ==
      Seq("String", "String", "Float64"))
    // and validate-not-create on the next batch
    val stats = router2.routeBatch(batchOf(
      ("/c/d2/out/sensors/pres", """{"value":990.0}""")))
    assert(stats.appended == Map("pres" -> 1L))
    assert(catalog.read("pres").count() == 2)
  }
}
