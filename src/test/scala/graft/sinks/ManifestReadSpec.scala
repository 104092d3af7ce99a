package graft.sinks

import java.io.File
import java.nio.file.Files

import graft.TestSpark
import graft.obs.QueryMetrics
import graft.registry.ColumnDef
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Reads plan from the manifest alone: building a read runs no Spark
  * job however many files the table has, and the frame has the schema
  * and rows `spark.read.parquet` gives over the same listed files. DDL
  * records a routed table's schema; a routed table without one (written
  * before DDL recorded schemas) still reads, in the footers' schema. */
class ManifestReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(): (String, ManifestCatalog) = {
    val root = Files.createTempDirectory("mread").toString
    (root, new ManifestCatalog(spark, root))
  }

  private def listed(root: String, cat: ManifestCatalog,
      table: String): Seq[String] =
    cat.snapshotAt(cat.latestVersion())(table).map(f => s"$root/$table/$f")

  private val routedCols = Seq(ColumnDef("client", "String"),
    ColumnDef("device", "String"), ColumnDef("value", "Float64"))

  /** A routed frame of `n` Float64 rows for `table`. */
  private def routed(table: String, n: Int): DataFrame =
    (0 until n).map(i => (table, s"c$i", s"d${i % 3}", "Float64",
      i * 0.5, null: String))
      .toDF(TableCatalog.RoutedColumns: _*)

  private def jobsOf[T](body: => T): (T, QueryMetrics.Snapshot) = {
    val m = QueryMetrics.install(spark.sparkContext)
    try {
      m.reset()
      val out = body
      (out, m.snapshot())
    } finally m.close()
  }

  private def sameRows(a: DataFrame, b: DataFrame): Unit =
    assert(a.collect().map(_.toString).sorted.toSeq ==
      b.collect().map(_.toString).sorted.toSeq)

  test("a read of more than 32 files runs no job until its action") {
    val (root, cat) = fresh()
    cat.append("t", spark.range(0, 400, 1, 40).toDF("k"))
    val files = listed(root, cat, "t")
    assert(files.size == 40)
    // the reader the index replaces lists this many paths in a job
    val (_, viaReader) = jobsOf(spark.read.parquet(files: _*))
    assert(viaReader.jobs >= 1, s"spark.read.parquet: $viaReader")
    val (df, built) = jobsOf(cat.read("t"))
    assert(built.jobs == 0, s"building the read: $built")
    val (n, counted) = jobsOf(df.filter(col("k") % 2 === 0).count())
    assert(n == 200L)
    // the count's own jobs (a partial and, under AQE, a final one), of
    // fewer tasks than there are files
    assert(counted.jobs <= 2 && counted.tasks < files.size,
      s"the count: $counted")
  }

  test("schema and rows equal spark.read.parquet over the listed files") {
    val (root, cat) = fresh()
    // routed: DDL, then the routed write, in one batch
    cat.beginBatch(0L)
    cat.createTable("r", routedCols)
    cat.appendRouted(routed("r", 20).repartition(2), Seq("r"))
    cat.commitBatch(0L)
    cat.append("a", Seq((1L, "x"), (2L, null)).toDF("k", "v"))
    cat.appendWithStats("s", spark.range(100).toDF("k")
      .withColumn("v", col("k") * 3), Seq("k"), Seq("v"))
    cat.append("e", Seq((1L, "x")).toDF("k", "v"))
    cat.append("e", Seq((2L, "y", 7.5)).toDF("k", "v", "w"))
    Seq("r" -> false, "a" -> false, "s" -> false, "e" -> true).foreach {
      case (t, evolved) =>
        val got = cat.read(t)
        // an evolved table's files disagree: only the merged footers
        // carry the added column
        val want = spark.read.option("mergeSchema", evolved)
          .parquet(listed(root, cat, t): _*)
        assert(got.schema == want.schema, s"table $t")
        sameRows(got, want.select(got.columns.map(col): _*))
    }
    assert(cat.read("e").columns.toSeq == Seq("k", "v", "w"))
  }

  test("a listed file missing from disk fails the read, naming it") {
    val (root, cat) = fresh()
    cat.append("t", spark.range(0, 10, 1, 2).toDF("k"))
    val gone = listed(root, cat, "t").head
    assert(new File(gone).delete())
    val e = intercept[java.io.FileNotFoundException](cat.read("t"))
    assert(e.getMessage.contains(new File(gone).getName), e.getMessage)
  }

  test("a routed table without a recorded schema reads by inference") {
    val (root, cat) = fresh()
    // a routed write with no DDL leaves no schema in the log, as routed
    // tables written before DDL recorded schemas have
    cat.appendRouted(routed("old", 12), Seq("old"))
    val want = spark.read.parquet(listed(root, cat, "old"): _*)
    assert(cat.read("old").schema == want.schema)
    sameRows(cat.read("old"), want)
    assert(cat.readPoint("old", "device", "d1").count() == 4L)
    assert(cat.describe("old") == routedCols)
  }

  test("DDL records the schema: an empty table reads, pinned") {
    val (_, cat) = fresh()
    cat.createTable("t", routedCols.init :+ ColumnDef("value", "String"))
    assert(cat.listTables() == Seq("t"))
    val df = cat.read("t")
    assert(df.columns.toSeq == Seq("client", "device", "value"))
    assert(df.count() == 0L)
    // IF NOT EXISTS: the same DDL again changes nothing
    val v = cat.latestVersion()
    cat.createTable("t", routedCols.init :+ ColumnDef("value", "String"))
    assert(cat.latestVersion() == v)
    // a table recorded under another schema fails the DDL
    val e = intercept[IllegalArgumentException](
      cat.createTable("t", routedCols))
    assert(e.getMessage.contains("table t exists"), e.getMessage)
  }

  test("concurrent divergent creates of one table: the second conflicts") {
    val (root, w1) = fresh()
    val w2 = new ManifestCatalog(spark, root)
    w1.beginBatch(0L)
    w2.beginBatch(0L)
    // both read a log without the table
    w1.createTable("t", routedCols)
    w2.createTable("t", routedCols.init :+ ColumnDef("value", "String"))
    w1.commitBatch(0L)
    intercept[java.util.ConcurrentModificationException](w2.commitBatch(1L))
    assert(w1.describe("t") == routedCols)
  }

  test("a point read keeps the rows of a full read's filter") {
    val (_, cat) = fresh()
    cat.createTable("r", routedCols)
    cat.appendRouted(routed("r", 30).repartition(3), Seq("r"))
    sameRows(cat.readPoint("r", "device", "d2"),
      cat.read("r").filter(col("device") === "d2"))
    assert(cat.readPoint("r", "device", "none").collect().isEmpty)
    assert(cat.readPoint("r", "value", "1").collect().toSeq ==
      Seq(Row("c2", "d2", 1.0)))
  }
}
