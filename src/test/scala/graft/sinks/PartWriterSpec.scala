package graft.sinks

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.{GraftSession, TestSpark}
import graft.ingest.Ingest
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, udf, when}
import org.scalatest.funsuite.AnyFunSuite

/** The sinks' in-task parquet writes ([[PartWriter]]): the catalog's
  * appends, the routed append and the rejected rows of the counting pass
  * write the files a DataFrame write would, refuse the schemas it
  * refuses, publish them only whole, and survive a session restart in
  * one JVM. */
class PartWriterSpec extends AnyFunSuite {
  import PartWriterSpec._
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def parquetFiles(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File]).toSeq
      .map(_.getName).filter(_.endsWith(".parquet")).sorted

  /** (schema, created-by, key-value metadata, codecs) of a file's footer. */
  private def footer(file: String) = {
    val in = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file),
      spark.sparkContext.hadoopConfiguration))
    try {
      val f = in.getFooter
      val meta = f.getFileMetaData
      (meta.getSchema, meta.getCreatedBy, meta.getKeyValueMetaData.asScala.toMap,
        f.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet)
    } finally in.close()
  }

  private def sameFooters(written: Seq[String], reference: String): Unit = {
    val ref = parquetFiles(reference)
    assert(written.nonEmpty && ref.nonEmpty)
    val expected = footer(s"$reference/${ref.head}")
    written.foreach(f => assert(footer(f) == expected, s"footer of $f"))
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("footer schema, codec and row metadata equal a df.write.parquet") {
    val routed = routedFrame(spark, Seq("t", "u"), 6)
    val root = tmp("pw-routed")
    val cat = new ManifestCatalog(spark, root)
    assert(cat.appendRouted(routed, Seq("t", "u")))
    Seq("t", "u").foreach { t =>
      val mine = routed.filter(col("tableName") === t)
      val expected = mine.select(col("client"), col("device"),
        (if (t == "t") col("value_d") else col("value_s")).as("value"))
      val ref = s"${tmp("pw-ref")}/$t"
      expected.write.parquet(ref)
      sameFooters(cat.snapshotAt(cat.latestVersion())(t)
        .map(f => s"$root/$t/$f"), ref)
      assert(rowsOf(cat.read(t)) == rowsOf(expected))
    }

    val parsed = Ingest.parse(messages.toDF("topic", "payload"))
    val rej = s"${tmp("pw-rej")}/rejected"
    val counts = TableRouter.countBatch(parsed, Some(rej))
    val expected = Ingest.rejectedOfParsed(parsed)
    val ref = s"${tmp("pw-ref")}/rejected"
    expected.write.parquet(ref)
    sameFooters(parquetFiles(rej).map(f => s"$rej/$f"), ref)
    assert(rowsOf(spark.read.parquet(rej)) == rowsOf(expected))
    assert(counts.invalid == expected.count())

    // a plain append and a stats append, over required and optional
    // columns: the footers carry the frame's nullability
    val plain = spark.range(0, 6, 1, 2).select(col("id").as("k"),
      when(col("id") % 2 === 0, col("id").cast("string")).as("v"))
    assert(!plain.schema("k").nullable && plain.schema("v").nullable)
    val ref2 = s"${tmp("pw-ref")}/plain"
    plain.write.parquet(ref2)
    cat.append("p", plain)
    cat.appendWithStats("w", plain, Seq("k"))
    Seq("p", "w").foreach { t =>
      sameFooters(cat.snapshotAt(cat.latestVersion())(t)
        .map(f => s"$root/$t/$f"), ref2)
      assert(rowsOf(cat.read(t)) == rowsOf(plain))
    }
  }

  test("an empty write leaves one file that carries the frame's schema") {
    val root = tmp("pw-empty")
    val cat = new ManifestCatalog(spark, root)
    def typed(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    def onlyFile(t: String): Unit = {
      assert(cat.fileCount(t) == 1, s"files of $t")
      cat.vacuum(retentionMs = 0L) // what a delete consumed
      assert(parquetFiles(s"$root/$t").size == 1, s"files in $t/")
      assert(typed(spark.read.parquet(s"$root/$t")) ==
        typed(cat.read(t)), s"schema of the file of $t")
    }
    // the first append of an empty frame of two partitions
    val empty = spark.range(0, 4, 1, 2)
      .select(col("id").as("k"), col("id").cast("string").as("v"))
      .filter(col("k") < 0)
    cat.append("e", empty)
    assert(typed(cat.read("e")) == typed(empty) && cat.read("e").count() == 0)
    onlyFile("e")
    // a delete that matches every row of two files
    cat.append("d", spark.range(1, 5, 1, 2)
      .select(col("id").as("k"), col("id").cast("string").as("v")))
    assert(cat.fileCount("d") == 2)
    cat.delete("d", col("k") > 0)
    assert(typed(cat.read("d")) == typed(empty) && cat.read("d").count() == 0)
    onlyFile("d")
    // an input of no partitions
    val none = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], empty.schema)
    assert(none.queryExecution.toRdd.getNumPartitions == 0)
    cat.append("z", none)
    assert(cat.read("z").count() == 0)
    onlyFile("z")
  }

  test("a schema a DataFrame write refuses is refused the same way") {
    val root = tmp("pw-refuse")
    val cat = new ManifestCatalog(spark, root)
    val ids = spark.range(2).select(col("id").as("k"))
    // parquet holds a void column, but no interval and no repeated name
    val frames = Seq(
      "void" -> ids.select(col("k"), lit(null).as("n")),
      "interval" -> ids.select(col("k"), expr("make_interval(1, 2)").as("i")),
      "dup" -> ids.select(col("k"), col("k")))
    val refused = frames.flatMap { case (t, df) =>
      val expected = scala.util.Try(df.write.parquet(s"${tmp("pw-ref")}/$t"))
      val got = scala.util.Try(cat.append(t, df))
      (expected.failed.toOption, got.failed.toOption) match {
        case (None, None) =>
          assert(rowsOf(cat.read(t)) == rowsOf(df))
          None
        case (Some(e: AnalysisException), Some(g: AnalysisException)) =>
          assert(g.getCondition == e.getCondition, g.getMessage)
          assert(Option(new File(root, t).list()).forall(_.isEmpty),
            s"files written for $t")
          Some(t)
        case other => fail(s"$t: DataFrame write and append differ: $other")
      }
    }
    assert(refused == Seq("interval", "dup"))
    assert(cat.listTables() == Seq("void"))
  }

  test("a failed routed task leaves no visible row; the replay commits once") {
    val root = tmp("pw-fail")
    val cat = new ManifestCatalog(spark, root)
    val boom = udf { (k: Long) =>
      if (k == 5L) throw new IllegalStateException("boom"); k
    }
    def frame(id: org.apache.spark.sql.Column) = spark.range(0, 8, 1, 4)
      .select(lit("t").as("tableName"), id.cast("string").as("client"),
        lit("d").as("device"), lit("Float64").as("value_type"),
        id.cast("double").as("value_d"), lit(null).cast("string").as("value_s"))
    cat.beginBatch(1L)
    intercept[Exception](cat.appendRouted(frame(boom(col("id"))), Seq("t")))
    assert(!cat.batchCommitted(1L))
    assert(cat.listTables().isEmpty, "a failed write made rows visible")
    // the replay of the batch
    cat.beginBatch(1L)
    assert(cat.appendRouted(frame(col("id")), Seq("t")))
    cat.commitBatch(1L)
    assert(cat.batchCommitted(1L))
    assert(cat.read("t").count() == 8)
    cat.vacuum(retentionMs = 0L) // the failed attempt's files
    assert(cat.read("t").count() == 8)
    assert(parquetFiles(s"$root/t").size == cat.fileCount("t"))
  }

  test("the rejected directory never lists a .part- file") {
    def hidden(dir: String): Seq[String] =
      Option(new File(dir).list()).getOrElse(Array.empty[String]).toSeq
        .filter(_.startsWith(".part-"))
    val rej = s"${tmp("pw-hidden")}/rejected"
    // a clean pass over four partitions
    val parsed = Ingest.parse(messages.toDF("topic", "payload").repartition(4))
    val counts = TableRouter.countBatch(parsed, Some(rej))
    assert(hidden(rej).isEmpty, s"left: ${hidden(rej)}")
    assert(spark.read.parquet(rej).count() == counts.invalid)
    // a task that fails after writing some of its rejected rows
    val boom = udf { (k: Long) =>
      if (k == 25L) throw new IllegalStateException("boom"); s"""{"k":$k}"""
    }
    val failing = Ingest.parse(spark.range(0, 40, 1, 1)
      .select(lit("bad-topic").as("topic"), boom(col("id")).as("payload")))
    intercept[Exception](TableRouter.countBatch(failing, Some(rej)))
    assert(hidden(rej).isEmpty, s"left: ${hidden(rej)}")
    assert(spark.read.parquet(rej).count() == counts.invalid)
  }

  test("stopping and restarting a session in one JVM still writes") {
    // a session of its own needs a JVM of its own
    val java = new File(System.getProperty("java.home"), "bin/java")
    val cmd = Seq(java.toString, "-Xmx1g") ++
      org.apache.spark.launcher.JavaModuleOptions
        .defaultModuleOptionArray().toSeq ++
      Seq("-cp", System.getProperty("java.class.path"),
        "graft.sinks.PartWriterSpec")
    val proc = new ProcessBuilder(cmd: _*)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 0, s"child run failed: $out")
    assert(out.linesIterator.contains("RESULT 2 sessions wrote"), out)
  }
}

object PartWriterSpec {
  /** Valid and invalid messages: 3 in 4 route, the rest are rejected
    * for each of the reasons. */
  val messages: Seq[(String, String)] = (0 until 40).map { i =>
    (i % 8) match {
      case 1 => ("bad-topic", s"""{"value":$i}""")
      case 3 => (s"/c/d$i/out/sensors/s", s"""{"k":$i}""")
      case 5 => (s"/c/d$i/out/sensors/s", s"""{"value":true}""")
      case 7 => (s"/c/d$i/out/sensors/str", s"""{"value":"v$i"}""")
      case _ => (s"/c/d$i/out/sensors/s", s"""{"value":$i.5}""")
    }
  }

  /** A routed frame over `tables`: the first Float64-valued, the rest
    * String-valued, `n` rows each, some with a null device. */
  def routedFrame(spark: SparkSession, tables: Seq[String],
      n: Int): DataFrame = {
    import spark.implicits._
    tables.zipWithIndex.flatMap { case (t, ti) =>
      (0 until n).map { i =>
        val device = if (i % 3 == 0) None else Some(s"d$i")
        if (ti == 0) (t, s"c$i", device, "Float64", Option(i + 0.5),
          Option.empty[String])
        else (t, s"c$i", device, "String", Option.empty[Double],
          Option(s"v$i"))
      }
    }.toDF(TableCatalog.RoutedColumns: _*).repartition(2)
  }

  /** Two sessions, one after the other, each writing a routed append and
    * rejected rows. */
  def main(args: Array[String]): Unit = {
    (1 to 2).foreach { round =>
      val spark = GraftSession.local(2).appName(s"part-writer-$round")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try {
        import spark.implicits._
        val root = Files.createTempDirectory("pw-session").toString
        val cat = new ManifestCatalog(spark, root)
        cat.appendRouted(routedFrame(spark, Seq("t", "u"), 4), Seq("t", "u"))
        require(cat.read("t").count() == 4 && cat.read("u").count() == 4)
        val rej = s"$root/rejected"
        val counts = TableRouter.countBatch(
          Ingest.parse(messages.toDF("topic", "payload")), Some(rej))
        require(counts.invalid > 0 &&
          spark.read.parquet(rej).count() == counts.invalid)
      } finally spark.stop()
    }
    println("RESULT 2 sessions wrote")
  }
}
