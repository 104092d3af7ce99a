package graft.ingest

import graft.TestSpark
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference's message-package tests
  * (/root/reference/message/message_test.go): topic-validation table,
  * golden end-to-end record, value-type inference and rejection. */
class IngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def parseOne(topic: String, payload: String): Row =
    Ingest.parse(Seq((topic, payload)).toDF("topic", "payload")).head()

  private def recordsOf(rows: (String, String)*) =
    Ingest.records(rows.toDF("topic", "payload"))
  private def rejectedOf(rows: (String, String)*) =
    Ingest.rejected(rows.toDF("topic", "payload"))

  val goodTopic = "/balalaykajazz/plants1/out/sensors/temp_out"
  val goodPayload = """{"timestamp":"2021-11-24T20:27:23Z","value":27.8}"""

  // topic table from message_test.go:15-20
  test("topic validity table") {
    val cases = Seq(
      goodTopic -> true,
      "balalaykajazz/plants1/out/sensors/temp_out" -> false, // no "/" prefix
      "/balalaykajazz/plants1/temp_out" -> false,            // < 4 slashes
      "" -> false)
    val df = cases.map(_._1).map((_, """{"value":1}""")).toDF("topic", "payload")
    val got = df.select(col("topic"), Ingest.topicValid(col("topic")).as("v"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    cases.foreach { case (t, expected) => assert(got(t) == expected, t) }
  }

  // golden record from message_test.go:149-200
  test("golden record: canonical topic+payload") {
    val r = parseOne(goodTopic, goodPayload)
    assert(r.getAs[String]("tableName") == "temp_out")
    assert(r.getAs[String]("client") == "balalaykajazz")
    assert(r.getAs[String]("device") == "plants1")
    assert(r.getAs[String]("value_type") == "Float64")
    assert(r.getAs[Double]("value_d") == 27.8)
    assert(r.getAs[Boolean]("valid"))
  }

  test("string value infers String") {
    val r = parseOne(goodTopic, """{"value":"on"}""")
    assert(r.getAs[String]("value_type") == "String")
    assert(r.getAs[String]("value_s") == "on")
    assert(r.getAs[Boolean]("valid"))
  }

  test("integer-looking JSON number is Float64 (Go json float64 semantics)") {
    // message.go:106-107's int branch is unreachable for JSON input
    val r = parseOne(goodTopic, """{"value":42}""")
    assert(r.getAs[String]("value_type") == "Float64")
    assert(r.getAs[Double]("value_d") == 42.0)
  }

  test("negative and fractional numbers parse") {
    assert(parseOne(goodTopic, """{"value":-3.5}""").getAs[Double]("value_d") == -3.5)
    assert(parseOne(goodTopic, """{"value":.5}""").getAs[String]("value_type") == "Float64")
  }

  test("unsupported value types are rejected with reasons") {
    val rej = rejectedOf(
      (goodTopic, """{"value":true}"""),
      (goodTopic, """{"value":null}"""),
      (goodTopic, """{"value":[1,2]}"""),
      (goodTopic, """{"value":{"a":1}}"""),
      (goodTopic, """{"other":1}"""),
      ("bad", """{"value":1}"""))
      .collect().map(r => (r.getAs[String]("payload"), r.getAs[String]("reason")))
    assert(rej.length == 6)
    val byPayload = rej.toMap
    assert(byPayload("""{"value":true}""") == "unsupported_value_type")
    assert(byPayload("""{"value":null}""") == "unsupported_value_type")
    assert(byPayload("""{"value":[1,2]}""") == "unsupported_value_type")
    assert(byPayload("""{"value":{"a":1}}""") == "unsupported_value_type")
    assert(byPayload("""{"other":1}""") == "missing_value")
    assert(rej.find(_._2 == "invalid_topic").isDefined)
  }

  test("nested numeric 'value' with top-level string is rejected, not a crash") {
    // the type regex can match the NESTED "value": 1 → Float64; the
    // top-level value is "open" which must NOT ansi-crash the cast
    val rej = rejectedOf(
      (goodTopic, """{"meta":{"value": 1},"value":"open"}"""))
      .collect()
    assert(rej.length == 1)
    assert(rej.head.getAs[String]("reason") == "null_value")
    assert(recordsOf(
      (goodTopic, """{"meta":{"value": 1},"value":"open"}""")).count() == 0)
  }

  // Full golden replay for the single-pass classifier (r14 VERDICT #1):
  // valueType() fused the two type-detection regexes (number-anywhere /
  // string-anywhere) into ONE regexp_extract_all pass. This table replays
  // every reference type-inference golden (message_test.go:60-146), every
  // payload shape the q20–q22 fixture synthesizes, and the adversarial
  // multi-"value" shapes, against the LEGACY two-regex form — the fused
  // classifier must agree on all of them.
  test("single-pass classifier replays the two-regex truth table") {
    val legacy = {
      val numRe = """"value"\s*:\s*-?(\d|\.\d)"""
      val strRe = """"value"\s*:\s*""""
      (p: org.apache.spark.sql.Column) =>
        org.apache.spark.sql.functions.when(p.rlike(numRe), "Float64")
          .when(p.rlike(strRe), "String")
          .otherwise(org.apache.spark.sql.functions.lit(null)
            .cast("string"))
    }
    val corpus = Seq(
      // message_test.go type-inference table
      goodPayload,
      """{"value":27.8}""", """{"value":42}""", """{"value":-3.5}""",
      """{"value":.5}""", """{"value":-.5}""", """{"value":"on"}""",
      """{"value":true}""", """{"value":false}""", """{"value":null}""",
      """{"value":[1,2]}""", """{"value":{"a":1}}""", """{"other":1}""",
      """{}""", """""", """not json at all""",
      // q20–q22 fixture shapes (IngestQueries.mqttFrame branches)
      """{"k": 69}""",
      """{"value":"page_view"}""",
      """{"timestamp":"2024-01-01T00:00:00Z","value":12.5}""",
      """{"nested":{"value":9},"value":"click"}""",
      // nested-misfire golden (spec above) + whitespace variants
      """{"meta":{"value": 1},"value":"open"}""",
      """{"value" : 7}""", """{"value" :"x"}""", """{"value":  -0.1}""",
      // multi-"value" adversarials: number-anywhere must win either way
      """{"a":{"value":"s"},"value":5}""",
      """{"value":5,"b":{"value":"s"}}""",
      null.asInstanceOf[String])
    val df = corpus.zipWithIndex.map(_.swap).toDF("i", "payload")
    val got = df.select(col("i"),
        Ingest.valueType(col("payload")).as("fused"),
        legacy(col("payload")).as("legacy"))
      .collect()
    got.foreach { r =>
      assert(r.getAs[String]("fused") == r.getAs[String]("legacy"),
        s"payload #${r.getInt(0)}: ${corpus(r.getInt(0))}")
    }
  }

  test("null topic goes to rejected as invalid_topic (not silently lost)") {
    val rows = Seq((null.asInstanceOf[String], """{"value":1}"""))
    val df = rows.toDF("topic", "payload")
    assert(Ingest.records(df).count() == 0)
    val rej = Ingest.rejected(df).collect()
    assert(rej.length == 1)
    assert(rej.head.getAs[String]("reason") == "invalid_topic")
  }

  test("records/rejected partition the input") {
    val rows = Seq(
      (goodTopic, goodPayload),
      (goodTopic, """{"value":"x"}"""),
      ("nope", goodPayload),
      (goodTopic, """{"k":1}"""))
    assert(recordsOf(rows: _*).count() == 2)
    assert(rejectedOf(rows: _*).count() == 2)
  }

  test("parse keeps its columns, order, types and nullability") {
    // pinned from the 8-withColumn form of parse: the projection that
    // replaced it must not move a column or change what it may hold
    def s(name: String, nullable: Boolean = true) =
      StructField(name, StringType, nullable)
    val parsed = StructType(Seq(s("tableName"), s("client"), s("device"),
      s("value_type"), StructField("value_d", DoubleType),
      s("value_s"), StructField("valid", BooleanType, nullable = false)))
    val in = Seq((goodTopic, goodPayload)).toDF("topic", "payload")
    assert(Ingest.parse(in).schema ==
      StructType(Seq(s("topic"), s("payload")) ++ parsed))
    // input columns lead, in their order, whatever they are
    val wider = in.select(lit(1L).as("seq"), col("payload"), col("topic"))
    assert(Ingest.parse(wider).schema == StructType(
      Seq(StructField("seq", LongType, nullable = false), s("payload"),
        s("topic")) ++ parsed))
    assert(Ingest.rejectedOfParsed(Ingest.parse(in)).schema ==
      StructType(Seq(s("topic"), s("payload"), s("reason", false))))
    // the batch pass writes rejected files under the constant schema
    assert(Ingest.rejectedOfParsed(Ingest.parse(in)).schema ==
      Ingest.RejectedSchema)
  }

  test("timestamp key in payload is discarded (reference drops event time)") {
    // only "value" survives: the record has no timestamp-derived column
    val cols = recordsOf((goodTopic, goodPayload)).columns.toSet
    assert(cols == Set("tableName", "client", "device",
      "value_type", "value_d", "value_s"))
  }
}
