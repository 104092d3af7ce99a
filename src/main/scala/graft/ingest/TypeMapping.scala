package graft.ingest

import org.apache.spark.sql.types._

/** Bijection between Spark `DataType`s and the reference's ClickHouse type
  * names.
  *
  * The reference maps Go dynamic types to ClickHouse type strings in
  * `createColumnDesc` (/root/reference/message/message.go:97-125): `int` →
  * "Int", `float64` → "Float64", `string` → "String", everything else
  * rejected. Because Go's encoding/json decodes every JSON number to
  * `float64`, the live surface is {Float64, String} plus Int64 kept for the
  * declared-but-dead `int` branch (SURVEY.md §1.2).
  */
object TypeMapping {
  /** ClickHouse type name → Spark type. */
  val toSpark: Map[String, DataType] = Map(
    "Float64" -> DoubleType,
    "String"  -> StringType,
    "Int64"   -> LongType,
    // the reference's (unreachable) spelling for Go `int`
    "Int"     -> LongType)

  /** Spark type → canonical ClickHouse type name. */
  val toClickHouse: Map[DataType, String] = Map(
    DoubleType -> "Float64",
    StringType -> "String",
    LongType   -> "Int64")

  /** Is this Spark type ingestable under reference semantics?
    * (bool/null/array/object are rejected —
    * /root/reference/message/message.go:112-118). */
  def supported(dt: DataType): Boolean = toClickHouse.contains(dt)

  /** Strip the composable metadata wrappers clickhouse-jdbc reports in
    * TYPE_NAME (`Nullable(Float64)`, `LowCardinality(String)`, nested
    * either way) down to the inner type expression. Shared by the
    * dialect's metadata read and the read-side mapping below. */
  @annotation.tailrec
  def unwrap(t: String): String = {
    val s = t.trim
    val inner = Seq("Nullable", "LowCardinality").collectFirst {
      case w if s.startsWith(w + "(") && s.endsWith(")") =>
        s.substring(w.length + 1, s.length - 1)
    }
    inner match {
      case Some(i) => unwrap(i)
      case None => s
    }
  }

  private val FixedStringRx = """FixedString\(\d+\)""".r
  private val DateTimeRx = """DateTime(?:64)?(?:\(.*\))?""".r
  private val DecimalRx = """Decimal\((\d+),\s*(\d+)\)""".r

  /** READ-side mapping for bootstrap metadata: the type families a
    * production ClickHouse presents over DESCRIBE / JDBC metadata
    * (db/db.go:75-107 scans the raw type expression of every existing
    * table — externally created tables carry DateTime64, Date,
    * Decimal, sized ints, wrapped or not). The WRITE path stays the
    * reference's strict {Float64, String, Int64} bijection above; this
    * only answers "what Spark type does an existing column read as".
    * None = not representable (e.g. AggregateFunction states) — the
    * caller decides whether that is skip or fail. */
  def toSparkRead(chType: String): Option[DataType] =
    unwrap(chType) match {
      case t if toSpark.contains(t) => Some(toSpark(t))
      case "Float32" => Some(FloatType)
      case "Int8" => Some(ByteType)
      case "Int16" => Some(ShortType)
      case "Int32" => Some(IntegerType)
      // unsigned widens to the next signed size that holds its range
      case "UInt8" => Some(ShortType)
      case "UInt16" => Some(IntegerType)
      case "UInt32" => Some(LongType)
      case "UInt64" => Some(DecimalType(20, 0))
      case "Bool" => Some(BooleanType)
      case "Date" | "Date32" => Some(DateType)
      case "UUID" => Some(StringType)
      case FixedStringRx() => Some(StringType)
      case DateTimeRx() => Some(TimestampType)
      case DecimalRx(p, s) => Some(DecimalType(p.toInt, s.toInt))
      case _ => None
    }
}
