package graft.sinks

import graft.registry.ColumnDef
import org.scalatest.funsuite.AnyFunSuite

/** SQL text generation for the ClickHouse path: identifier safety (the
  * reference string-concats attacker-controllable topic segments into DDL,
  * db/db.go:233, :259-262) and the DDL's shape. */
class ClickHouseSqlSpec extends AnyFunSuite {
  private val cols = Seq(ColumnDef("client", "String"),
    ColumnDef("device", "String"), ColumnDef("value", "Float64"))

  test("create table: quoted identifiers, durable engine") {
    val sql = ClickHouseSql.createTable("temp_out", cols)
    assert(sql == "CREATE TABLE IF NOT EXISTS `temp_out` " +
      "(`client` String, `device` String, `value` Float64) " +
      "ENGINE = MergeTree() ORDER BY tuple()")
  }

  test("injection attempts via table/column names are refused") {
    // hyphens/digits are legal under quoting (routine MQTT sensor names);
    // structural characters are not
    assert(ClickHouseSql.quoteIdent("temp-1") == "`temp-1`")
    val evil = Seq("t; DROP TABLE x", "t`--", "a b", "", "a.b", "..")
    evil.foreach { name =>
      intercept[IllegalArgumentException] {
        ClickHouseSql.createTable(name, cols)
      }
      intercept[IllegalArgumentException] {
        ClickHouseSql.createTable("ok", Seq(ColumnDef(name, "String")))
      }
    }
  }
}
