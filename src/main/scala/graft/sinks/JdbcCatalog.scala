package graft.sinks

import graft.registry.ColumnDef
import java.sql.{Connection, PreparedStatement, SQLException, Types}
import org.apache.spark.sql.{DataFrame, Row}

/** SQL dialect seam for the JDBC catalog: ClickHouse in production (the
  * reference's target, /root/reference/db/db.go), Derby for hermetic tests
  * (the only embedded database shipping with Spark). Serializable — it
  * travels into executor-side `foreachPartition` writers. */
trait SqlDialect extends Serializable {
  def quote(ident: String): String
  /** canonical ClickHouse type name → DDL type */
  def typeName(chType: String): String
  /** JDBC metadata type name → canonical ClickHouse type name */
  def chTypeOf(jdbcTypeName: String): String
  def createTable(table: String, cols: Seq[ColumnDef]): String
  /** DDL failed because the table already exists → treat as success. */
  def alreadyExists(e: SQLException): Boolean
}

object ClickHouseDialect extends SqlDialect {
  override def quote(ident: String): String = ClickHouseSql.quoteIdent(ident)
  override def typeName(chType: String): String = chType
  /** clickhouse-jdbc reports TYPE_NAME as the full ClickHouse type
    * expression, possibly wrapped — `Nullable(Float64)`,
    * `LowCardinality(String)`, or both nested. The catalog stores the
    * canonical inner name (the reference's world only knows the plain
    * names — db.go:117-143), so strip wrappers before registry compare. */
  override def chTypeOf(t: String): String =
    graft.ingest.TypeMapping.unwrap(t)
  override def createTable(table: String, cols: Seq[ColumnDef]): String =
    ClickHouseSql.createTable(table, cols)
  override def alreadyExists(e: SQLException): Boolean = false // IF NOT EXISTS
}

/** Derby (test) dialect. Derby has no CREATE TABLE IF NOT EXISTS; the
  * X0Y32 duplicate-object state is swallowed instead. */
object DerbyDialect extends SqlDialect {
  private val ident = "^[A-Za-z0-9_][A-Za-z0-9_-]*$".r
  override def quote(name: String): String = name match {
    case ident() => "\"" + name + "\""
    case _ => throw new IllegalArgumentException(
      s"illegal SQL identifier: '$name'")
  }
  override def typeName(chType: String): String = chType match {
    case "String"  => "VARCHAR(4096)"
    case "Float64" => "DOUBLE"
    case "Int64" | "Int" => "BIGINT"
    case other => throw new IllegalArgumentException(s"no Derby type for $other")
  }
  override def chTypeOf(t: String): String = t.toUpperCase match {
    case "VARCHAR" => "String"
    case "DOUBLE"  => "Float64"
    case "BIGINT"  => "Int64"
    case other => throw new IllegalArgumentException(s"unmapped type $other")
  }
  override def createTable(table: String, cols: Seq[ColumnDef]): String =
    s"CREATE TABLE ${quote(table)} (" +
      cols.map(c => s"${quote(c.name)} ${typeName(c.chType)}").mkString(", ") +
      ")"
  override def alreadyExists(e: SQLException): Boolean =
    e.getSQLState == "X0Y32"
}

/** W1/W4/W5 against a real SQL database over JDBC — the engine's version
  * of the reference's ClickHouse layer (/root/reference/db/db.go):
  *
  *  - metadata-driven bootstrap (fixes the malformed DESCRIBE, db.go:75);
  *  - quoted/validated identifiers (reference is injectable, db.go:233);
  *  - one routed write per micro-batch for all its tables, with
  *    executor-side batched INSERTs (reference: one statement per
  *    message, db.go:259-264) — each partition opens one connection and
  *    one prepared statement per table, addBatch()es its rows and
  *    executes them. At cluster scale the write parallelism is the
  *    partition count, which a `coalesce(n)` upstream caps to the DB's
  *    ingest-connection budget.
  *
  * INSERTed rows are visible at once ([[atomicRoutedWrite]] is false), so
  * the router runs its batch pass on its own before the routed write: a
  * micro-batch is 2 Spark jobs whatever its table count. The batch marker
  * lands after the write, so a crash between the two replays the batch.
  *
  * `connect` must be a serializable connection factory (URL-driven).
  */
final class JdbcCatalog(connect: () => Connection, dialect: SqlDialect)
    extends TableCatalog {

  private def withConn[A](f: Connection => A): A = {
    val c = connect()
    try f(c) finally c.close()
  }

  override def listTables(): Seq[String] = withConn { c =>
    val rs = c.getMetaData.getTables(null, null, "%", Array("TABLE"))
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    // identifiers are created quoted → stored case-sensitively; report and
    // look them up verbatim (no case normalization)
    while (rs.next()) out += rs.getString("TABLE_NAME")
    // the batch-marker table is catalog-internal — exposing it would make
    // the router bootstrap it as a sensor table
    out.toSeq.filterNot(_ == JdbcCatalog.BatchTable).sorted
  }

  // ---- batch-commit markers: effectively-once across foreachBatch
  // replays. The marker INSERT runs after all appends (commitBatch is
  // called last by the router), so a crash between the last append and
  // the marker replays the batch into duplicates — ClickHouse has no
  // cross-statement transactions, so ManifestCatalog remains the airtight
  // default; this closes the COMMON path (clean restart replaying the
  // last batch).
  @volatile private var batchTableReady = false

  /** Create the marker table on this catalog's first use of it. */
  private def ensureBatchTable(c: Connection): Unit =
    if (!batchTableReady) {
      val st = c.createStatement()
      try st.execute(dialect.createTable(JdbcCatalog.BatchTable,
        Seq(ColumnDef("batch_id", "Int64"))))
      catch { case e: SQLException if dialect.alreadyExists(e) => () }
      finally st.close()
      batchTableReady = true
    }

  override def batchCommitted(batchId: Long): Boolean = withConn { c =>
    ensureBatchTable(c)
    val ps = c.prepareStatement(
      s"SELECT COUNT(*) FROM ${dialect.quote(JdbcCatalog.BatchTable)} " +
        s"WHERE ${dialect.quote("batch_id")} = ?")
    try {
      ps.setLong(1, batchId)
      val rs = ps.executeQuery()
      rs.next() && rs.getLong(1) > 0
    } finally ps.close()
  }

  override def commitBatch(batchId: Long): Unit = withConn { c =>
    ensureBatchTable(c)
    val ps = c.prepareStatement(
      s"INSERT INTO ${dialect.quote(JdbcCatalog.BatchTable)} " +
        s"(${dialect.quote("batch_id")}) VALUES (?)")
    try { ps.setLong(1, batchId); ps.executeUpdate(); () }
    finally ps.close()
  }

  override def describe(table: String): Seq[ColumnDef] = withConn { c =>
    // getColumns' table argument is a LIKE pattern: an unescaped '_' in a
    // sensor name ('temp_1') would also match 'tempX1' and merge columns
    // from unrelated tables into the registry schema
    val esc = c.getMetaData.getSearchStringEscape
    val literal = table
      .replace(esc, esc + esc)
      .replace("_", esc + "_")
      .replace("%", esc + "%")
    val rs = c.getMetaData.getColumns(null, null, literal, "%")
    val out = scala.collection.mutable.ArrayBuffer.empty[ColumnDef]
    while (rs.next())
      out += ColumnDef(rs.getString("COLUMN_NAME"),
        dialect.chTypeOf(rs.getString("TYPE_NAME")))
    out.toSeq
  }

  override def createTable(table: String, cols: Seq[ColumnDef]): Unit =
    withConn { c =>
      val st = c.createStatement()
      try st.execute(dialect.createTable(table, cols))
      catch {
        case e: SQLException if dialect.alreadyExists(e) => ()
      } finally st.close()
    }

  /** One job: each task with rows opens one connection and keeps one
    * prepared statement per table it sees, flushed every 10k rows. The
    * INSERT binds by position, as W3 checks a table's columns by position
    * and never by name, so a bootstrapped table with other column names
    * takes the rows. */
  override def appendRouted(df: DataFrame, tables: Seq[String]): Boolean = {
    val sql = tables.map(t =>
      t -> s"INSERT INTO ${dialect.quote(t)} VALUES (?, ?, ?)").toMap
    import JdbcCatalog.Insert
    val conn = connect
    val Seq(iTable, iClient, iDevice, iType, iD, iS) =
      TableCatalog.RoutedColumns.map(df.schema.fieldIndex)
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        val c = conn()
        val open = scala.collection.mutable.HashMap.empty[String, Insert]
        try {
          rows.foreach { r =>
            val t = r.getString(iTable)
            val in = open.getOrElseUpdate(t,
              new Insert(c.prepareStatement(sql(t))))
            val ps = in.ps
            ps.setString(1, r.getString(iClient))
            ps.setString(2, r.getString(iDevice))
            if (r.getString(iType) == "String") ps.setString(3, r.getString(iS))
            else if (r.isNullAt(iD)) ps.setNull(3, Types.DOUBLE)
            else ps.setDouble(3, r.getDouble(iD))
            ps.addBatch()
            in.rows += 1
            if (in.rows % 10000 == 0) ps.executeBatch() // bound batch memory
          }
          open.values.foreach(_.ps.executeBatch())
        } finally {
          open.values.foreach(_.ps.close())
          c.close()
        }
      }
    }
    true
  }

  /** No: each task's INSERTs are visible once they run. */
  override def atomicRoutedWrite: Boolean = false
}

object JdbcCatalog {
  /** Batch-commit marker table (catalog-internal, hidden from
    * [[JdbcCatalog.listTables]]). */
  val BatchTable = "graft_batches"

  /** A task's open INSERT into one table, and the rows it has batched. */
  private final class Insert(val ps: PreparedStatement) { var rows = 0L }
}
