package graft.sinks

import graft.registry.ColumnDef
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Physical destination for routed per-sensor tables — the engine's
  * abstraction over the reference's ClickHouse layer
  * (/root/reference/db/db.go). Implementations must be driver-side
  * idempotent: `createTable` is CREATE-IF-NOT-EXISTS, `appendRouted` is a
  * bulk (micro-batch-sized) write, never the reference's one-INSERT-per-row
  * (/root/reference/db/db.go:259-264).
  */
trait TableCatalog {
  /** W1 — list existing tables (reference `showTables`,
    * /root/reference/db/db.go:50-69). */
  def listTables(): Seq[String]
  /** W1 — existing schema of a table (reference `showColumns`; note the
    * reference's DESCRIBE is malformed, db/db.go:75 — deviation §4.3). */
  def describe(table: String): Seq[ColumnDef]
  /** W4 — auto-DDL from an inferred schema
    * (/root/reference/db/db.go:226-243). */
  def createTable(table: String, cols: Seq[ColumnDef]): Unit
  /** W5 — append a routed frame with columns
    * [[TableCatalog.RoutedColumns]] — `(tableName, client, device,
    * value_type, value_d, value_s)` — spanning `tables` in ONE write job;
    * each table gets `(client, device, value)`, `value` read from
    * `value_d` or `value_s` by the row's value type. At high sensor
    * cardinality this is the difference between one job per batch and
    * N-tables jobs per batch. The frame is read once, in that job.
    * Returns true once the rows are written; the router does not read
    * the result, which `perfbench`'s timing wrapper forwards. */
  def appendRouted(df: DataFrame, tables: Seq[String]): Boolean

  /** Do the rows of an [[appendRouted]] stay invisible until that write
    * succeeds? If so, the router hands the write its batch pass as the
    * frame ([[TableRouter]]): the pass's tasks also count the batch and
    * write its rejected rows, so a steady-state batch is one job, and a
    * failure anywhere in it leaves no routed row visible. If not, the
    * pass runs on its own first, so a failed rejected-row write fails the
    * batch before any routed row lands (a replay would duplicate them).
    * Each catalog states it; the default, true, serves wrappers of
    * [[ManifestCatalog]] that forward only the calls they time
    * (`perfbench`'s `TimedCatalog`). */
  def atomicRoutedWrite: Boolean = true

  /** A one-table append outside the routed protocol: the router never
    * calls it. [[ManifestCatalog]] implements it; it stays on the trait
    * because `perfbench`'s `TimedCatalog` overrides it. */
  def append(table: String, df: DataFrame): Unit =
    throw new UnsupportedOperationException(
      s"${getClass.getSimpleName} has no one-table append")

  /** Exactly-once support: has this streaming batch already been fully
    * appended? foreachBatch re-runs a batch after a crash/restart; a
    * catalog that records commits lets the router skip the replay instead
    * of duplicating rows. Default: no record → at-least-once. */
  def batchCommitted(batchId: Long): Boolean = false
  /** Record `batchId` as fully appended (called after all appends). */
  def commitBatch(batchId: Long): Unit = ()
  /** Transactional catalogs may DEFER visibility of appends between
    * [[beginBatch]] and [[commitBatch]] so a batch's rows and its commit
    * record land atomically (no marker-vs-data replay window). Default:
    * no-op — appends are visible immediately, so a crash between the last
    * append and [[commitBatch]] replays the batch (at-least-once on that
    * boundary). */
  def beginBatch(batchId: Long): Unit = ()
}

object TableCatalog {
  /** The columns of an [[TableCatalog.appendRouted]] frame. */
  val RoutedColumns: Seq[String] =
    Seq("tableName", "client", "device", "value_type", "value_d", "value_s")

  /** The DEFAULT pipeline catalog: the [[ManifestCatalog]] commit log.
    * A batch's rows and its batch id become visible in one atomic commit,
    * and a compaction never hides a table, at the cost of one tiny
    * manifest rename per batch; periodic checkpointing keeps log folds
    * O(checkpointInterval) on long streams. */
  def default(spark: SparkSession, root: String): ManifestCatalog =
    new ManifestCatalog(spark, root)
}

/** SQL-text generation for a ClickHouse (JDBC) catalog. Connection handling
  * is pluggable because no JDBC driver ships in this offline environment;
  * the SQL itself is the complete, tested surface. Identifiers are strictly
  * validated instead of string-concatenated raw (the reference is injectable
  * through the topic string — /root/reference/db/db.go:233, :259-262;
  * deviation §4.3). */
object ClickHouseSql {
  // hyphens + leading digits are fine under backtick quoting and routine
  // in MQTT sensor names; everything else (quotes, spaces, dots, control
  // chars) is refused — the router's name policy rejects those upstream,
  // this is defense in depth
  private val ident = "^[A-Za-z0-9_][A-Za-z0-9_-]*$".r

  def quoteIdent(name: String): String = name match {
    case ident() => "`" + name + "`"
    case _ => throw new IllegalArgumentException(
      s"illegal SQL identifier: '$name'")
  }

  /** Reference `createTable` (/root/reference/db/db.go:226-243) — but with
    * a durable MergeTree engine instead of `Memory` and quoted identifiers. */
  def createTable(table: String, cols: Seq[ColumnDef]): String = {
    val colSql = cols.map(c => s"${quoteIdent(c.name)} ${c.chType}")
      .mkString(", ")
    s"CREATE TABLE IF NOT EXISTS ${quoteIdent(table)} ($colSql) " +
      "ENGINE = MergeTree() ORDER BY tuple()"
  }
}
