package graft.sinks

import graft.registry.ColumnDef
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Physical destination for routed per-sensor tables — the engine's
  * abstraction over the reference's ClickHouse layer
  * (/root/reference/db/db.go). Implementations must be driver-side
  * idempotent: `createTable` is CREATE-IF-NOT-EXISTS, `append` is a bulk
  * (micro-batch-sized) write, never the reference's one-INSERT-per-row
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
  /** W5 — bulk append one micro-batch's rows for one table. */
  def append(table: String, df: DataFrame): Unit
  /** W5, many-table fast path: append a routed frame with columns
    * [[TableCatalog.RoutedColumns]] — `(tableName, client, device,
    * value_type, value_d, value_s)` — spanning `tables` in ONE write job;
    * each table gets `(client, device, value)`, `value` read from
    * `value_d` or `value_s` by the row's value type. Returns false if
    * this catalog can't (caller falls back to per-table [[append]]). At
    * high sensor cardinality this is the difference between one job per
    * batch and N-tables jobs per batch. */
  def appendRouted(df: DataFrame, tables: Seq[String]): Boolean = false

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
    * no-op — appends are visible immediately (at-least-once on the exact
    * crash boundary, as WarehouseCatalog documents). */
  def beginBatch(batchId: Long): Unit = ()
}

object TableCatalog {
  /** The columns of an [[TableCatalog.appendRouted]] frame. */
  val RoutedColumns: Seq[String] =
    Seq("tableName", "client", "device", "value_type", "value_d", "value_s")

  /** The DEFAULT pipeline catalog: the [[ManifestCatalog]] commit log.
    * It closes both crash windows the plain parquet-directory layout has
    * (batch-marker-vs-data replay, compaction swap) at the cost of one
    * tiny manifest rename per batch; periodic checkpointing keeps log
    * folds O(checkpointInterval) on long streams. [[WarehouseCatalog]]
    * remains available as an explicit opt-in for the
    * simple-directory layout. */
  def default(spark: SparkSession, root: String): ManifestCatalog =
    new ManifestCatalog(spark, root)
}

/** Parquet-directory catalog: one subdirectory per sensor table. Durable
  * (unlike the reference's `engine=Memory`, /root/reference/db/db.go:233),
  * partition-parallel, and what a lakehouse deployment would use. */
final class WarehouseCatalog(spark: SparkSession, root: String)
    extends TableCatalog {
  private val rootDir = new java.io.File(root)
  rootDir.mkdirs()

  override def describe(table: String): Seq[ColumnDef] = {
    val schema: StructType =
      spark.read.parquet(s"$root/$table").schema
    schema.fields.toSeq.map { f =>
      ColumnDef(f.name, graft.ingest.TypeMapping.toClickHouse(f.dataType))
    }
  }

  override def createTable(table: String, cols: Seq[ColumnDef]): Unit = {
    // Parquet tables materialize on first append; DDL is a no-op beyond
    // the registry entry the router records.
    val _ = (table, cols)
  }

  override def append(table: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).parquet(s"$root/$table")

  /** One write job for ALL tables in the slice: each task writes its
    * part file per table straight into the table directory under a
    * hidden name and renames it when it closes it ([[PartWriter]]). */
  override def appendRouted(df: DataFrame, tables: Seq[String]): Boolean = {
    PartWriter.writeRouted(df, root, hidden = true)
    true
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(); ()
  }

  // batch-commit markers: root/_batches/<id>. Marker written after all
  // moves; a crash between the last move and the marker replays the batch
  // (duplicates possible in exactly that window — the standard
  // non-transactional-store tradeoff; a table format with commit logs
  // would close it).
  private val batchesDir = new java.io.File(rootDir, "_batches")
  override def batchCommitted(batchId: Long): Boolean =
    new java.io.File(batchesDir, batchId.toString).exists()
  override def commitBatch(batchId: Long): Unit = {
    batchesDir.mkdirs()
    new java.io.File(batchesDir, batchId.toString).createNewFile()
    ()
  }

  override def listTables(): Seq[String] =
    Option(rootDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .map(_.getName).toSeq.sorted

  def read(table: String): DataFrame = spark.read.parquet(s"$root/$table")

  /** Streaming appends produce one file per partition per micro-batch;
    * periodic compaction rewrites a table to `targetFiles` files.
    *
    * MAINTENANCE OPERATION — run while the table is quiescent (no
    * concurrent appends or reads): the two-rename swap has a brief window
    * where the table directory is absent, and a crash inside it leaves
    * the data in `.old-<table>` for manual recovery (a table format with
    * a commit log is the production answer for online compaction). */
  def compact(table: String, targetFiles: Int = 1): Unit = {
    val dir = new java.io.File(s"$root/$table")
    require(dir.isDirectory, s"no such table: $table")
    val tmp = new java.io.File(s"$root/.compact-$table")
    val old = new java.io.File(s"$root/.old-$table")
    spark.read.parquet(dir.toString)
      .coalesce(math.max(1, targetFiles))
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (!dir.renameTo(old))
      throw new java.io.IOException(s"compact: cannot move $dir aside")
    if (!tmp.renameTo(dir)) {
      val rolledBack = old.renameTo(dir)
      throw new java.io.IOException(s"compact: cannot activate $tmp" +
        (if (rolledBack) " (rolled back)"
         else s" AND ROLLBACK FAILED — data is in $old"))
    }
    rm(old)
  }

  def fileCount(table: String): Int =
    Option(new java.io.File(s"$root/$table").listFiles())
      .getOrElse(Array.empty)
      .count(f => f.getName.endsWith(".parquet"))
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

  /** Reference `writeData` (/root/reference/db/db.go:246-271) — same
    * parameterized INSERT shape, executed once per micro-batch with JDBC
    * `addBatch`, not once per row. */
  def insert(table: String, cols: Seq[ColumnDef]): String = {
    val names = cols.map(c => quoteIdent(c.name)).mkString(", ")
    val marks = cols.map(_ => "?").mkString(", ")
    s"INSERT INTO ${quoteIdent(table)} ($names) VALUES ($marks)"
  }

  def describeTable(table: String): String =
    s"DESCRIBE TABLE ${quoteIdent(table)}"

  val showTables: String = "SHOW TABLES"
}
