package graft.sinks

import graft.ingest.Ingest
import graft.registry.{ColumnDef, SchemaRegistry}
import java.util.concurrent.{Callable, ExecutionException, Future}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, InternalFrames, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.CollectionAccumulator
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Per-batch routing outcome (observability; the reference logs and dies
  * instead — /root/reference/main.go:21-31). `alreadyCommitted` = this
  * batch id was appended by a previous run (crash replay) and was skipped
  * — side outputs must not re-append either. */
final case class RouteStats(
    appended: Map[String, Long],
    rejectedSchema: Map[String, Long],
    rejectedName: Map[String, Long] = Map.empty,
    alreadyCommitted: Boolean = false)

/** W2 — table router / demultiplexer (reference `Recording`,
  * /root/reference/db/db.go:147-205), run driver-side inside
  * `foreachBatch`:
  *
  *   - catalog hit  → W3 positional schema check against the registry;
  *     mismatching rows are counted + dropped to the rejected output
  *     (reference would kill the pipeline);
  *   - catalog miss → W4 auto-DDL with the batch-inferred schema, then
  *     registry insert;
  *   - then W5 bulk append of every table's rows in routed writes.
  *
  * A batch whose tables are all registered already costs ONE Spark job
  * on a catalog whose routed write is atomic: the batch pass
  * ([[TableRouter.countBatch]]'s task body) counts the batch by
  * `(valid, tableName, value_type)`, writes its invalid rows to the
  * rejected directory, and hands every row whose table takes its value
  * type to the catalog's routed write, as the frame that write reads.
  * Rows of new tables, of mismatched types and of refused names are
  * decided afterwards, from the counts. Any batch costs at most two jobs:
  * the pass, then one routed write for the tables it left.
  *
  * The only driver-side data are those counts and the part-file names
  * of the routed write — cardinality = number of distinct sensors,
  * thousands at most, never data-sized. Row data itself moves
  * executor-side only.
  *
  * Routed table schema is the reference's golden shape
  * `[client String, device String, value <inferred>]`
  * (/root/reference/message/message_test.go:177-198).
  */
final class TableRouter(registry: SchemaRegistry, catalog: TableCatalog,
    schemaRejectSink: Option[DataFrame => Unit] = None) {
  import TableRouter.tableNameOk

  /** W1 — seed the registry from the physical catalog at startup
    * (reference `LoadTables`, /root/reference/db/db.go:117-135).
    * Per-table failures (e.g. an empty directory left by a crash mid-
    * append) are logged and skipped — a broken table must not wedge
    * startup into a crash loop. */
  def bootstrap(): Unit =
    catalog.listTables().foreach { t =>
      try {
        val cols = catalog.describe(t)
        if (cols.nonEmpty) registry.put(t, cols)
      } catch { case e: Exception =>
        System.err.println(s"[router] bootstrap skipping '$t': ${e.getMessage}")
      }
    }

  /** Was this streaming batch already fully appended by a previous run? */
  def isCommitted(batchId: Long): Boolean =
    batchId >= 0 && catalog.batchCommitted(batchId)

  // runs a batch's schema-reject sink write alongside its last routed
  // write — routeBatch runs per micro-batch and must not churn a fresh
  // thread on the hot path
  private lazy val sinkPool =
    java.util.concurrent.Executors.newSingleThreadExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "router-reject-sink"); t.setDaemon(true); t
      })

  private def colsFor(chType: String): Seq[ColumnDef] = Seq(
    ColumnDef("client", "String"),
    ColumnDef("device", "String"),
    ColumnDef("value", chType))

  /** Route one micro-batch of parsed records (output of
    * [[graft.ingest.Ingest.records]]).
    *
    * With `batchId >= 0` (streaming), replayed batches the catalog has
    * already committed are skipped — effectively-once appends across
    * query restarts for catalogs that record commits. With `batchId < 0`
    * no batch is opened, so the batch is not one atomic commit: rows of
    * registered tables land with the pass's routed write, rows of new
    * tables with a second one, and a failure after the first leaves its
    * rows visible. */
  def routeBatch(batch: DataFrame, batchId: Long = -1L): RouteStats =
    routeBatch(batch, batchId, None)(_ => ())

  /** Route one micro-batch: a [[graft.ingest.Ingest.parse]]d frame, or a
    * frame of records (no `valid` column: every row is valid). A batch
    * the catalog has committed already is skipped whole.
    *
    * After [[TableCatalog.beginBatch]] the batch pass counts the batch and
    * writes its invalid rows into `rejectedDir`. On a catalog whose routed
    * write is atomic ([[TableCatalog.atomicRoutedWrite]]), with any table
    * registered, the pass runs as the frame of ONE
    * [[TableCatalog.appendRouted]] call and routes every valid row whose
    * table is registered with that value type. Otherwise it runs on its
    * own, so its rejected-row write succeeds before any routed row lands.
    * `check` sees the counts before any DDL: a throw fails the batch
    * before its commit (files the pass wrote stay unlisted, for
    * [[ManifestCatalog.vacuum]]).
    *
    * The rows the pass did not route are decided from its counts: a new
    * table gets its DDL, and every table with rows left gets them in one
    * more `appendRouted` over `batch`; mismatched slices and refused
    * names go to the schema-reject sink.
    * All writes finish before `commitBatch`, and any failure skips the
    * commit and is rethrown. `batch` is read again only for those rows,
    * and is not cached here. */
  def routeBatch(batch: DataFrame, batchId: Long,
      rejectedDir: Option[String])(
      check: TableRouter.BatchCounts => Unit): RouteStats = {
    if (batchId >= 0 && catalog.batchCommitted(batchId))
      return RouteStats(Map.empty, Map.empty, alreadyCommitted = true)
    // transactional catalogs defer append visibility until the single
    // commitBatch below — rows + batch id become visible atomically
    if (batchId >= 0) catalog.beginBatch(batchId)
    val writes = scala.collection.mutable.ArrayBuffer.empty[Future[Unit]]
    def submit(body: => Unit): Unit = writes += sinkPool.submit(
      new Callable[Unit] { def call(): Unit = body })
    val stats = try {
      // the value types each registered table takes, as W3 decides them
      val takes: Map[String, Set[String]] = registry.tableNames
        .filter(tableNameOk).flatMap { t =>
          registry.get(t).map(cols => t -> Set("Float64", "String")
            .filter(vt => registry.checkValid(cols, colsFor(vt)).isEmpty))
        }.filter(_._2.nonEmpty).toMap
      // with no table registered the pass routes nothing: it runs on its
      // own, so no catalog is handed a table-less write it could skip
      val routed = takes.nonEmpty && catalog.atomicRoutedWrite
      val counts =
        if (routed) {
          val pass = TableRouter.pass(batch, rejectedDir, takes)
          catalog.appendRouted(pass.frame, takes.keys.toSeq.sorted)
          pass.counts()
        } else TableRouter.countBatch(batch, rejectedDir)
      check(counts)
      // rows of the batch, for the slices the pass left
      lazy val records =
        if (batch.columns.contains("valid")) Ingest.recordsOfParsed(batch)
        else batch

      val appended = scala.collection.mutable.Map.empty[String, Long]
      val rejected = scala.collection.mutable.Map.empty[String, Long]
      val badNames = scala.collection.mutable.Map.empty[String, Long]
      val appendTasks = scala.collection.mutable.ArrayBuffer
        .empty[(String, String)] // (table, vt)

      // Phase 1 (serial, driver): name policy + DDL + schema decisions —
      // cheap, order-sensitive (first sight fixes the schema).
      counts.hist.groupBy(_._1).toSeq.sortBy(_._1).foreach {
        case (table, groups) if !tableNameOk(table) =>
          badNames(table) = groups.map(_._3).sum
        case (table, groups) =>
          // First message for a sensor fixes its schema (reference
          // db/db.go:187-195). Within one batch arrival order is
          // undefined, so the engine picks deterministically: the most
          // frequent type, ties broken alphabetically.
          if (!registry.contains(table)) {
            val chosen = groups.maxBy(g => (g._3, g._2.head * -1))._2
            catalog.createTable(table, colsFor(chosen))
            registry.put(table, colsFor(chosen))
          }
          groups.foreach { case (_, vt, n) =>
            registry.checkValid(
                registry.get(table).get, colsFor(vt)) match {
              case None =>
                if (!(routed && takes.get(table).exists(_(vt))))
                  appendTasks += ((table, vt))
                appended(table) = appended.getOrElse(table, 0L) + n
              case Some(_) =>
                rejected(table) = rejected.getOrElse(table, 0L) + n
            }
          }
      }

      // schema-mismatched and name-invalid slices go to the configured
      // side output — "rejected" must mean visible, not counted away
      if (rejected.nonEmpty || badNames.nonEmpty)
        schemaRejectSink.foreach { sink =>
          val mismatchCond = counts.hist.filter { case (table, vt, _) =>
            registry.get(table).exists(cols =>
              registry.checkValid(cols, colsFor(vt)).isDefined)
          }.map { case (table, vt, _) =>
            col("tableName") === table && col("value_type") === vt
          }
          val nameCond = badNames.keys.toSeq.sorted
            .map(t => col("tableName") === t)
          (mismatchCond ++ nameCond).reduceOption(_ || _)
            .foreach(cond => submit(sink(records.filter(cond))))
        }

      // Phase 2: the slices the pass did not write — ONE routed write for
      // every such table and both value types (validated tasks always
      // have vt == table type).
      if (appendTasks.nonEmpty) {
        val cond = appendTasks.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (vt, tasks) =>
            col("value_type") === vt &&
              col("tableName").isInCollection(tasks.map(_._1))
          }.reduce(_ || _)
        catalog.appendRouted(
          records.filter(cond).select(TableCatalog.RoutedColumns.map(col): _*),
          appendTasks.map(_._1).toSeq)
      }
      RouteStats(appended.toMap, rejected.toMap, badNames.toMap)
    } catch { case NonFatal(e) =>
      // writes already submitted end before the batch fails; their
      // failures ride along on the routing error
      try awaitAll(writes.toSeq)
      catch { case NonFatal(w) => e.addSuppressed(w) }
      throw e
    }
    awaitAll(writes.toSeq)

    if (batchId >= 0) catalog.commitBatch(batchId)
    stats
  }

  /** Wait for every write; rethrow the first failure, the rest attached
    * as suppressed. */
  private def awaitAll(writes: Seq[Future[Unit]]): Unit = {
    val failures = writes.flatMap { f =>
      try { f.get(); None }
      catch { case e: ExecutionException => Some(e.getCause) }
    }
    failures.headOption.foreach { e =>
      failures.tail.foreach(e.addSuppressed); throw e
    }
  }
}

object TableRouter {
  /** `(tableName, value_type, rows)`, sorted: one batch's routing input. */
  type Histogram = Seq[(String, String, Long)]

  /** One batch's row counts: rows with `valid` = false, and the
    * histogram of the rest. */
  final case class BatchCounts(invalid: Long, hist: Histogram)

  /** Table-name policy, enforced at the single choke point before any
    * physical layer sees the name. The topic's last segment is attacker-
    * controllable; without this, '..' traverses the warehouse root,
    * '_'/'.' prefixes create directories invisible to bootstrap, and
    * SQL-identifier validation deep in the JDBC dialect would THROW from
    * foreachBatch — killing the query on the first exotic sensor name
    * (the reference's poison-halt again). Hyphens are allowed: they are
    * routine in MQTT sensor names and safe under quoted identifiers.
    * Invalid names are counted + routed to the reject sink instead. */
  private val validName = "^[A-Za-z0-9][A-Za-z0-9_-]{0,127}$".r
  private[sinks] def tableNameOk(name: String): Boolean =
    name != null && validName.pattern.matcher(name).matches()

  private type Key = (Boolean, String, String)
  private val Invalid: Key = (false, null, null)

  /** One key's rows in a task, and whether its rows are routed. */
  private final class Slot(val routed: Boolean) { var rows = 0L }

  /** The batch pass over one frame, not yet run. `frame` holds the
    * routed rows, [[TableCatalog.RoutedColumns]], and is read at most
    * once: reading it runs the pass. */
  private final class Pass(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType, perTask: CollectionAccumulator[Map[Key, Long]]) {
    lazy val frame: DataFrame = InternalFrames.of(spark, rows, schema)

    /** Run the pass on its own, dropping the routed rows. */
    def run(): BatchCounts = {
      PartWriter.withSqlConfs(spark)(rows.foreach(_ => ()))
      counts()
    }

    /** The counts of the one run of the pass: its tasks report through
      * an accumulator, exact because the pass is one result stage with no
      * shuffle (a result task's updates count once). */
    def counts(): BatchCounts = {
      val maps = perTask.value.asScala.toSeq
      if (maps.size != rows.getNumPartitions)
        throw new IllegalStateException(s"the batch pass read " +
          s"${maps.size} task outputs for ${rows.getNumPartitions} partitions")
      val merged = maps.flatten.groupMapReduce(_._1)(_._2)(_ + _)
      BatchCounts(
        merged.getOrElse(Invalid, 0L),
        merged.toSeq.collect { case ((true, t, vt), n) => (t, vt, n) }
          .sortBy(t => (t._1, t._2)))
    }
  }

  /** The batch pass over `df`: each task folds its rows into a map holding
    * at most one entry per (valid, table, value type), writes its invalid
    * rows into `rejectedDir`, and passes on the valid rows whose table
    * `takes` their value type under a name the policy allows. */
  private def pass(df: DataFrame, rejectedDir: Option[String],
      takes: Map[String, Set[String]]): Pass = {
    val valid = if (df.columns.contains("valid")) col("valid") else lit(true)
    val rejects = rejectedDir.map(dir =>
      (dir, PartWriter(df.sparkSession, Ingest.RejectedSchema)))
    // the routed columns lead, so a row of the selection is a routed row
    val selected = df.select(TableCatalog.RoutedColumns.map(col) ++
      Seq(valid) ++ rejects.toSeq.flatMap(_ =>
        Seq(col("topic"), col("payload"), when(!valid, Ingest.reason))): _*)
    val iTable = TableCatalog.RoutedColumns.indexOf("tableName")
    val iType = TableCatalog.RoutedColumns.indexOf("value_type")
    val iValid = TableCatalog.RoutedColumns.size
    val perTask = df.sparkSession.sparkContext
      .collectionAccumulator[Map[Key, Long]]
    val writeId = java.util.UUID.randomUUID().toString
    val rows = selected.queryExecution.toRdd.mapPartitions { rows =>
      PartWriter.inTask(writeId) { task =>
        val m = scala.collection.mutable.HashMap.empty[Key, Slot]
        var part: PartWriter.Part = null
        val out = new GenericInternalRow(3)
        def str(r: InternalRow, i: Int): String =
          if (r.isNullAt(i)) null else r.getUTF8String(i).toString
        val routed = rows.filter { r =>
          val k =
            if (r.getBoolean(iValid)) (true, str(r, iTable), str(r, iType))
            else {
              rejects.foreach { case (dir, w) =>
                if (part == null) part = task.open(w, dir, hidden = true)
                (0 until 3).foreach { i =>
                  if (r.isNullAt(iValid + 1 + i)) out.setNullAt(i)
                  else out.update(i, r.getUTF8String(iValid + 1 + i))
                }
                part.write(out)
              }
              Invalid
            }
          val slot = m.getOrElseUpdate(k, new Slot(k._1 &&
            tableNameOk(k._2) && takes.get(k._2).exists(_(k._3))))
          slot.rows += 1
          slot.routed
        }
        // the counts go out once the consumer has read every row
        routed ++ {
          perTask.add(m.view.mapValues(_.rows).toMap); Iterator.empty
        }
      }
    }
    new Pass(df.sparkSession, rows,
      StructType(selected.schema.take(TableCatalog.RoutedColumns.size)),
      perTask)
  }

  /** Count `df` by `(valid, tableName, value_type)` in ONE Spark job with
    * no shuffle: the batch pass with nothing routed. Each partition folds
    * its rows into a map holding at most one entry per (table, value
    * type), and the driver merges the maps — thousands of entries at
    * most, never data-sized. A frame without a `valid` column (the output
    * of [[graft.ingest.Ingest.records]]) counts every row as valid.
    *
    * With `rejectedDir`, `df` is a [[graft.ingest.Ingest.parse]]d frame
    * and the same job writes its invalid rows, as
    * [[graft.ingest.Ingest.rejectedOfParsed]] would, into that directory:
    * at most one parquet file per task, written under a hidden name and
    * renamed when the task ends ([[PartWriter.inTask]]). */
  def countBatch(df: DataFrame,
      rejectedDir: Option[String] = None): BatchCounts =
    pass(df, rejectedDir, Map.empty).run()
}
