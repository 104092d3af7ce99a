package graft.sinks

import graft.ingest.Ingest
import graft.registry.{ColumnDef, SchemaRegistry}
import java.util.concurrent.{Callable, ExecutionException, Future}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
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
  *   - then W5 bulk append of the typed per-table slice.
  *
  * The only driver-side collects are the per-batch `(tableName,
  * value_type)` histogram ([[TableRouter.countBatch]]) and the part-file
  * names of the routed write — cardinality = number of distinct sensors,
  * thousands at most, never data-sized. Row data itself moves
  * executor-side only.
  *
  * Routed table schema is the reference's golden shape
  * `[client String, device String, value <inferred>]`
  * (/root/reference/message/message_test.go:177-198).
  */
final class TableRouter(registry: SchemaRegistry, catalog: TableCatalog,
    appendParallelism: Int = 4,
    schemaRejectSink: Option[DataFrame => Unit] = None) {

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

  // shared bounded pool for a batch's side writes (the schema-reject
  // sink, per-table fallback appends) — routeBatch runs per micro-batch
  // and must not churn a fresh thread pool on the hot path
  private lazy val appendPool =
    java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, appendParallelism),
      (r: Runnable) => {
        val t = new Thread(r, "router-append"); t.setDaemon(true); t
      })

  private def colsFor(chType: String): Seq[ColumnDef] = Seq(
    ColumnDef("client", "String"),
    ColumnDef("device", "String"),
    ColumnDef("value", chType))

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

  /** Route one micro-batch of parsed records (output of
    * [[graft.ingest.Ingest.records]]), counting its histogram with
    * [[TableRouter.countBatch]] first.
    *
    * With `batchId >= 0` (streaming), replayed batches the catalog has
    * already committed are skipped — effectively-once appends across
    * query restarts for catalogs that record commits. */
  def routeBatch(batch: DataFrame, batchId: Long = -1L): RouteStats =
    routeBatch(batch, batchId, TableRouter.countBatch(batch).hist)

  /** [[routeBatch]] with the caller's histogram of `batch`. `histogram`
    * is evaluated only when the batch is not committed yet, before the
    * catalog's [[TableCatalog.beginBatch]]: a caller can run its own
    * per-batch work there (the pipeline counts and writes its rejected
    * rows in the same pass), which a replay of a committed batch skips.
    *
    * Every table's rows go to the catalog in ONE [[TableCatalog
    * .appendRouted]] call, beside the schema-reject sink; all writes
    * finish before `commitBatch`, and any failure skips the commit and is
    * rethrown.
    *
    * `batch` is read once per write and is not cached here: pass a
    * persisted frame when it is costly to recompute. */
  def routeBatch(batch: DataFrame, batchId: Long,
      histogram: => TableRouter.Histogram): RouteStats = {
    if (batchId >= 0 && catalog.batchCommitted(batchId))
      return RouteStats(Map.empty, Map.empty, alreadyCommitted = true)
    val hist = histogram
    // transactional catalogs defer append visibility until the single
    // commitBatch below — rows + batch id become visible atomically
    if (batchId >= 0) catalog.beginBatch(batchId)
    val writes = scala.collection.mutable.ArrayBuffer.empty[Future[Unit]]
    def submit(body: => Unit): Unit = writes += appendPool.submit(
      new Callable[Unit] { def call(): Unit = body })
    val stats = try {
      val appended = scala.collection.mutable.Map.empty[String, Long]
      val rejected = scala.collection.mutable.Map.empty[String, Long]
      val badNames = scala.collection.mutable.Map.empty[String, Long]
      val appendTasks = scala.collection.mutable.ArrayBuffer
        .empty[(String, String, String)] // (table, vt, valueCol)

      // Phase 1 (serial, driver): name policy + DDL + schema decisions —
      // cheap, order-sensitive (first sight fixes the schema).
      hist.groupBy(_._1).toSeq.sortBy(_._1).foreach {
        case (table, groups) if !tableNameOk(table) =>
          badNames(table) = groups.map(_._3).sum
        case (table, groups) =>
          // First message for a sensor fixes its schema (reference
          // db/db.go:187-195). Within one batch arrival order is
          // undefined, so the engine picks deterministically: the most
          // frequent type, ties broken alphabetically.
          val tableType: String = registry.get(table) match {
            case Some(cols) => cols.last.chType
            case None =>
              val chosen = groups.maxBy(g => (g._3, g._2.head * -1))._2
              catalog.createTable(table, colsFor(chosen))
              registry.put(table, colsFor(chosen))
              chosen
          }
          groups.foreach { case (_, vt, n) =>
            registry.checkValid(
                registry.get(table).get, colsFor(vt)) match {
              case None =>
                val valueCol =
                  if (tableType == "String") "value_s" else "value_d"
                appendTasks += ((table, vt, valueCol))
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
          val mismatchCond = hist.filter { case (table, vt, _) =>
            registry.get(table).exists(cols =>
              registry.checkValid(cols, colsFor(vt)).isDefined)
          }.map { case (table, vt, _) =>
            col("tableName") === table && col("value_type") === vt
          }
          val nameCond = badNames.keys.toSeq.sorted
            .map(t => col("tableName") === t)
          (mismatchCond ++ nameCond).reduceOption(_ || _)
            .foreach(cond => submit(sink(batch.filter(cond))))
        }

      // Phase 2: appends. Fast path — ONE routed write for every table
      // and both value types (validated tasks always have vt == table
      // type). Catalogs without a routed write (JDBC) fall back to one
      // append per table, on the pool.
      if (appendTasks.nonEmpty) {
        val cond = appendTasks.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (vt, tasks) =>
            col("value_type") === vt &&
              col("tableName").isInCollection(tasks.map(_._1))
          }.reduce(_ || _)
        val routedDf = batch.filter(cond)
          .select(TableCatalog.RoutedColumns.map(col): _*)
        if (!catalog.appendRouted(routedDf, appendTasks.map(_._1).toSeq))
          appendTasks.foreach { case (table, vt, valueCol) =>
            submit(catalog.append(table,
              batch.filter(col("tableName") === table &&
                  col("value_type") === vt)
                .select(col("client"), col("device"),
                  col(valueCol).as("value"))))
          }
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

  /** Count `df` by `(valid, tableName, value_type)` in ONE Spark job with
    * no shuffle: each partition folds its rows into a map holding at most
    * one entry per (table, value type), and the driver merges the maps —
    * thousands of entries at most, never data-sized. A frame without a
    * `valid` column (the output of [[graft.ingest.Ingest.records]]) counts
    * every row as valid.
    *
    * With `rejectedDir`, `df` is a [[graft.ingest.Ingest.parse]]d frame
    * and the same job writes its invalid rows, as
    * [[graft.ingest.Ingest.rejectedOfParsed]] would, into that directory:
    * at most one parquet file per task, written under a hidden name and
    * renamed when the task closes it ([[PartWriter]]). */
  def countBatch(df: DataFrame,
      rejectedDir: Option[String] = None): BatchCounts = {
    val valid = if (df.columns.contains("valid")) col("valid") else lit(true)
    val rejects = rejectedDir.map(dir => (dir,
      PartWriter(df.sparkSession, Ingest.rejectedOfParsed(df).schema)))
    val cols = Seq(valid, col("tableName"), col("value_type")) ++
      rejects.toSeq.flatMap(_ =>
        Seq(col("topic"), col("payload"), when(!valid, Ingest.reason)))
    val writeId = java.util.UUID.randomUUID().toString
    val perPartition = PartWriter.withSqlConfs(df.sparkSession) {
      df.select(cols: _*).queryExecution.toRdd.mapPartitions { rows =>
        PartWriter.inTask(writeId) { task =>
          val m = scala.collection.mutable.HashMap
            .empty[(Boolean, String, String), Long]
          var part: PartWriter.Part = null
          val out = new GenericInternalRow(3)
          def str(r: InternalRow, i: Int): String =
            if (r.isNullAt(i)) null else r.getUTF8String(i).toString
          rows.foreach { r =>
            val k = if (r.getBoolean(0)) (true, str(r, 1), str(r, 2))
              else {
                rejects.foreach { case (dir, w) =>
                  if (part == null) part = task.open(w, dir, hidden = true)
                  (0 until 3).foreach { i =>
                    if (r.isNullAt(3 + i)) out.setNullAt(i)
                    else out.update(i, r.getUTF8String(3 + i))
                  }
                  part.write(out)
                }
                (false, null, null)
              }
            m(k) = m.getOrElse(k, 0L) + 1
          }
          m.toSeq
        }.iterator
      }.collect()
    }
    val merged = perPartition.groupMapReduce(_._1)(_._2)(_ + _)
    BatchCounts(
      merged.getOrElse((false, null, null), 0L),
      merged.toSeq.collect { case ((true, t, vt), n) => (t, vt, n) }
        .sortBy(t => (t._1, t._2)))
  }
}
