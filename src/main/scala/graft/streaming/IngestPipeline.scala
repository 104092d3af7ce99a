package graft.streaming

import graft.ingest.Ingest
import graft.sinks.TableRouter
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's whole pipeline (SURVEY.md §3.1) as one Structured
  * Streaming query:
  *
  *   MQTT source → F1–F5 parse/validate → (optional at-least-once dedup)
  *   → foreachBatch: W2 route / W4 auto-DDL / W5 bulk append
  *   + rejected-rows side output.
  *
  * vs the reference (deliberate, documented improvements — SURVEY.md §4.3):
  *  - a poison message lands in `rejectedDir` with a reason; the query
  *    keeps running (reference: consumer goroutine dies silently,
  *    main.go:21-31);
  *  - micro-batch bulk appends (reference: one INSERT per message,
  *    db/db.go:259-264);
  *  - QoS-1 redeliveries collapsed by `dropDuplicatesWithinWatermark` on
  *    (topic, payload) — the reference has no dedup at all
  *    (client.go:132);
  *  - source offsets checkpoint → replay after crash (reference loses its
  *    in-flight channel, message.go:17).
  */
object IngestPipeline {

  /** Build the streaming frame from the MQTT source. Subscribes eagerly —
    * the reference connects+subscribes at startup before consuming
    * (main.go:68-70, :95); waiting until the query's first micro-batch
    * plans would drop everything published in between.
    *
    * @param connectors shard the topic-filter set across N connector
    *        sessions, one source input partition each (default 1 — the
    *        reference's single-connection layout) */
  def mqttStream(spark: SparkSession, clientId: String,
      topicFilters: Seq[String], connectors: Int = 1): DataFrame = {
    graft.sources.mqtt.MqttSource.reconfigure(clientId, topicFilters,
      connectors)
    spark.readStream.format("mqtt")
      .option("clientId", clientId)
      .option("topics", topicFilters.mkString(","))
      .option("connectors", connectors.toString)
      .load()
  }

  /** Thrown in strict-compat mode when a batch contains a bad message —
    * reproducing the reference's die-on-first-poison semantics
    * (main.go:21-31) for bug-for-bug comparisons. */
  final class PoisonMessageException(msg: String) extends RuntimeException(msg)

  /** Optional standing near-dup cluster stage, folded INSIDE the same
    * micro-batch as the warehouse route (one source, one checkpoint
    * lineage — see [[IncrementalClusters.foldBatch]]). String-typed
    * records stream into the evolving union-find; `maxResident` bounds
    * the driver-held root map (the production knob the daemon exposes
    * as `-maxResidentRoots`), and `onUpdate` is the per-batch gauge
    * hook. Caller owns idx/state lifecycle (initState before start,
    * idx.release() on stop). */
  final case class ClustersStage(
      idx: IncrementalClusters.GrowingIndex,
      state: IncrementalClusters.State,
      checkpointDir: String,
      maxResident: Int = Int.MaxValue,
      onUpdate: IncrementalClusters.Clusters => Unit = _ => ())

  /** Wire parse + route + rejected sink onto any (topic, payload[, ...])
    * streaming frame and start it. */
  def start(
      source: DataFrame,
      router: TableRouter,
      checkpointDir: String,
      rejectedDir: Option[String] = None,
      dedupWithinWatermark: Option[String] = None,
      strictPoisonStop: Boolean = false,
      clusters: Option[ClustersStage] = None): StreamingQuery = {

    val deduped = dedupWithinWatermark match {
      case Some(delay) if source.columns.contains("receivedAt") =>
        source.withWatermark("receivedAt", delay)
          .dropDuplicatesWithinWatermark("topic", "payload")
      case _ => source
    }

    deduped.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // Coalesce, never shuffle: write tasks (and so files per routed
        // table) never outnumber the task slots, and the input decides
        // the width — a one-connector feed stays one partition, a sharded
        // backlog folds down to the slot count. A batch whose tables all
        // exist is ONE shuffle-free job: the router's batch pass counts
        // it, writes its rejected rows and hands the routed rows to the
        // catalog's write, which reads them once — so the parse is not
        // persisted. Rows of new tables cost one more job.
        val slots = batch.sparkSession.sparkContext.defaultParallelism
        val parsed = Ingest.parse(batch.select("topic", "payload")
          .coalesce(slots))
        // Rejected rows are written by the pass, BEFORE the data
        // commit. If they were written after, a crash between
        // commitBatch and the rejected write would lose those rows
        // forever (the replay guard would skip them). This order gives
        // the audit trail at-least-once (duplicates possible on replay
        // of an uncommitted batch) and the data path effectively-once —
        // the right asymmetry for an audit log. Strict mode writes no
        // rejected rows: it fails the batch on the first one, before
        // any DDL and before the commit.
        router.routeBatch(parsed, batchId,
          rejectedDir.filter(_ => !strictPoisonStop)) { counts =>
          if (strictPoisonStop && counts.invalid > 0) {
            // strict-compat: reference halts on the first bad message
            val bad = Ingest.rejectedOfParsed(parsed).limit(1).collect().head
            throw new PoisonMessageException(
              s"poison message on topic '${bad.getAs[String]("topic")}'" +
                s": ${bad.getAs[String]("reason")}")
          }
        }
        // standing cluster fold AFTER the data commit: a crash in
        // between replays the batch — the router skips (isCommitted)
        // and the fold runs (its own lastBatch guard), so neither
        // side double-applies. doc_id = xxhash64(topic, payload) is
        // replay-stable: a QoS-1 redelivery maps to the same id and
        // the fold's self-pair guards drop it. It re-reads the batch
        // from its source partitions: no broker fetch.
        clusters.foreach { cs =>
          val docs = parsed
            .filter(col("valid") && col("value_type") === "String")
            .select(xxhash64(col("topic"), col("payload")).as("doc_id"),
              col("value_s").as("text"))
          IncrementalClusters.foldBatch(docs, batchId, cs.idx,
            cs.checkpointDir, cs.state, cs.onUpdate, cs.maxResident)
        }
        ()
      }
      .start()
  }
}
