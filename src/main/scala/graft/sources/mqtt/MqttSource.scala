package graft.sources.mqtt

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 micro-batch MQTT source (SURVEY.md §2.1 S1–S4):
  *
  * {{{
  * spark.readStream.format("mqtt")
  *   .option("clientId", "engine-1")
  *   .option("topics", "/+/+/out/sensors/#,/alerts/#")
  *   .load()  // topic STRING, payload STRING, receivedAt TIMESTAMP
  * }}}
  *
  * - Offsets are the broker-session sequence number → exactly-once replay
  *   within a session from the checkpoint (the reference loses its channel
  *   backlog on crash — message.go:17; deviation §4.3 by design).
  * - `MqttSource.reconfigure(clientId, topics)` swaps the subscription set;
  *   the swap takes effect between micro-batches (reference drops messages
  *   during its unsubscribe/subscribe window, main.go:104-107 — here the
  *   boundary is atomic).
  * - **Connector sharding** (`option("connectors", N)`): the topic-filter
  *   set is round-robin sharded across N connector sessions
  *   (`<clientId>#0..N-1`), each an independent ordered feed emitting its
  *   OWN input partition per micro-batch — the ingest stage starts N-wide
  *   instead of re-splitting one feed. Offsets are a per-shard sequence
  *   vector in the checkpoint. Per-topic order is preserved: a topic's
  *   messages ride the shard(s) whose filter matches it, and each shard
  *   is ordered end-to-end (an MQTT connection is a single ordered feed —
  *   the reference's single channel, message.go:17). Changing N requires
  *   a new checkpoint (shard count is part of the offset shape). The
  *   default N=1 is the reference's exact single-connection layout; for
  *   multi-BROKER fan-in you still union sources.
  */
class MqttDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "mqtt"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MqttSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new MqttTable(new CaseInsensitiveStringMap(properties))
}

object MqttSource {
  val schema: StructType = StructType(Seq(
    StructField("topic", StringType),
    StructField("payload", StringType),
    StructField("receivedAt", TimestampType)))

  /** Connector-session ids for a sharded source: the bare `clientId` for
    * a single connector (exact back-compat), `<clientId>#i` otherwise. */
  private[graft] def shardIds(clientId: String, connectors: Int): Seq[String] =
    if (connectors <= 1) Seq(clientId)
    else (0 until connectors).map(i => s"$clientId#$i")

  /** Round-robin assignment of topic FILTERS to connector shards. A
    * filter lives on exactly one shard; a topic matching filters on two
    * shards is delivered by both — the same semantics two overlapping
    * real MQTT subscriptions on separate connections have. */
  private[graft] def shardFilters(filters: Seq[String], connectors: Int,
      shard: Int): Seq[String] =
    filters.zipWithIndex.collect {
      case (f, i) if i % math.max(1, connectors) == shard => f
    }

  /** S2/S3 — dynamic reconfiguration entry point (what the reference's
    * Consul watcher calls on a topic-map change, main.go:97-108). For a
    * sharded source pass the same `connectors` the query was started
    * with, so the new filter set lands on the same shard sessions. */
  def reconfigure(clientId: String, topicFilters: Seq[String],
      connectors: Int = 1): Unit =
    shardIds(clientId, connectors).zipWithIndex.foreach { case (sid, i) =>
      InMemoryBroker.setSubscriptions(sid,
        shardFilters(topicFilters, connectors, i))
    }
}

final class MqttTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"mqtt(${options.get("clientId")})"
  override def schema(): StructType = MqttSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = MqttSource.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
        val clientId = Option(opts.get("clientId")).getOrElse("default")
        val topics = Option(opts.get("topics"))
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Nil)
        val connectors =
          math.max(1, Option(opts.get("connectors")).map(_.toInt).getOrElse(1))
        val connector = MqttConnectors.resolve(k => Option(opts.get(k)))
        val ids = MqttSource.shardIds(clientId, connectors)
        // Apply the option set only on FIRST connect: a query restart
        // re-runs this with the original (possibly stale) option string,
        // which must not revert a later dynamic reconfigure() — including
        // an explicit unsubscribe-all (hence "configured", not "nonEmpty").
        ids.zipWithIndex.foreach { case (sid, i) =>
          if (!connector.isConfigured(sid))
            connector.setSubscriptions(sid,
              MqttSource.shardFilters(topics, connectors, i))
        }
        val maxRows = Option(opts.get("maxRowsPerTrigger")).map(_.toLong)
        new MqttMicroBatchStream(connector, ids, maxRows)
      }
    }
}

/** Per-shard sequence vector; `json` is comma-joined so a single-shard
  * offset serializes exactly as the pre-sharding scalar did (old
  * checkpoints keep working). */
final case class MqttOffset(seqs: Seq[Long]) extends Offset {
  override def json(): String = seqs.mkString(",")
}

object MqttOffset {
  def parse(json: String): MqttOffset =
    MqttOffset(json.trim.split(",").toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.toLong))
}

/** @param maxRowsPerTrigger S4's bounded-buffer analog (SURVEY §2.1):
  *        caps each micro-batch's admitted rows so a broker burst (or a
  *        large backlog on restart) becomes several bounded batches
  *        instead of one giant one. The budget splits evenly across
  *        shards; None = admit everything available. */
final class MqttMicroBatchStream(connector: MqttConnector,
    shardIds: Seq[String], maxRowsPerTrigger: Option[Long] = None)
    extends MicroBatchStream with SupportsAdmissionControl {
  // missing vector entries read as 0: a restart that GREW the shard count
  // starts the new shards from the beginning of their (new) feeds
  private def seqAt(o: Offset, i: Int): Long =
    o.asInstanceOf[MqttOffset].seqs.lift(i).getOrElse(0L)

  override def initialOffset(): Offset =
    MqttOffset(Seq.fill(shardIds.size)(0L))
  override def latestOffset(): Offset =
    MqttOffset(shardIds.map(connector.latestSeq))
  override def deserializeOffset(json: String): Offset =
    MqttOffset.parse(json)

  override def getDefaultReadLimit: ReadLimit =
    maxRowsPerTrigger.map(n => ReadLimit.maxRows(n))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val latest = shardIds.map(connector.latestSeq)
    limit match {
      case rl: ReadMaxRows =>
        val per = math.max(1L, rl.maxRows() / shardIds.size)
        MqttOffset(latest.zipWithIndex.map { case (l, i) =>
          math.min(l, seqAt(start, i) + per)
        })
      case _ => MqttOffset(latest)
    }
  }
  override def commit(end: Offset): Unit = {
    synchronized { planned = None }
    // committed prefix is never re-read (the checkpoint owns replay from
    // here) — drop it so each shard's buffer stays bounded
    shardIds.zipWithIndex.foreach { case (sid, i) =>
      connector.truncate(sid, seqAt(end, i))
    }
  }
  override def stop(): Unit = ()

  // the last range planned: the planner asks once per copy of its scan
  // node, so a batch would otherwise be fetched several times
  private var planned: Option[((Offset, Offset), Array[InputPartition])] =
    None

  /** One input partition per shard with pending messages — each an
    * ordered slice of that shard's feed, so per-topic order survives the
    * parallel read. A range is fetched once, until [[commit]]. */
  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = synchronized {
    planned.collect { case ((s, e), ps) if s == start && e == end => ps }
      .getOrElse {
        val ps = shardIds.zipWithIndex.flatMap { case (sid, i) =>
          val msgs = connector.fetch(sid, seqAt(start, i), seqAt(end, i))
          if (msgs.isEmpty) None else Some(MqttInputPartition(msgs.toArray))
        }.toArray[InputPartition]
        planned = Some(((start, end), ps))
        ps
      }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new MqttPartitionReader(p.asInstanceOf[MqttInputPartition].msgs)
    }
}

final case class MqttInputPartition(msgs: Array[InMemoryBroker.Msg])
    extends InputPartition

final class MqttPartitionReader(msgs: Array[InMemoryBroker.Msg])
    extends PartitionReader[InternalRow] {
  private var i = -1
  override def next(): Boolean = { i += 1; i < msgs.length }
  override def get(): InternalRow = {
    val m = msgs(i)
    InternalRow(UTF8String.fromString(m.topic),
      UTF8String.fromString(m.payload), m.tsMicros)
  }
  override def close(): Unit = ()
}
