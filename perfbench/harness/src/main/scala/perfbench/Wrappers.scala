package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.registry.ColumnDef
import graft.sinks.{ManifestCatalog, TableCatalog}
import graft.sources.mqtt.{InMemoryBroker, MqttConnector}

/** Samples of one timed call site, thread-safe. */
final class Samples {
  private val xs = ArrayBuffer.empty[Double]
  def add(v: Double): Unit = synchronized { xs += v; () }
  def all: Seq[Double] = synchronized(xs.toSeq)
  def count: Int = synchronized(xs.size)
}

/** Delegating [[TableCatalog]] that times the calls the router makes
  * (auto-DDL, routed append, batch commit) and remembers when each
  * streaming batch committed. */
final class TimedCatalog(val inner: ManifestCatalog, tr: Tracer)
    extends TableCatalog {
  val ddl = new Samples
  val append = new Samples
  val commit = new Samples
  /** (start, end) of every append call, epoch ms. */
  val appendSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
  /** batchId → epoch ms at which the router began its batch. */
  val begunAt = new ConcurrentHashMap[Long, Double]()
  /** batchId → epoch ms at which commitBatch returned. */
  val committedAt = new ConcurrentHashMap[Long, Double]()
  @volatile private var batch = -1L

  private def timed[T](name: String, layer: String, into: Samples)(
      body: => T): T = {
    val s = Clock.nowMs()
    try body
    finally {
      val e = Clock.nowMs()
      into.add(e - s)
      if (into eq append) appendSpans.add((s, e))
      tr.record(Span(name, layer, s"batch:$batch", "addBatch", s, e, 2))
    }
  }

  override def listTables(): Seq[String] = inner.listTables()
  override def describe(table: String): Seq[ColumnDef] = inner.describe(table)
  override def createTable(table: String, cols: Seq[ColumnDef]): Unit =
    timed(s"createTable $table", "sinks.ddl", ddl)(
      inner.createTable(table, cols))
  override def append(table: String, df: DataFrame): Unit =
    timed(s"append $table", "sinks.append", append)(inner.append(table, df))
  override def appendRouted(df: DataFrame, tables: Seq[String]): Boolean =
    timed(s"appendRouted ${tables.size} tables", "sinks.append", append)(
      inner.appendRouted(df, tables))
  override def batchCommitted(batchId: Long): Boolean =
    inner.batchCommitted(batchId)
  override def beginBatch(batchId: Long): Unit = {
    batch = batchId
    begunAt.put(batchId, Clock.nowMs())
    inner.beginBatch(batchId)
  }
  override def commitBatch(batchId: Long): Unit = {
    timed("commitBatch", "sinks.commit", commit)(inner.commitBatch(batchId))
    committedAt.put(batchId, Clock.nowMs())
    ()
  }
}

/** Delegating [[MqttConnector]] that times fetches and samples the
  * backlog. With `gated`, messages become visible to the source only
  * when [[release]] is called, so a pre-published backlog is offered to
  * the engine all at once. */
final class TimedConnector(inner: MqttConnector, tr: Tracer,
    gated: Boolean = false) extends MqttConnector {
  val fetchMs = new Samples
  val backlog = new Samples
  @volatile var fetched = 0L
  private val released = new ConcurrentHashMap[String, java.lang.Long]()

  def release(clientIds: Seq[String]): Unit =
    clientIds.foreach(c => released.put(c, inner.latestSeq(c)))

  override def setSubscriptions(clientId: String, topics: Seq[String]): Unit =
    inner.setSubscriptions(clientId, topics)
  override def isConfigured(clientId: String): Boolean =
    inner.isConfigured(clientId)
  override def fetch(clientId: String, fromSeq: Long,
      untilSeq: Long): Seq[InMemoryBroker.Msg] = {
    val s = Clock.nowMs()
    backlog.add((inner.latestSeq(clientId) - fromSeq).toDouble)
    val out = inner.fetch(clientId, fromSeq, untilSeq)
    val e = Clock.nowMs()
    fetchMs.add(e - s)
    synchronized { fetched += out.size }
    tr.record(Span(s"fetch $clientId", "mqtt.fetch", "", "planning", s, e, 2))
    out
  }
  override def latestSeq(clientId: String): Long = {
    val l = inner.latestSeq(clientId)
    if (gated) math.min(l, Option(released.get(clientId)).map(_.longValue)
      .getOrElse(0L))
    else l
  }
  override def truncate(clientId: String, uptoSeq: Long): Unit =
    inner.truncate(clientId, uptoSeq)
}

/** One micro-batch as its progress event reports it. */
final case class Batch(id: Long, startMs: Double, rows: Long,
    endOffsets: Seq[Long], durations: Map[String, Double]) {
  def triggerMs: Double = durations.getOrElse("triggerExecution", 0.0)
}

/** Collects every progress event of the running streaming query. */
final class Progress extends StreamingQueryListener {
  private val batches = ArrayBuffer.empty[Batch]
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) synchronized {
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      import scala.jdk.CollectionConverters._
      val ends = p.sources.headOption.map(s =>
        graft.sources.mqtt.MqttOffset.parse(s.endOffset).seqs)
        .getOrElse(Nil)
      batches += Batch(p.batchId, start, p.numInputRows, ends,
        p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap)
    }
  }
  def all: Seq[Batch] = synchronized(batches.sortBy(_.id).toSeq)
}
