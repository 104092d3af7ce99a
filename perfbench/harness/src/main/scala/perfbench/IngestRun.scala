package perfbench

import java.io.{BufferedReader, DataInputStream, File, FileInputStream, InputStreamReader}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.registry.SchemaRegistry
import graft.sinks.{ManifestCatalog, TableRouter}
import graft.sources.mqtt.{InMemoryBroker, MqttConnectors, MqttSettings, MqttSource, TcpMqttConnector}
import graft.streaming.IngestPipeline

/** The two ingest workloads. Both drive `IngestPipeline.start` with the
  * engine's default catalog (ManifestCatalog) behind a timing wrapper. */
object IngestRun {
  val LiveRate = 1000
  val LiveSensors = 10
  /** Warm-up: at least this long and this many committed batches, so
    * the backlog left by the first (JVM-cold, table-creating) batch has
    * drained and the JIT has compiled the per-batch path before
    * measurement starts; the first measured batches set the tail. */
  val LiveWarmupS = 6
  val LiveWarmupBatches = 10
  val LiveMaxS = 120
  val BacklogSensors = 20
  val BacklogShards = 4
  val BacklogWarmup = 50000
  val BacklogRound = 100000
  val BacklogMaxRows = 50000L
  val BacklogFilters = Seq("/c0/#", "/c1/#", "/c2/#", "c/#")

  /** Connector sessions of a sharded source (`<clientId>#i`, as
    * MqttSource names them). */
  private def shardIds(cid: String): Seq[String] =
    (0 until BacklogShards).map(i => s"$cid#$i")

  /** Everything a running pipeline is made of. */
  final class Pipe(val spark: SparkSession, val root: File,
      val catalog: TimedCatalog, val connector: TimedConnector,
      val query: StreamingQuery, val progress: Progress,
      val rejectedDir: File) {
    def warehouse: String = new File(root, "warehouse").toString
  }

  private def startPipe(spark: SparkSession, root: File, tr: Tracer,
      connector: TimedConnector, cid: String, filters: Seq[String],
      shards: Int, maxRows: Option[Long], name: String): Pipe = {
    val catalog = new TimedCatalog(
      new ManifestCatalog(spark, new File(root, "warehouse").toString), tr)
    val router = new TableRouter(new SchemaRegistry, catalog)
    MqttConnectors.register(name, connector)
    val progress = new Progress
    spark.streams.addListener(progress)
    val rejected = new File(root, "rejected")
    val reader = spark.readStream.format("mqtt")
      .option("clientId", cid)
      .option("topics", filters.mkString(","))
      .option("connectors", shards.toString)
      .option("connector", name)
    val source = maxRows.fold(reader)(n =>
      reader.option("maxRowsPerTrigger", n.toString)).load()
    val q = IngestPipeline.start(source, router,
      new File(root, "checkpoint").toString,
      rejectedDir = Some(rejected.toString))
    new Pipe(spark, root, catalog, connector, q, progress, rejected)
  }

  // ------------------------------------------------------------ live

  def live(a: Args, spark: SparkSession, rep: Report, tr: Tracer,
      jl: Option[JobListener], setup: Setup): Unit = {
    val count = LiveRate.toLong * LiveMaxS
    val genOut = new File(a.work, "generator.bin")
    val gen = new ProcessBuilder(
      new File(System.getProperty("java.home"), "bin/java").toString,
      "-Xmx256m", "-XX:+UseSerialGC",
      "-Djava.io.tmpdir=" + a.work.getAbsolutePath,
      "-cp", System.getProperty("java.class.path"),
      "perfbench.Generator", LiveRate.toString, count.toString,
      LiveSensors.toString, a.seed.toString, genOut.toString)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val genLines = new BufferedReader(new InputStreamReader(gen.getInputStream))
    var tcp: TcpMqttConnector = null
    val cid = "perfbench-live"
    try {
      val port = genLines.readLine().stripPrefix("PORT ").trim.toInt
      val pipe = setup.phase("layout") {
        tcp = new TcpMqttConnector(MqttSettings("127.0.0.1", port, cid,
          keepAliveSecs = 0)).connect()
        startPipe(spark, new File(a.work, "live"), tr,
          new TimedConnector(tcp, tr), cid, Seq("#"), 1, None, "perfbench-live")
      }
      // warm-up: the generator starts on SUBSCRIBE; the first batch
      // creates every routed table
      setup.phase("first_batch") {
        while (pipe.catalog.committedAt.isEmpty) Thread.sleep(2)
      }
      // one closed-loop reader: point lookups on a rotating table. It
      // starts with the warm-up, so its load is already on when
      // measurement begins.
      val reads = new Readers(pipe, a.seed, rep)
      val readerThread = new Thread(() => reads.loop(), "perfbench-reader")
      readerThread.setDaemon(true)
      readerThread.start()
      val start = genLines.readLine().stripPrefix("START ").trim.toDouble
      while (pipe.catalog.committedAt.size < LiveWarmupBatches ||
          Clock.nowMs() < start + LiveWarmupS * 1000.0) Thread.sleep(2)
      val measured0 = Clock.nowMs()
      reads.measureFrom(measured0)
      setup.done()
      val gc0 = Env.gcMs()

      Thread.sleep(math.max(0L, (measured0 + a.seconds * 1000.0 -
        Clock.nowMs()).toLong))
      val t1 = Clock.nowMs()
      Log("window over; stopping the generator")
      val ctl = new java.io.PrintStream(gen.getOutputStream, true)
      ctl.println("STOP")
      val done = genLines.readLine() // DONE sent=... after the last send
      val sent = "sent=(\\d+)".r.findFirstMatchIn(done).map(_.group(1).toLong)
        .getOrElse(-1L)
      reads.stop()
      readerThread.join()
      // drain: every sent message committed
      val deadline = Clock.nowMs() + 60000
      while (tcp.latestSeq(cid) < sent && Clock.nowMs() < deadline)
        Thread.sleep(10)
      Log(s"generator: $done; draining")
      pipe.query.processAllAvailable()
      pipe.query.stop()
      Log("query stopped")
      // every progress event of the query delivered
      org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)

      val dues = readGenerator(genOut)
      val batches = pipe.progress.all
      val lat = ArrayBuffer.empty[Double]
      var b = 0
      var i = 0
      while (i < dues.length) {
        while (b < batches.size && batches(b).endOffsets.head <= i) b += 1
        if (dues(i)._1 >= measured0 && dues(i)._1 < t1 && b < batches.size)
          Option(pipe.catalog.committedAt.get(batches(b).id))
            .foreach(c => lat += c - dues(i)._1)
        i += 1
      }
      rep.metric("op_latency_ms", Stats.median(lat), "ms")
      // p90, not p99: both sit in the slowest one or two batches of the
      // window, and p99 spread half as wide again from run to run
      rep.metric("op_latency_tail_ms", Stats.pct(lat, 90), "ms")
      rep.note("tail_percentile", 90)
      val committed = batches.filter(x => x.startMs >= measured0)
      rep.note("msgs_per_s", lat.size / ((t1 - measured0) / 1000.0))
      rep.note("latency_samples", lat.size)
      rep.note("generator", done)
      rep.note("read_latency_p50_ms", Stats.median(reads.total.all))
      rep.note("read_samples", reads.total.count)
      rep.note("batches_measured", committed.size)
      // (start relative to the window in ms, triggerExecution ms, rows)
      rep.note("batches", batches.map(x => Seq(
        math.round(x.startMs - measured0), math.round(x.triggerMs), x.rows)))

      val lag = dues.map { case (d, s) => s - d }
      rep.metric("gen.sent_msgs", dues.length.toDouble, "count")
      rep.metric("gen.lag_p99_ms", Stats.pct(lag, 99), "ms")
      jl.foreach(l => layers(rep, tr, l, pipe, measured0, t1, gc0, reads))
      Log("checking the warehouse")
      reads.verify(Check.ingest(pipe, Feed(LiveSensors, a.seed),
        dues.length.toLong, rep), rep)
      Log("checked")
    } finally {
      if (tcp != null) tcp.close()
      gen.waitFor(20, java.util.concurrent.TimeUnit.SECONDS)
      gen.destroyForcibly().waitFor()
    }
  }

  /** (due_ms, sent_ms) per sequence number. */
  private def readGenerator(f: File): IndexedSeq[(Double, Double)] = {
    val in = new DataInputStream(new java.io.BufferedInputStream(
      new FileInputStream(f)))
    try {
      in.readDouble()
      val n = in.readLong().toInt
      (0 until n).map(_ => (in.readDouble(), in.readDouble()))
    } finally in.close()
  }

  /** Point lookups (`device = …`) through ManifestCatalog.read, one at a
    * time with a 1 s pause, rotating over the routed tables. */
  final class Readers(pipe: Pipe, seed: Long, rep: Report) {
    @volatile private var running = true
    @volatile private var from = Double.MaxValue
    /** Time only the reads that start at or after `t`. */
    def measureFrom(t: Double): Unit = from = t
    val total = new Samples
    val exec = new Samples
    val files = new Samples
    private val seen = ArrayBuffer.empty[(String, String, Long)]
    private val feed = Feed(LiveSensors, seed)
    def stop(): Unit = running = false
    def loop(): Unit = {
      val rnd = new scala.util.Random(seed)
      pipe.spark.sparkContext.setCallSite("point read at IngestRun.scala")
      var k = 0
      while (running) {
        // rotate over the tables that exist at this moment
        val tables = pipe.catalog.inner.listTables()
        val t = tables((k * 7 + rnd.nextInt(tables.size)) % tables.size)
        val dev = feed.device(k.toLong)
        rep.synchronized(rep.attempted += 1)
        try {
          val s = Clock.nowMs()
          val df = pipe.catalog.inner.read(t).filter(col("device") === dev)
          val m = Clock.nowMs()
          val n = df.count()
          val e = Clock.nowMs()
          if (s >= from) {
            total.add(e - s); exec.add(e - m)
            files.add(pipe.catalog.inner.fileCount(t).toDouble)
          }
          seen.synchronized { seen += ((t, dev, n)) }
        } catch { case NonFatal(e) => rep.synchronized(rep.fail(s"read $t: $e")) }
        k += 1
        var slept = 0
        while (running && slept < 1000) { Thread.sleep(50); slept += 50 }
      }
    }
    /** A read may lag the final table but never exceed it. */
    def verify(finals: collection.Map[(String, String), Long],
        rep: Report): Unit = seen.synchronized {
      seen.foreach { case (t, d, n) =>
        val f = finals.getOrElse((t, d), 0L)
        if (n > f) rep.fail(s"read $t/$d saw $n > $f")
      }
    }
  }

  // --------------------------------------------------------- backlog

  def backlog(a: Args, spark: SparkSession, rep: Report, tr: Tracer,
      jl: Option[JobListener], setup: Setup): Unit = {
    val cid = "perfbench-backlog"
    val ids = shardIds(cid)
    val feed = Feed(BacklogSensors, a.seed)
    val conn = new TimedConnector(InMemoryBroker, tr, gated = true)
    var published = 0L
    def publish(n: Int): Unit = {
      var k = 0
      while (k < n) {
        val (t, p) = feed.message(published)
        InMemoryBroker.publish(t, p)
        published += 1; k += 1
      }
    }
    val pipe = setup.phase("layout") {
      ids.foreach(InMemoryBroker.reset)
      MqttSource.reconfigure(cid, BacklogFilters, BacklogShards)
      startPipe(spark, new File(a.work, "backlog"), tr, conn, cid,
        BacklogFilters, BacklogShards, Some(BacklogMaxRows), "perfbench-backlog")
    }
    setup.phase("first_batch") {
      publish(BacklogWarmup)
      conn.release(ids)
      pipe.query.processAllAvailable()
    }
    setup.done()

    val gc0 = Env.gcMs()
    val t0 = Clock.nowMs()
    val rounds = ArrayBuffer.empty[(Double, Double, Long, Long)] // rel, end, from, to
    var drained = 0.0
    while (rounds.size < 2 || drained < a.seconds * 1000.0) {
      val from = published
      publish(BacklogRound)
      val rel = Clock.nowMs()
      conn.release(ids)
      pipe.query.processAllAvailable()
      val end = Clock.nowMs()
      rounds += ((rel, end, from, published))
      drained += end - rel
    }
    val t1 = Clock.nowMs()
    pipe.query.stop()
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)

    // per-message latency: release of its round → commit of its batch
    val batches = pipe.progress.all
    val lat = ArrayBuffer.empty[Double]
    val weights = ArrayBuffer.empty[Long]
    rounds.foreach { case (rel, end, _, _) =>
      batches.foreach { b =>
        Option(pipe.catalog.committedAt.get(b.id)).filter(c => c > rel && c <= end)
          .foreach { c => lat += c - rel; weights += b.rows }
      }
    }
    val samples = lat.zip(weights).flatMap { case (l, w) =>
      Iterator.fill(w.toInt)(l) }
    val msgs = rounds.map(r => r._4 - r._3).sum
    rep.metric("op_latency_ms", Stats.median(samples), "ms")
    rep.metric("op_latency_tail_ms", Stats.pct(samples, 99), "ms")
    rep.note("tail_percentile", 99)
    rep.note("ingest_msgs_per_s", msgs / (drained / 1000.0))
    rep.note("latency_samples", samples.size)
    rep.note("rounds", rounds.size)
    rep.note("round_msgs_per_s", rounds.map(r =>
      (r._4 - r._3) / ((r._2 - r._1) / 1000.0)))
    rep.note("messages_timed", msgs)
    rep.metric("gen.sent_msgs", published.toDouble, "count")
    jl.foreach(l => layers(rep, tr, l, pipe, t0, t1, gc0, null))
    Check.ingest(pipe, feed, published, rep)
  }

  /** Single-threaded reference: the same drain at local[1]. */
  def local1Baseline(a: Args, rep: Report): Unit = {
    val spark = Session.start(1, new File(a.work, "spark1"))
    try {
      val cid = "perfbench-local1"
      val ids = shardIds(cid)
      val feed = Feed(BacklogSensors, a.seed)
      val conn = new TimedConnector(InMemoryBroker, new Tracer(false),
        gated = true)
      ids.foreach(InMemoryBroker.reset)
      MqttSource.reconfigure(cid, BacklogFilters, BacklogShards)
      val pipe = startPipe(spark, new File(a.work, "local1"),
        new Tracer(false), conn, cid, BacklogFilters, BacklogShards,
        Some(BacklogMaxRows), "perfbench-local1")
      var i = 0L
      def publish(n: Int): Unit = (0 until n).foreach { _ =>
        val (t, p) = feed.message(i); InMemoryBroker.publish(t, p); i += 1 }
      publish(BacklogWarmup / 5)
      conn.release(ids)
      pipe.query.processAllAvailable()
      publish(BacklogWarmup)
      val s = Clock.nowMs()
      conn.release(ids)
      pipe.query.processAllAvailable()
      val e = Clock.nowMs()
      pipe.query.stop()
      rep.metric("baseline.local1_msgs_per_s",
        BacklogWarmup / ((e - s) / 1000.0), "1/s")
    } finally spark.stop()
  }

  // ---------------------------------------------------------- layers

  /** Layer of each job a micro-batch ran, from the harness spans around
    * it: inside an append call → sinks.append; after the router began
    * the batch → sinks.route (its per-table histogram); before that →
    * ingest (parse, persist and the rejected-sink write). */
  private def relabel(jobs: Seq[JobListener#Job], bs: Seq[Batch],
      cat: TimedCatalog): Unit = {
    import scala.jdk.CollectionConverters._
    val appends = cat.appendSpans.asScala.toSeq
    jobs.filter(j => j.layer == "ingest" || j.layer == "unknown").foreach { j =>
      bs.find(b => j.startMs >= b.startMs && j.startMs < b.startMs + b.triggerMs)
        .foreach { b =>
          val begun = Option(cat.begunAt.get(b.id)).getOrElse(Double.MaxValue)
          j.layer =
            if (appends.exists { case (s, e) => j.startMs >= s && j.startMs <= e })
              "sinks.append"
            else if (j.startMs >= begun) "sinks.route"
            else "ingest"
        }
    }
  }

  /** Per-layer numbers for the batches inside [t0, t1). */
  private def layers(rep: Report, tr: Tracer, jl: JobListener, pipe: Pipe,
      t0: Double, t1: Double, gc0: Double, reads: Readers): Unit = {
    val bs = pipe.progress.all.filter(b => b.startMs >= t0 && b.startMs < t1)
    def p(key: String, q: Double) = Stats.pct(bs.map(_.durations.getOrElse(key, 0.0)), q)
    rep.metric("stream.batches", bs.size.toDouble, "count")
    rep.metric("stream.rows_per_batch_p50", Stats.median(bs.map(_.rows.toDouble)), "count")
    rep.metric("stream.trigger_ms_p50", p("triggerExecution", 50), "ms")
    rep.metric("stream.trigger_ms_p99", p("triggerExecution", 99), "ms")
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
      .foreach(k => rep.metric(s"stream.${k}_ms_p50", p(k, 50), "ms"))

    // phase spans, laid out in MicroBatchExecution's order from the
    // trigger start; wrapped-call and job spans carry their own times
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
      "addBatch", "commitOffsets")
    bs.foreach { b =>
      val key = s"batch:${b.id}"
      tr.record(Span(s"batch ${b.id}", "stream", key, "", b.startMs,
        b.startMs + b.triggerMs, 0))
      var at = b.startMs
      order.foreach { ph =>
        val d = b.durations.getOrElse(ph, 0.0)
        if (d > 0) tr.record(Span(ph, s"stream.$ph", key, s"batch ${b.id}",
          at, at + d, 1))
        at += d
      }
    }
    val jobsAll = jl.jobsIn(t0, t1)
    relabel(jobsAll, bs, pipe.catalog)
    jl.recordSpans(jobsAll)
    val all = tr.all
    val self = bs.map { b =>
      tr.selfTimes(Span(s"batch ${b.id}", "stream", s"batch:${b.id}", "",
        b.startMs, b.startMs + b.triggerMs, 0), all)
    }
    rep.note("batch_self_ms", self.flatMap(_.toSeq).groupBy(_._1)
      .map { case (k, v) => k -> Stats.sum(v.map(_._2)) } +
      ("wall" -> Stats.sum(bs.map(_.triggerMs))))

    val conn = pipe.connector
    rep.metric("mqtt.fetch_calls", conn.fetchMs.count.toDouble, "count")
    rep.metric("mqtt.fetch_ms", Stats.sum(conn.fetchMs.all), "ms")
    rep.metric("mqtt.msgs_fetched", conn.fetched.toDouble, "count")
    rep.metric("mqtt.backlog_p99_msgs", Stats.pct(conn.backlog.all, 99), "count")

    val jobs = jobsAll
    def jobsOf(layer: String) = jobs.filter(_.layer == layer)
    Seq("ingest" -> "ingest", "sinks.route" -> "sinks.route",
      "sinks.append" -> "sinks.append").foreach { case (layer, m) =>
      rep.metric(s"$m.jobs", jobsOf(layer).size.toDouble, "count")
      rep.metric(s"$m.job_ms", Stats.sum(jobsOf(layer).map(j => j.endMs - j.startMs)), "ms")
    }
    rep.metric("ingest.task_ms", Stats.sum(jobsOf("ingest").map(_.taskMs)), "ms")
    rep.metric("sinks.append.bytes", jobsOf("sinks.append").map(_.output).sum.toDouble, "B")
    val cat = pipe.catalog
    rep.metric("sinks.append.files", cat.inner.listTables()
      .map(t => cat.inner.fileCount(t)).sum.toDouble, "count")
    rep.metric("sinks.commit_ms_p50", Stats.median(cat.commit.all), "ms")
    rep.metric("sinks.commit_ms_p99", Stats.pct(cat.commit.all, 99), "ms")
    rep.metric("sinks.ddl_calls", cat.ddl.count.toDouble, "count")
    rep.metric("sinks.ddl_ms", Stats.sum(cat.ddl.all), "ms")
    if (reads != null) {
      rep.metric("sinks.read_ms_p50", Stats.median(reads.total.all), "ms")
      rep.metric("sinks.read_exec_ms_p50", Stats.median(reads.exec.all), "ms")
      rep.metric("sinks.read_files_p50", Stats.median(reads.files.all), "count")
    }
    Main.sparkLayer(rep, jl, t0, t1, gc0)
  }
}
