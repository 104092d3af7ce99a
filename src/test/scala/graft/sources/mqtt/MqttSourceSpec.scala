package graft.sources.mqtt

import graft.TestSpark
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class MqttSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("topic filter matching: exact, +, #") {
    import InMemoryBroker.matches
    assert(matches("/a/b/c", "/a/b/c"))
    assert(!matches("/a/b/c", "/a/b/d"))
    assert(matches("/a/+/c", "/a/X/c"))
    assert(!matches("/a/+/c", "/a/X/Y/c"))
    assert(matches("/a/#", "/a/anything/here"))
    assert(matches("#", "/any/topic"))
    assert(!matches("/a/b", "/a/b/c"))
    assert(!matches("/a/b/c", "/a/b"))
  }

  test("micro-batch reads only subscribed topics; offsets advance") {
    val cid = s"spec-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    // subscribe before publishing — delivery is push-at-publish, so a not-
    // yet-started query would otherwise miss early messages (real MQTT too)
    InMemoryBroker.setSubscriptions(cid, Seq("/c1/+/out/sensors/#"))
    val df = spark.readStream.format("mqtt")
      .option("clientId", cid)
      .option("topics", "/c1/+/out/sensors/#")
      .load()
    val q = df.writeStream.format("memory").queryName(s"m$cid".replace("-", ""))
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      InMemoryBroker.publish("/c1/d1/out/sensors/temp", """{"value":1}""")
      InMemoryBroker.publish("/other/topic/x/y/z", """{"value":9}""")
      InMemoryBroker.publish("/c1/d2/out/sensors/hum", """{"value":2}""")
      q.processAllAvailable()
      val rows = spark.table(s"m$cid".replace("-", ""))
        .select("topic").collect().map(_.getString(0)).sorted
      assert(rows.toSeq == Seq("/c1/d1/out/sensors/temp",
        "/c1/d2/out/sensors/hum"))
    } finally q.stop()
  }

  test("query restart does not revert a dynamic reconfigure") {
    val cid = s"rst-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    InMemoryBroker.setSubscriptions(cid, Seq("/a/#"))
    // fresh checkpoints (memory sink can't recover one); the bug under
    // test is option re-application on any NEW query for the client
    def newQuery(n: String) = spark.readStream.format("mqtt")
      .option("clientId", cid).option("topics", "/a/#").load()
      .writeStream.format("memory").queryName(n)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ck").toString).start()
    val q1 = newQuery(s"a${cid.replace("-", "")}")
    InMemoryBroker.publish("/a/1/2/3/s", "x")
    q1.processAllAvailable(); q1.stop()
    MqttSource.reconfigure(cid, Seq("/b/#")) // dynamic swap while stopped
    val q2 = newQuery(s"b${cid.replace("-", "")}") // restart w/ stale option
    try {
      InMemoryBroker.publish("/a/1/2/3/s", "stale") // must NOT arrive
      InMemoryBroker.publish("/b/1/2/3/s", "fresh")
      q2.processAllAvailable()
      // what matters: the stale option did NOT resubscribe /a/# (no
      // "stale"); the reconfigured /b/# delivers ("fresh"). "x" may or
      // may not replay depending on whether q1's last commit() hook fired
      // before stop (Spark invokes it on the NEXT trigger).
      val got = spark.table(s"b${cid.replace("-", "")}")
        .select("payload").collect().map(_.getString(0)).sorted.toSeq
      assert(got.contains("fresh") && !got.contains("stale"),
        s"restart must keep the reconfigured subscriptions, got $got")
    } finally q2.stop()
  }

  test("union of two mqtt sources: the documented multi-broker scale-out") {
    val c1 = s"u1-${System.nanoTime()}"
    val c2 = s"u2-${System.nanoTime()}"
    // shard by topic prefix: each "broker connection" owns one shard
    InMemoryBroker.reset(c1); InMemoryBroker.reset(c2)
    InMemoryBroker.setSubscriptions(c1, Seq("/s1/#"))
    InMemoryBroker.setSubscriptions(c2, Seq("/s2/#"))
    def src(c: String, t: String) = spark.readStream.format("mqtt")
      .option("clientId", c).option("topics", t).load()
    val name = s"u${c1.replace("-", "")}"
    val q = src(c1, "/s1/#").union(src(c2, "/s2/#"))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ck").toString)
      .start()
    try {
      // shard messages across "brokers"; union must see both feeds
      InMemoryBroker.publishAt("/s1/a/b/c/x", "from-shard-1",
        InMemoryBroker.now() + 1)
      InMemoryBroker.publishAt("/s2/a/b/c/x", "from-shard-2",
        InMemoryBroker.now() + 2)
      q.processAllAvailable()
      val got = spark.table(name).select("payload")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(got == Seq("from-shard-1", "from-shard-2"))
    } finally q.stop()
  }

  test("sharded connectors: one ordered input partition per shard, vector offsets") {
    val cid = s"shard-${System.nanoTime()}"
    MqttSource.shardIds(cid, 2).foreach(InMemoryBroker.reset)
    // filters round-robin: shard0 ← /s0/#, shard1 ← /s1/#
    MqttSource.reconfigure(cid, Seq("/s0/#", "/s1/#"), connectors = 2)
    // interleave publishes across shards, two per topic, to check order
    InMemoryBroker.publish("/s0/a/b/c/t", "s0-first")
    InMemoryBroker.publish("/s1/a/b/c/t", "s1-first")
    InMemoryBroker.publish("/s0/a/b/c/t", "s0-second")
    InMemoryBroker.publish("/s1/a/b/c/t", "s1-second")

    val stream = new MqttMicroBatchStream(InMemoryBroker,
      MqttSource.shardIds(cid, 2))
    val start = stream.initialOffset().asInstanceOf[MqttOffset]
    assert(start.seqs == Seq(0L, 0L))
    val end = stream.latestOffset().asInstanceOf[MqttOffset]
    assert(end.seqs == Seq(2L, 2L))
    // checkpointed offsets: vector json round-trips, and the scalar form
    // written by pre-sharding checkpoints still parses
    assert(stream.deserializeOffset(end.json()) == end)
    assert(stream.deserializeOffset("7") == MqttOffset(Seq(7L)))

    val parts = stream.planInputPartitions(start, end)
    assert(parts.length == 2, "one input partition per shard")
    val payloads = parts.map(_.asInstanceOf[MqttInputPartition]
      .msgs.map(_.payload).toSeq).toSeq
    // per-topic (= per-shard here) publish order preserved inside each
    // partition
    assert(payloads.contains(Seq("s0-first", "s0-second")))
    assert(payloads.contains(Seq("s1-first", "s1-second")))

    // commit truncates EVERY shard's buffer
    stream.commit(end)
    assert(stream.latestOffset().asInstanceOf[MqttOffset].seqs ==
      Seq(2L, 2L))
    assert(stream.planInputPartitions(end, stream.latestOffset()).isEmpty)
  }

  test("sharded query restarts from checkpointed vector offsets without replay") {
    val cid = s"shardq-${System.nanoTime()}"
    MqttSource.shardIds(cid, 2).foreach(InMemoryBroker.reset)
    val ckpt = Files.createTempDirectory("ck").toString
    val out = Files.createTempDirectory("out").toString
    MqttSource.reconfigure(cid, Seq("/s0/#", "/s1/#"), connectors = 2)
    def newQuery() = spark.readStream.format("mqtt")
      .option("clientId", cid)
      .option("topics", "/s0/#,/s1/#")
      .option("connectors", "2")
      .load()
      // file sink: recovers from a checkpoint (memory sink can't)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()

    val q1 = newQuery()
    InMemoryBroker.publish("/s0/a/b/c/t", "p0")
    InMemoryBroker.publish("/s1/a/b/c/t", "p1")
    q1.processAllAvailable(); q1.stop()

    InMemoryBroker.publish("/s1/a/b/c/t", "p2")
    val q2 = newQuery()
    try {
      q2.processAllAvailable()
      val got = spark.read.parquet(out).select("payload")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(got == Seq("p0", "p1", "p2"),
        s"exactly-once across restart on vector offsets, got $got")
    } finally q2.stop()
  }

  test("maxRowsPerTrigger bounds each micro-batch (S4 bounded buffer)") {
    val cid = s"cap-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    InMemoryBroker.setSubscriptions(cid, Seq("/a/#"))
    (1 to 10).foreach(i => InMemoryBroker.publish("/a/1/2/3/s", s"m$i"))
    val name = s"t${cid.replace("-", "")}"
    val q = spark.readStream.format("mqtt")
      .option("clientId", cid).option("topics", "/a/#")
      .option("maxRowsPerTrigger", "4")
      .load()
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      // everything arrives — the cap splits the backlog, it drops nothing
      assert(spark.table(name).count() == 10)
      // and no single micro-batch admitted more than the cap
      val batchSizes = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(batchSizes.nonEmpty && batchSizes.forall(_ <= 4),
        s"batch sizes: ${batchSizes.toSeq}")
      assert(batchSizes.length >= 3, // 10 rows / cap 4 → ≥3 batches
        s"expected the backlog split across batches: ${batchSizes.toSeq}")
    } finally q.stop()
  }

  test("subscription swap applies between micro-batches (no loss window)") {
    val cid = s"swap-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    InMemoryBroker.setSubscriptions(cid, Seq("/a/#"))
    val df = spark.readStream.format("mqtt")
      .option("clientId", cid).option("topics", "/a/#").load()
    val name = s"q${cid.replace("-", "")}"
    val q = df.writeStream.format("memory").queryName(name)
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      InMemoryBroker.publish("/a/1/2/3/s1", "x")
      q.processAllAvailable()
      MqttSource.reconfigure(cid, Seq("/b/#")) // the Consul-watch path
      InMemoryBroker.publish("/a/1/2/3/s2", "y") // no longer subscribed
      InMemoryBroker.publish("/b/1/2/3/s3", "z")
      q.processAllAvailable()
      val topics = spark.table(name).select("topic")
        .collect().map(_.getString(0)).sorted
      assert(topics.toSeq == Seq("/a/1/2/3/s1", "/b/1/2/3/s3"))
    } finally q.stop()
  }

  test("a micro-batch fetches its range once, however often it is planned") {
    val cid = s"once-${System.nanoTime()}"
    InMemoryBroker.reset(cid)
    InMemoryBroker.setSubscriptions(cid, Seq("#"))
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val fetched = new java.util.concurrent.atomic.AtomicLong
    val counting = new MqttConnector {
      def setSubscriptions(c: String, f: Seq[String]): Unit =
        InMemoryBroker.setSubscriptions(c, f)
      def isConfigured(c: String): Boolean = InMemoryBroker.isConfigured(c)
      def fetch(c: String, from: Long,
          until: Long): Seq[InMemoryBroker.Msg] = {
        val out = InMemoryBroker.fetch(c, from, until)
        calls.incrementAndGet(); fetched.addAndGet(out.size.toLong)
        out
      }
      def latestSeq(c: String): Long = InMemoryBroker.latestSeq(c)
      def truncate(c: String, upto: Long): Unit =
        InMemoryBroker.truncate(c, upto)
    }
    MqttConnectors.register(s"counting-$cid", counting)
    val topics = (1 to 5).map(i => s"/c/d/out/sensors/s$i")
    topics.foreach(t => InMemoryBroker.publish(t, """{"value":1}"""))
    val name = s"once${cid.replace("-", "")}"
    val q = spark.readStream.format("mqtt")
      .option("connector", s"counting-$cid")
      .option("clientId", cid).option("topics", "#").load()
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) == 1)
      assert(spark.table(name).select("topic").collect().map(_.getString(0))
        .sorted.toSeq == topics)
      assert(calls.get == 1 && fetched.get == topics.size,
        s"fetch calls ${calls.get}, messages fetched ${fetched.get}")
    } finally q.stop()
  }
}
