package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.net.{InetAddress, ServerSocket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import graft.sources.mqtt.MqttCodec
import graft.sources.mqtt.MqttCodec._

/** The message feed of both ingest workloads: graft.examples.StreamBench's
  * payload mix (1 in 11 without `value`, 1 in 11 on an invalid topic,
  * 1 in 11 string-valued, the rest numeric), spread over `sensors`
  * sensors, so `2 × sensors` routed tables. Message `i` carries `i` in
  * its payload, so every message can be found again in the warehouse or
  * the rejected sink. The seed rotates which messages are poison and
  * which sensor and device each message goes to. */
final case class Feed(sensors: Int, seed: Long) {
  private val off = java.lang.Math.floorMod(seed * 7919L, 11L * sensors * 7L)

  /** 0 numeric, 1 string-valued, 2 missing value, 3 invalid topic. */
  def kind(i: Long): Int = ((i + off) % 11).toInt match {
    case 9 => 2
    case 10 => 3
    case 7 => 1
    case _ => 0
  }
  def sensor(i: Long): String = s"sensor${(i + off) % sensors}"
  def device(i: Long): String = s"d${(i + off) % 7}"
  def client(i: Long): String = s"c${(i + off) % 3}"

  /** Routed table of message `i`, or None when it must be rejected. */
  def table(i: Long): Option[String] = kind(i) match {
    case 0 => Some(sensor(i))
    case 1 => Some("str_" + sensor(i))
    case _ => None
  }
  def reason(i: Long): String =
    if (kind(i) == 3) "invalid_topic" else "missing_value"

  def message(i: Long): (String, String) = {
    val base = s"/${client(i)}/${device(i)}/out/sensors"
    kind(i) match {
      case 0 => (s"$base/${sensor(i)}",
        s"""{"timestamp":"2024-01-01T00:00:00Z","value":$i.25}""")
      case 1 => (s"$base/str_${sensor(i)}", s"""{"value":"v$i"}""")
      case 2 => (s"$base/${sensor(i)}", s"""{"k":$i}""")
      case _ => (s"c/bad/${sensor(i)}", s"""{"value":$i}""")
    }
  }
}

/** `ingest_live`'s load generator, run as its own process: a minimal
  * MQTT 3.1.1 broker (on graft's MqttCodec) that accepts one client and,
  * once it has subscribed, pushes QoS-1 PUBLISH packets on a fixed
  * schedule — message `i` is due at `t0 + i / rate` whether or not the
  * engine keeps up, and goes out on the first 10 ms tick at or after
  * that — until `count` messages are out or a `STOP` line
  * arrives on stdin. Topic filters are not matched: the client gets the
  * whole feed.
  *
  * {{{ perfbench.Generator <rate> <count> <sensors> <seed> <outFile> }}}
  *
  * Prints `PORT <p>` once listening, `START <t0_ms>` when the schedule
  * begins and `DONE ...` after the last send; writes
  * (due_ms, sent_ms) per sequence number to `outFile` as big-endian
  * doubles after a (t0_ms, count) header. */
object Generator {
  val TickNs = 10000000L

  def main(args: Array[String]): Unit = {
    val Array(rate, count, sensors, seed) = args.take(4).map(_.toLong)
    val outFile = args(4)
    val feed = Feed(sensors.toInt, seed)
    val server = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    println(s"PORT ${server.getLocalPort}")
    System.out.flush()
    val sock = server.accept()
    sock.setTcpNoDelay(true)
    val in = new BufferedInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
    val lock = new Object
    def send(p: Packet): Unit = lock.synchronized {
      out.write(MqttCodec.encode(p)); out.flush()
    }

    read(in) match {
      case _: Connect => send(ConnAck(sessionPresent = false, 0))
      case p => throw new IllegalStateException(s"expected CONNECT, got $p")
    }
    val subscribed = new java.util.concurrent.CountDownLatch(1)
    val acked = new AtomicLong(0)
    val reader = new Thread(() => {
      try while (true) read(in) match {
        case Subscribe(id, topics) =>
          send(SubAck(id, topics.map(_ => 1)))
          subscribed.countDown()
        case Unsubscribe(id, _) => send(UnsubAck(id))
        case PubAck(_) => acked.incrementAndGet(); ()
        case PingReq => send(PingResp)
        case _ =>
      } catch { case _: java.io.IOException => () }
    }, "generator-reader")
    reader.setDaemon(true)
    reader.start()
    subscribed.await()

    // a "STOP" line on stdin ends the feed early
    @volatile var stop = false
    val control = new Thread(() => {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
      var l = in.readLine()
      while (l != null && l.trim != "STOP") l = in.readLine()
      stop = true
    }, "generator-control")
    control.setDaemon(true)
    control.start()

    val due = new Array[Double](count.toInt)
    val sent = new Array[Double](count.toInt)
    val t0 = Clock.nowMs()
    println(s"START $t0")
    System.out.flush()
    val stepNs = 1e9 / rate
    val t0Ns = System.nanoTime()
    def dueNs(k: Int): Long = t0Ns + (k * stepNs).toLong
    // wake once per tick and send every message due by then in one
    // write: a wake-up per message loads the scheduler of a small box
    // more than the engine does
    var tick = t0Ns
    var i = 0
    while (i < count && !stop) {
      tick += TickNs
      val wait = tick - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait)
      val now = System.nanoTime()
      val first = i
      lock.synchronized {
        while (i < count && dueNs(i) <= now) {
          val (topic, payload) = feed.message(i.toLong)
          out.write(MqttCodec.encode(Publish(topic, payload.getBytes(UTF_8),
            qos = 1, packetId = (i % 65535) + 1)))
          due(i) = Clock.ms(dueNs(i))
          i += 1
        }
        out.flush()
      }
      val s = Clock.nowMs()
      (first until i).foreach(k => sent(k) = s)
    }
    // every PUBLISH must be acknowledged before the feed counts as sent
    val ackDeadline = System.nanoTime() + 30L * 1000000000L
    val n = i
    while (acked.get() < n && System.nanoTime() < ackDeadline)
      Thread.sleep(5)

    val w = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(outFile)))
    try {
      w.writeDouble(t0); w.writeLong(n.toLong)
      var k = 0
      while (k < n) { w.writeDouble(due(k)); w.writeDouble(sent(k)); k += 1 }
    } finally w.close()
    val lag = (0 until n).map(k => sent(k) - due(k))
    println(s"DONE sent=$n acked=${acked.get()} " +
      s"lag_p99_ms=${Stats.pct(lag, 99)}")
    System.out.flush()
    // the engine disconnects when its query stops
    reader.join(120000)
    sock.close()
    server.close()
  }
}
