package graft.streaming

import java.nio.file.Files

import graft.TestSpark
import graft.sources.mqtt.InMemoryBroker
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Cross-stage composition soak (r10 VERDICT #6): ALL FIVE standing
  * folds — near-dup probe, heavy hitters, KMV distinct, hashed drift,
  * near-dup cluster maintenance — wired onto ONE MQTT document topic
  * the way `MqttDemo` and `perfbench/run.py --workload ingest_backlog`
  * wire ingest, each stage an
  * independent subscriber with its own clientId and checkpoint dir
  * (the production shape: one broker fan-out, per-stage offsets and
  * durable summaries). The run is killed mid-stream, traffic continues
  * while down (broker-buffered), and the stages restart from their
  * checkpoints — with the restarting caller offering a DIFFERENT drift
  * reference (which the frozen-reference contract must ignore) and a
  * cluster index rebuilt warehouse-style from the corpus as it then
  * stands.
  *
  * The oracle is a CONTROL set: the same stages on the same topic
  * running UNBROKEN across the whole message sequence. Every durable
  * guarantee is asserted as exact parity between the killed/restarted
  * set and the control set — flags neither lost nor duplicated across
  * the restart, heavy-hitter and KMV summaries bit-equal, drift counts
  * and TV bit-equal against the ORIGINAL reference, cluster label maps
  * bit-equal (the union-find's edge set is batch-boundary invariant,
  * so the two sets' different post-restart batching must not matter). */
class StandingStagesSoakSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val Topic = "/corp/docs/out/sensors/doc"

  private val payloadSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("user_id", LongType),
    StructField("text", StringType)))

  private def docFrame(cid: String): DataFrame =
    IngestPipeline.mqttStream(spark, cid, Seq("#"))
      .select(from_json(col("payload"), payloadSchema).as("d"))
      .select(col("d.doc_id").as("doc_id"), col("d.user_id").as("user_id"),
        col("d.text").as("text"))

  private def tokenFrame(cid: String): DataFrame =
    docFrame(cid).select(
      explode(expr("filter(split(text, ' '), t -> t <> '')")).as("w"))

  private def jsonEsc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  test("five standing stages on one MQTT source survive kill/restart " +
      "with exact parity to an unbroken control run") {
    import spark.implicits._
    InMemoryBroker.resetAll()
    val run = System.nanoTime()

    // ---- fixture: the q120 split — standing corpus vs streamed docs
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val streamed = docs.filter(col("doc_id") % 10 === 7)
      .as[(Long, String)].collect().sortBy(_._1)
      .map { case (id, t) => (id, id % 7, t) } // user_id: skewed-ish mod
    val waves = streamed.grouped(math.max(1, streamed.length / 4 + 1)).toSeq
    assert(waves.length >= 4,
      "need a wave before the kill, during it, after the restart, and " +
        "through the index swap")

    val corpusTokens = corpus
      .select(explode(expr("filter(split(text, ' '), t -> t <> '')")).as("w"))
    val refA = IncrementalDrift.referenceOf(corpusTokens)
    // the "moved corpus" a restarting caller would recompute against
    val refB = IncrementalDrift.referenceOf(
      streamed.flatMap(_._3.split(' ').filter(_.nonEmpty)).toSeq.toDF("w"))
    assert(refA != refB, "references must differ for the freeze to bite")

    // SWAPPABLE standing index, shared by the main and control dedup
    // stages so both observe the same refresh at the same logical point
    // (r11 VERDICT #5: the swap must compose with the kill/restart soak,
    // not just run on a quiet stream)
    val dedupRef = new IncrementalDedup.StandingIndexRef(
      IncrementalDedup.buildIndex(corpus))

    // ---- per-stage wiring: (clientId, checkpoint) per stage per set
    def ckpt(tag: String) =
      Files.createTempDirectory(s"soak4-$tag").toString
    val flagsMain = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val flagsCtl = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def sinkInto(buf: scala.collection.mutable.ArrayBuffer[(Long, Long)])
        : DataFrame => Unit = flags => {
      val rows = flags.collect().map(r => (r.getLong(0), r.getLong(1)))
      buf.synchronized { buf ++= rows }
      ()
    }

    val ckDedup = ckpt("dedup"); val ckHh = ckpt("hh")
    val ckKmv = ckpt("kmv"); val ckDrift = ckpt("drift")
    val ckCl = ckpt("clusters")

    // cluster-stage wiring: the seed pair set (the offline batch job's
    // corpus-internal verified pairs — identical for both sets), and
    // one GrowingIndex PER SET (each subscriber appends its own
    // delivered batches; release ownership stays per-set)
    val clSeedIdx = IncrementalDedup.buildIndex(corpus)
    val clSeeds = IncrementalDedup.flag(corpus, clSeedIdx)
      .filter(col("new_doc") < col("old_doc"))
      .select(col("new_doc"), col("old_doc")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    clSeedIdx.release()
    var clIdxMain = new IncrementalClusters.GrowingIndex(
      IncrementalDedup.buildIndex(corpus))
    val clIdxCtl = new IncrementalClusters.GrowingIndex(
      IncrementalDedup.buildIndex(corpus))

    // the TV the main drift stage itself REPORTS (through onUpdate) —
    // the number a pager would see; must track the frozen reference
    val reportedTv = new java.util.concurrent.atomic.AtomicLong(-1L)
    def startMain(hh: IncrementalHeavyHitters.State,
        kmv: IncrementalDistinct.State, drift: IncrementalDrift.State,
        cl: IncrementalClusters.State,
        clIdx: IncrementalClusters.GrowingIndex,
        driftRef: IncrementalDrift.Reference): Seq[StreamingQuery] = Seq(
      IncrementalDedup.start(
        docFrame(s"m-dedup-$run").select(col("doc_id"), col("text")),
        dedupRef, ckDedup, sinkInto(flagsMain)),
      IncrementalHeavyHitters.start(
        docFrame(s"m-hh-$run").select(col("user_id")), hh, ckHh, _ => ()),
      IncrementalDistinct.start(
        tokenFrame(s"m-kmv-$run"), kmv, ckKmv, _ => ()),
      IncrementalDrift.start(
        tokenFrame(s"m-drift-$run"), driftRef, drift, ckDrift,
        (_, tv) => reportedTv.set(tv)),
      IncrementalClusters.start(
        docFrame(s"m-cl-$run").select(col("doc_id"), col("text")),
        clIdx, clSeeds, ckCl, cl, _ => ()))

    // control set: unbroken, own clientIds/checkpoints, same messages
    val hhCtl = new IncrementalHeavyHitters.State
    val kmvCtl = new IncrementalDistinct.State
    val driftCtl = new IncrementalDrift.State
    val clCtl = new IncrementalClusters.State
    val ctl: Seq[StreamingQuery] = Seq(
      IncrementalDedup.start(
        docFrame(s"c-dedup-$run").select(col("doc_id"), col("text")),
        dedupRef, ckpt("dedup-ctl"), sinkInto(flagsCtl)),
      IncrementalHeavyHitters.start(
        docFrame(s"c-hh-$run").select(col("user_id")), hhCtl,
        ckpt("hh-ctl"), _ => ()),
      IncrementalDistinct.start(
        tokenFrame(s"c-kmv-$run"), kmvCtl, ckpt("kmv-ctl"), _ => ()),
      IncrementalDrift.start(
        tokenFrame(s"c-drift-$run"), refA, driftCtl, ckpt("drift-ctl"),
        (_, _) => ()),
      IncrementalClusters.start(
        docFrame(s"c-cl-$run").select(col("doc_id"), col("text")),
        clIdxCtl, clSeeds, ckpt("cl-ctl"), clCtl, _ => ()))

    def publish(wave: Seq[(Long, Long, String)]): Unit =
      wave.foreach { case (id, uid, t) =>
        InMemoryBroker.publish(Topic,
          s"""{"doc_id":$id,"user_id":$uid,"text":"${jsonEsc(t)}"}""")
      }
    def drain(qs: Seq[StreamingQuery]): Unit =
      qs.foreach(_.processAllAvailable())

    val hh1 = new IncrementalHeavyHitters.State
    val kmv1 = new IncrementalDistinct.State
    val drift1 = new IncrementalDrift.State
    val cl1 = new IncrementalClusters.State
    var main = startMain(hh1, kmv1, drift1, cl1, clIdxMain, refA)
    var mainTv = -1L
    try {
      // ---- wave 1: everything up
      publish(waves.head)
      drain(main); drain(ctl)

      // ---- kill the main set; traffic continues while down
      main.foreach(_.stop())
      publish(waves(1))
      drain(ctl)

      // ---- restart from checkpoints: fresh states (a new JVM), the
      // caller offers the WRONG (recomputed) drift reference, and the
      // cluster index is rebuilt warehouse-style from the corpus as it
      // now stands (original corpus + the delivered wave-1 docs; the
      // broker-buffered wave-2 docs are NEW batches the restarted
      // stage appends itself)
      val hh2 = new IncrementalHeavyHitters.State
      val kmv2 = new IncrementalDistinct.State
      val drift2 = new IncrementalDrift.State
      val cl2 = new IncrementalClusters.State
      assert(hh2.get.n == 0L && kmv2.get.n == 0L && drift2.get.n == 0L &&
        cl2.get.root.isEmpty,
        "fresh states start empty, like a new JVM")
      clIdxMain.release()
      clIdxMain = new IncrementalClusters.GrowingIndex(
        IncrementalDedup.buildIndex(corpus.unionByName(
          waves.head.map { case (id, _, t) => (id, t) }.toSeq
            .toDF("doc_id", "text"))))
      main = Seq.empty // guard finally against double-stop
      val restarted = startMain(hh2, kmv2, drift2, cl2, clIdxMain, refB)
      main = restarted
      // re-attach TV observation through the drift stage's own callback:
      // restart it via state2's onUpdate (captured below on later waves)
      publish(waves(2)); drain(main); drain(ctl)

      // ---- LIVE-TRAFFIC ATOMIC INDEX REFRESH (composes with the
      // restart above): all eight standing queries keep running — none
      // is stopped or restarted — while the index swaps to a corpus
      // that now contains an exact twin (doc_id + 9,000,000) of every
      // wave-4 document, with traffic on both sides of the swap
      // (wave 3 served by the old generation, wave 4 by the new).
      // Build-then-swap means no batch probes a half-built index. The
      // swap point sits at a drained batch boundary so the expected
      // flag set is DETERMINISTIC (a doc racing the swap could flag
      // against a planted twin of a LATER wave's near-dup in one set
      // and not the other — real, allowed behavior per the
      // StandingIndexRef contract, but untestable as exact parity):
      // wave-4 docs must flag against their planted twins IN BOTH SETS,
      // pre-swap docs must never touch a planted id, and overall
      // main-vs-control parity must still hold.
      val wave4 = waves(3)
      val planted = wave4.map { case (id, _, t) => (id + 9000000L, t) }
      dedupRef.refresh(corpus.unionByName(
        planted.toSeq.toDF("doc_id", "text")))
      publish(wave4)
      drain(main); drain(ctl)
      waves.drop(4).foreach { w => publish(w); drain(main); drain(ctl) }
      drain(main)

      // ---- parity: dedup flags — none lost, none duplicated
      val gMain = flagsMain.synchronized(flagsMain.toList)
      val gCtl = flagsCtl.synchronized(flagsCtl.toList)
      assert(gCtl.nonEmpty, "fixture must contain streamed near-dups")
      assert(gMain.size == gMain.toSet.size,
        "restart must not duplicate a delivered batch's flags")
      assert(gMain.toSet == gCtl.toSet,
        s"flag divergence: main-only=${gMain.toSet -- gCtl.toSet} " +
          s"ctl-only=${gCtl.toSet -- gMain.toSet}")

      // ---- swap semantics: every wave-4 doc flags against its planted
      // twin (the refreshed index was live for the in-flight wave), and
      // planted ids never appear for docs streamed BEFORE the swap
      val wave4Ids = waves(3).map(_._1).toSet
      wave4Ids.foreach { id =>
        assert(gMain.contains((id, id + 9000000L)),
          s"wave-4 doc $id must flag against its planted twin — the " +
            "mid-traffic swap did not take effect")
      }
      gMain.filter(_._2 >= 9000000L).foreach { case (nd, _) =>
        assert(wave4Ids.contains(nd),
          s"doc $nd flagged against a planted twin but streamed before " +
            "the swap — a pre-swap batch probed the refreshed index")
      }

      // ---- parity: heavy hitters (exact n + identical MG summary)
      assert(hh2.get.n == streamed.length.toLong)
      assert(hh2.get.buf == hhCtl.get.buf,
        "restarted MG summary must equal the unbroken control's")

      // ---- parity: KMV distinct (exact fold — bit-identical sketch)
      assert(kmv2.get.n == kmvCtl.get.n)
      assert(kmv2.get.mins == kmvCtl.get.mins,
        "restarted KMV sketch must equal the unbroken control's")
      assert(kmv2.get.estimate == kmvCtl.get.estimate)

      // ---- parity: drift counts + frozen reference semantics
      assert(drift2.get.counts == driftCtl.get.counts)
      assert(drift2.get.n == driftCtl.get.n)
      mainTv = drift2.get.tvPpm(refA)
      assert(mainTv == driftCtl.get.tvPpm(refA),
        "restarted drift TV must equal the unbroken control's")
      // the restart offered refB; the stage must still REPORT against
      // the frozen refA — observable because the two disagree
      assert(drift2.get.tvPpm(refA) != drift2.get.tvPpm(refB),
        "references must disagree on this stream to discriminate")
      assert(reportedTv.get() == mainTv,
        "the stage's reported TV must use the FROZEN first-start " +
          "reference, not the one offered at restart")
      assert(Files.exists(java.nio.file.Paths.get(
        ckDrift, "graft-drift-state", "reference")),
        "frozen reference must be durable beside the summary snapshot")

      // ---- parity: near-dup cluster labels (within-batch, cross-batch
      // and vs-corpus edges all present; the restarted set batched the
      // buffered waves differently than the control, which must not
      // matter — the union-find's edge set is batch-boundary invariant)
      assert(clCtl.get.root.nonEmpty,
        "fixture must produce non-singleton clusters")
      assert(cl2.get.root == clCtl.get.root,
        "restarted cluster labels diverged from the unbroken control's")
    } finally {
      main.foreach(q => try q.stop() catch { case _: Throwable => () })
      ctl.foreach(q => try q.stop() catch { case _: Throwable => () })
      dedupRef.release()
      clIdxMain.release()
      clIdxCtl.release()
    }
  }
}
