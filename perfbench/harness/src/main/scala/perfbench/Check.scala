package perfbench

import org.apache.spark.sql.functions.{col, regexp_extract}

/** Exactly-once check of an ingest run: every message `0 until sent` of
  * the feed must sit exactly once in its routed table, or exactly once
  * in the rejected sink with the expected reason, and nothing else may
  * be there. Each message is one attempted operation; each one not found
  * exactly once in the right place is one failure. */
object Check {
  /** Returns the final row count per (table, device). */
  def ingest(pipe: IngestRun.Pipe, feed: Feed, sent: Long,
      rep: Report): collection.Map[(String, String), Long] = {
    val spark = pipe.spark
    val cat = pipe.catalog.inner
    val hits = new Array[Int](sent.toInt)
    var stray = 0L
    def hit(i: Long, ok: Boolean): Unit =
      if (i >= 0 && i < sent && ok) hits(i.toInt) += 1 else stray += 1

    // the catalog's latest committed snapshot, read in one job per value
    // type: (table directory, device, value as text)
    val finals = scala.collection.mutable.Map.empty[(String, String), Long]
    // list the snapshot's files on the driver, not in a listing job
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold",
      Int.MaxValue.toString)
    val snap = cat.snapshotAt(cat.latestVersion())
    Log(s"check: snapshot of ${snap.size} tables")
    snap.keys.toSeq.partition(_.startsWith("str_")).productIterator.foreach {
      case tables: Seq[String @unchecked] if tables.nonEmpty =>
        val files = tables.flatMap(t => snap(t).map(f => s"${pipe.warehouse}/$t/$f"))
        val valueType = if (tables.head.startsWith("str_")) "STRING" else "DOUBLE"
        spark.read.schema(s"client STRING, device STRING, value $valueType")
            .parquet(files: _*).select(col("_metadata.file_path"),
            col("device"), col("value").cast("string")).collect().foreach { r =>
          val t = r.getString(0).split("/").dropRight(1).last
          val v = r.getString(2)
          val i = if (t.startsWith("str_")) v.stripPrefix("v").toLong
                  else new java.math.BigDecimal(v).longValue
          hit(i, feed.table(i).contains(t))
          val k = (t, r.getString(1))
          finals(k) = finals.getOrElse(k, 0L) + 1
        }
      case _ =>
    }
    Log("check: warehouse read")
    var rejected = 0L
    if (new java.io.File(pipe.rejectedDir, "_SUCCESS").exists ||
        Option(pipe.rejectedDir.list()).exists(_.nonEmpty)) {
      spark.read.schema("topic STRING, payload STRING, reason STRING")
        .parquet(pipe.rejectedDir.toString)
        .select(regexp_extract(col("payload"), "(\\d+)", 1), col("reason"))
        .collect().foreach { r =>
          rejected += 1
          val i = r.getString(0).toLong
          hit(i, feed.table(i).isEmpty && feed.reason(i) == r.getString(1))
        }
    }
    rep.attempted += sent
    val wrong = hits.count(_ != 1)
    if (wrong > 0) rep.fail(s"$wrong of $sent messages not found exactly once")
    rep.failed += math.max(0, wrong - 1)
    if (stray > 0) rep.fail(s"$stray unexpected rows in warehouse/rejected")
    rep.metric("ingest.rejected_rows", rejected.toDouble, "count")
    rep.note("expected_rejected", (0L until sent).count(i => feed.table(i).isEmpty))
    finals
  }
}
