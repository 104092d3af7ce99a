package graft.streaming

import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q120's incremental-dedup shape running as an actual stream: each
  * micro-batch's banded MinHash signatures join the STANDING corpus
  * band index inside `foreachBatch` — per-batch cost tracks the batch,
  * the corpus is never re-signed. Pins that near-dups of corpus docs
  * are caught in whichever micro-batch they arrive, and clean docs
  * produce no pairs. */
class StreamingDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def banded(docs: DataFrame): DataFrame = {
    docs.withColumn("toks", split(col("text"), " "))
      .withColumn("mh", expr("minhash_sig(toks)"))
      .filter(col("mh").isNotNull)
      .select(col("doc_id"), expr(
        """explode(transform(sequence(0, 3), b ->
          |  struct(b AS band,
          |    concat_ws(',', slice(mh, b * 4 + 1, 4)) AS bkey)))"""
          .stripMargin).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bkey"))
  }

  test("micro-batches dedup against the standing index, not each other") {
    val base = "the quick brown fox jumps over the lazy dog " * 4
    val corpus = Seq(
      (1L, base + "alpha beta gamma delta"),
      (2L, "completely different text about spark catalyst and tungsten " * 5),
      (3L, "yet another unrelated document mentioning parquet files " * 5))
      .toDF("doc_id", "text")
    // the standing index: built once, persisted — the offline artifact
    val index = banded(corpus)
      .withColumnsRenamed(Map("doc_id" -> "old_doc")).persist()
    assert(index.count() > 0)

    val found = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    implicit val sc = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val pairs = banded(batch)
          .withColumnsRenamed(Map("doc_id" -> "new_doc"))
          .join(index, Seq("band", "bkey"))
          .select(col("new_doc"), col("old_doc")).distinct()
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        found.synchronized { found ++= pairs }
        ()
      }.start()
    try {
      // batch 1: a near-dup of corpus doc 1 (one trailing token changed)
      src.addData((100L, base + "alpha beta gamma DELTA"))
      q.processAllAvailable()
      assert(found.synchronized(found.toSet) == Set((100L, 1L)),
        s"batch 1 must match only corpus doc 1, got $found")
      // batch 2: one clean doc + an exact dup of corpus doc 2
      src.addData(
        (200L, "nothing like anything in the corpus at all " * 6),
        (201L, "completely different text about spark catalyst and tungsten " * 5))
      q.processAllAvailable()
      val all = found.synchronized(found.toSet)
      assert(all == Set((100L, 1L), (201L, 2L)),
        s"batch 2 must add only the exact dup of doc 2, got $all")
    } finally {
      q.stop()
      index.unpersist()
    }
  }
}
