package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicReference

import graft.functions.MisraGriesAgg
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** q166's heavy-hitter surveillance as a STANDING streaming stage — the
  * payoff of the Misra–Gries summary being MERGEABLE: each micro-batch
  * folds to per-partition ≤ K−1-counter partials (bounded collect:
  * partitions × K pairs), and the standing state is just the running
  * merged summary plus the running row count. History is never
  * re-scanned; the state is O(K) bytes forever; and the merged summary
  * carries the batch guarantee forward — every id whose TOTAL frequency
  * across all batches exceeds N/K is in the candidate set at every
  * point in time (the superset property survives arbitrary merge trees,
  * so in particular this left-fold).
  *
  * DURABILITY — the summary follows the same batch-commit-marker
  * discipline as `TableRouter`/`IngestPipeline`: after merging batch b
  * the (summary, n, b) triple is written ATOMICALLY (temp file +
  * ATOMIC_MOVE) under the query's own checkpoint directory, and
  * `start()` restores it before the query plans its first batch. The
  * merge is IDEMPOTENT on redelivery: Structured Streaming's
  * at-least-once foreachBatch can re-run a batch after a failure, so a
  * batchId ≤ the last persisted one is skipped instead of double-merged.
  * Net effect: exact n and the superset guarantee hold across
  * kill/restart and batch retry, not just within one uninterrupted run —
  * the same recovery posture as the reference's only standing state, its
  * schema cache, which is rebuilt from the database at startup
  * (/root/reference/db/db.go:117-135).
  *
  * Consumers confirm candidates exactly the same way q166 does: a
  * bounded recount over the accumulated corpus (or accept the summary's
  * N/K-undercount estimates when a scan is off the table).
  * `StreamingHeavyHittersSpec` pins the fold against batch q166's exact
  * set across 4 micro-batches, and pins kill/restart + replay parity
  * against an unbroken run.
  */
object IncrementalHeavyHitters {

  /** Running summary: the merged MG buffer, total rows seen, and the id
    * of the last micro-batch merged in (−1 before any batch). */
  final case class Summary(buf: Map[Long, Long], n: Long,
      lastBatch: Long = -1L) {
    /** Candidate ids (superset of all true heavy hitters), sorted. */
    def candidates: Seq[Long] = buf.keys.toSeq.sorted
  }

  final class State {
    private[streaming] val ref = new AtomicReference(Summary(Map.empty, 0L))
    def get: Summary = ref.get()
  }

  /** Where the durable snapshot lives — INSIDE the checkpoint dir, so
    * the summary's lifetime is exactly the query lineage's: wiping the
    * checkpoint (a fresh query) wipes the summary with it, and a restart
    * from the checkpoint finds the summary that matches its offsets. */
  private def stateFile(checkpointDir: String): Path =
    Paths.get(checkpointDir, "graft-hh-state", "summary")

  /** Atomic persist: write to a temp sibling, then ATOMIC_MOVE it over
    * the live file. A process crash at any point leaves either the old
    * snapshot or the new one — never a torn read. Nothing is fsynced, so
    * a power loss is not covered. O(K) bytes. */
  private[streaming] def persist(file: Path, s: Summary): Unit = {
    Files.createDirectories(file.getParent)
    val tmp = file.resolveSibling(s"summary.tmp")
    val body = new StringBuilder
    body.append(s.lastBatch).append(' ').append(s.n).append('\n')
    s.buf.foreach { case (k, c) =>
      body.append(k).append(' ').append(c).append('\n')
    }
    Files.write(tmp, body.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Restore the last persisted snapshot, if any. */
  private[streaming] def load(file: Path): Option[Summary] =
    if (!Files.exists(file)) None
    else {
      val lines = Files.readAllLines(file, StandardCharsets.UTF_8)
      val head = lines.get(0).split(' ')
      val buf = (1 until lines.size).iterator.map { i =>
        val p = lines.get(i).split(' ')
        (p(0).toLong, p(1).toLong)
      }.toMap
      Some(Summary(buf, head(1).toLong, head(0).toLong))
    }

  /** Run the standing fold as a streaming query over a frame with a
    * `user_id` column; `onUpdate` receives the merged summary after
    * every micro-batch (including skipped redeliveries, with the
    * already-current summary). Restores the durable snapshot from
    * `checkpointDir` before starting, so a restart resumes with exact n
    * and the full candidate history. */
  def start(userStream: DataFrame, state: State, checkpointDir: String,
      onUpdate: Summary => Unit): StreamingQuery = {
    val file = stateFile(checkpointDir)
    load(file).foreach(state.ref.set)
    userStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import batch.sparkSession.implicits._
        val cur = state.ref.get()
        if (batchId <= cur.lastBatch) {
          // at-least-once redelivery of an already-merged batch (retry
          // after failure, or replay after restart): the persisted
          // snapshot already contains it — skip, don't double-count
          onUpdate(cur)
        } else {
          // one pass: each partition folds to (MG partial, row count);
          // the collect is bounded at partitions × (K−1) counter pairs
          val partials = batch.select(col("user_id").cast("long"))
            .as[Long]
            .mapPartitions { it =>
              var n = 0L
              var buf = Map.empty[Long, Long]
              it.foreach { x => buf = MisraGriesAgg.reduce(buf, x); n += 1 }
              Iterator.single((buf.toSeq, n))
            }
            .collect()
          val merged = partials.foldLeft(Map.empty[Long, Long]) {
            (acc, p) => MisraGriesAgg.merge(acc, p._1.toMap)
          }
          val batchN = partials.map(_._2).sum
          val next = Summary(MisraGriesAgg.merge(cur.buf, merged),
            cur.n + batchN, batchId)
          // persist BEFORE publishing: a crash between the two replays
          // the batch, the batchId guard sees the persisted marker and
          // skips — effectively-once, same order as TableRouter's
          // rows-then-commitBatch
          persist(file, next)
          state.ref.set(next)
          onUpdate(next)
        }
        ()
      }
      .start()
  }
}
