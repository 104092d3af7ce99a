package graft

import org.apache.spark.sql.DataFrame
import scala.util.control.NonFatal

/** The one release point for the frames a session pins. Three kinds of
  * frame end up here:
  *  - [[Artifact]]s: per-(session, corpus) memos shared across queries.
  *    Each registers an [[onReleaseAll]] hook when constructed.
  *  - operator and per-query frames handed across an operator boundary
  *    (e.g. [[operators.ConnectedComponents.labels]] returns a persisted
  *    frame its caller consumes lazily, so the producer can't unpersist
  *    it): [[retain]]ed, or [[retainSlot]]ted when a query re-pins one
  *    generation per run.
  *  - load caches that memoize such frames (Tables' scans, the IVF/PQ
  *    index loads), which clear themselves through [[onReleaseAll]].
  * A session owner ([[GraftSession.release]], a spec, a production
  * driver's shutdown hook) calls [[releaseAll]] when the logical job is
  * over, so no cached partition outlives the run. */
object Resources {
  private val retained = scala.collection.mutable.ListBuffer.empty[DataFrame]
  private val releaseHooks =
    scala.collection.mutable.ListBuffer.empty[() => Unit]

  /** Track a persisted frame for later release; returns it unchanged. */
  def retain(df: DataFrame): DataFrame = synchronized {
    retained += df
    df
  }

  /** Collision-free cache-key identity for a session. Artifact memos key
    * per-(session, corpus) values on this instead of
    * `System.identityHashCode`: after a session is stopped and GC'd, a
    * NEW session can (rarely) collide on the same identity hash and be
    * served a checkpointed frame bound to the dead session if releaseAll
    * was never called in between. The key is a monotonic counter
    * assigned per session OBJECT in a weak-keyed identity map: never
    * reused for the JVM's lifetime (so no cross-GC collision is
    * possible), and the map entry itself is GC-evicted with the session
    * (values are plain strings that don't reference the key, so the weak
    * eviction actually fires — unlike caching the frames themselves
    * under weak keys, see Tables). (`SparkSession.sessionUUID` would be
    * the natural key but is `private[sql]`.) */
  private val sessionKeys =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, String]
  private val sessionSeq = new java.util.concurrent.atomic.AtomicLong
  def sessionKey(s: org.apache.spark.sql.SparkSession): String =
    sessionKeys.synchronized {
      var k = sessionKeys.get(s)
      if (k == null) {
        k = s"sess-${sessionSeq.incrementAndGet()}"
        sessionKeys.put(s, k)
      }
      k
    }

  /** Register a callback fired by every [[releaseAll]], for caches that
    * MEMOIZE frames: releasing the storage under a memoized reference
    * would leave the cache serving a dead frame, so the cache clears
    * itself here. Register once per cache. */
  def onReleaseAll(f: () => Unit): Unit = synchronized {
    releaseHooks += f
    ()
  }

  /** [[retain]] scoped to a named SLOT: re-occupying the slot releases
    * the previous occupants first, so a query that pins fresh
    * per-invocation checkpoints (q89's corpus/tf, q163's toks) holds at
    * most ONE generation between releaseAll calls — without this, every
    * bench rep stacked another corpus-sized checkpoint in the block
    * manager until session end. Safe because the previous generation's
    * consuming action has completed before the query re-enters (the
    * runners execute queries serially) and nothing else holds those
    * frames. */
  private val slots =
    scala.collection.mutable.Map.empty[String, Seq[DataFrame]]
  def retainSlot(key: String, dfs: DataFrame*): Unit = synchronized {
    slots.remove(key).foreach(_.foreach(free))
    slots(key) = dfs
    ()
  }

  /** Release every artifact and every retained frame (blocking=false:
    * eviction proceeds asynchronously; correctness never depended on the
    * cache). Safe to call twice or while queries on other sessions run —
    * unpersist on an already-released frame is a no-op. */
  def releaseAll(): Unit = {
    // Hooks run FIRST: a memo cleared after its checkpoint is released
    // leaves a window where a concurrent caller is handed a
    // lineage-truncated frame that can never recompute. Clearing the
    // memos first means a racing caller either sees the old (still
    // persisted) frame or rebuilds fresh — never a dead reference.
    // They run outside the lock: a hook can wait on an artifact build
    // in flight, and that build may itself call retain.
    synchronized(releaseHooks.toList).foreach { f =>
      try f() catch { case NonFatal(_) => () }
    }
    synchronized {
      retained.foreach(free)
      retained.clear()
      slots.values.foreach(_.foreach(free))
      slots.clear()
    }
  }

  /** Unpersist `df` and release its checkpoint blocks, best effort. */
  def free(df: DataFrame): Unit = {
    try df.unpersist()
    catch { case NonFatal(_) => () }
    releaseCheckpoint(df)
  }

  /** Release the block-manager storage behind a `localCheckpoint`ed
    * frame. `Dataset.unpersist` only talks to the CacheManager, which
    * never hears about checkpoint RDDs — they are persisted at the RDD
    * layer — so a checkpointed frame needs its `LogicalRDD` leaves
    * unpersisted directly or the blocks outlive the job. */
  def releaseCheckpoint(df: DataFrame): Unit =
    try df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    } catch { case NonFatal(_) => () }
}
