package graft

import org.apache.spark.sql.SparkSession

/** The engine's session policy: the mains, the ingest daemon and the
  * test session are all built here, so they all run the same conf.
  *
  * {{{
  * val spark = GraftSession.local().getOrCreate()   // a local[cpus] main
  * val spark = GraftSession.builder()               // a cluster deployment
  *   .appName("...").getOrCreate()
  * }}}
  */
object GraftSession {
  /** Task slots of a local main: `SPARK_GRAFT_CPUS`, 32 when unset. The
    * committed bench and scale artifacts are 32-thread runs; at local[4]
    * every CPU-bound leg reads ~4-8× slower and linear probes flag as
    * superlinear, so a run that forgets the variable must not silently
    * measure a 4-thread engine. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.trim.toInt)

  /** A builder carrying the engine confs and nothing deployment-specific
    * (no master, no UI or partition policy). */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      // Programmatic, so it is constructed before getOrCreate: that also
      // installs the in-process `file:` filesystem before the JVM caches
      // its first one (see GraftExtensions).
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet's `ts` has been TIMESTAMP(NANOS) in some fixture
      // generations; Tables.events adapts the long it reads to µs.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Sort-based shuffle writer everywhere (r12, measured on a 64-task
      // small-frame stage): the bypass-merge writer opens one spill file
      // per reduce partition per map task, ~6 ms CPU per file here, and
      // burned 15.5 s of task time that the sort writer (one file per map
      // task) does in 2.4 s. Spark already uses the sort path above 200
      // reduce partitions; this pins it for the ≤200 range every session
      // of this engine sits in.
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      // 202 queries × several codegen'd stages each blow through the
      // default 100-entry generated-class cache, so even the min-of-2
      // second bench pass recompiles every stage (Janino, driver-side —
      // lands in the inter-job gap): 30 % of full-suite engine time
      // (r15: 111.8 → 78.8 s). Static conf; classes are KB-sized.
      .config("spark.sql.codegen.cache.maxEntries", "5000")

  /** [[builder]] plus the local-harness settings: `local[slots]`, one
    * shuffle partition per task slot, no Spark UI. */
  def local(slots: Int = cpus): SparkSession.Builder =
    builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.ui.enabled", "false")

  /** Releases everything the queries pinned: every [[Artifact]] (its
    * memo entries and frames) and every frame handed to
    * [[Resources.retain]]. Call it before `stop()`, so no persisted frame
    * outlives a run. `spark` is the session being wound down; the release
    * covers every session, as [[Resources.releaseAll]] does. */
  def release(spark: SparkSession): Unit = Resources.releaseAll()
}
