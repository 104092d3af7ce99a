package graft

import org.scalatest.funsuite.AnyFunSuite

/** Persisted-frame hygiene: the shared-index caches (LSH candidates) and
  * operator-returned persisted frames (connected-components labels) must
  * all be released by the session-owner cleanup path, leaving ZERO
  * persisted RDDs — the invariant Verify/Bench assert before stop(). */
class HygieneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("release paths leave no persisted RDDs behind") {
    // build the in-memory cached artifacts a run can leave behind
    graft.queries.Dedup.candidates.warm(spark, sfDir)
    graft.queries.Dedup.orderedShingles.warm(spark, sfDir)
    graft.queries.Graph.coEdges.warm(spark, sfDir)
    graft.queries.Graph.walkAdj.warm(spark, sfDir)
    graft.queries.Graph.hitsEdges.warm(spark, sfDir)
    graft.queries.Dedup.clusterLabels.warm(spark, sfDir)
    graft.queries.Dedup.spanFrame.warm(spark, sfDir)
    graft.queries.TextAnalysis.bm25PerDoc.warm(spark, sfDir)
    graft.queries.TextAnalysis.lmScores.warm(spark, sfDir)
    graft.queries.Training.trainedModel.warm(spark, sfDir)
    val nodes = spark.range(6).toDF("id")
    val edges = spark.createDataFrame(Seq((0L, 1L), (1L, 2L), (4L, 5L)))
      .toDF("src", "dst")
    val labels = operators.ConnectedComponents.labels(nodes, edges)
    assert(labels.count() === 6)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "precondition: caches exist before release")

    graft.queries.Dedup.candidates.release(spark)
    graft.queries.Graph.coEdges.release(spark)
    graft.queries.TextAnalysis.trainedBpe.release(spark)
    Resources.releaseAll()
    // unpersist(blocking=false) unregisters synchronously; block removal
    // is async but getPersistentRDDs reflects unregistration immediately
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leftover: ${spark.sparkContext.getPersistentRDDs.keys}")
  }

  test("release is idempotent and frames stay usable after release") {
    graft.queries.Dedup.candidates.warm(spark, sfDir)
    graft.queries.Dedup.candidates.release(spark)
    graft.queries.Dedup.candidates.release(spark)
    Resources.releaseAll()
    Resources.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    // a post-release query rebuilds the index transparently
    graft.queries.Dedup.candidates.warm(spark, sfDir)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    graft.queries.Dedup.candidates.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("cluster-label memo rebuilds after releaseAll (no dead frame)") {
    // the memo points at a localCheckpoint; releaseAll kills the
    // checkpoint AND (via the artifact's onReleaseAll hook) clears the
    // memo — a stale entry would serve a lineage-truncated frame that
    // can never be recomputed
    graft.queries.Dedup.clusterLabels.warm(spark, sfDir)
    Resources.releaseAll()
    val nDocs = graft.Tables.documents(spark, sfDir).count()
    val n = graft.SparkEntry.queries("q65_dedup_clusters")(spark, sfDir)
      .count()
    assert(n == nDocs, "labels must rebuild transparently after release")
    graft.queries.Dedup.candidates.release(spark)
    Resources.releaseAll()
  }

  test("localCheckpoint-based queries release through Resources too") {
    // q109 pins its range partitioning with an eager localCheckpoint and
    // q108 persists the phash frame — both retained via Resources; the
    // checkpoint RDD is only reclaimable through releaseCheckpoint
    // (Dataset.unpersist never hears about RDD-layer persistence)
    val q109 = graft.SparkEntry.queries("q109_equidepth_histogram")
    assert(q109(spark, sfDir).count() == 16)
    val q108 = graft.SparkEntry.queries("q108_media_phash_neardup")
    assert(q108(spark, sfDir).count() >= 0)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "precondition: checkpoint/persisted frames exist")
    Resources.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leftover: ${spark.sparkContext.getPersistentRDDs.keys}")
  }
}
