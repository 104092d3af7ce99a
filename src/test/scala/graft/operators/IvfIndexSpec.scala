package graft.operators

import graft.{Tables, TestSpark}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val corpus = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))
  private lazy val probes = corpus.filter(col("vec_id") < 10)
    .select(col("vec_id").as("probe_id"),
      col("embedding").as("probe_emb"))

  test("probing ALL cells reproduces brute force exactly") {
    val (assigned, centroids) = IvfIndex.build(corpus, nCells = 8)
    val ivf = IvfIndex.search(assigned, centroids, probes,
      k = 5, nProbe = 8)
      .select(col("probe_id"), col("neighbor_id"), col("rank"))
      .collect().map(_.toSeq).toSet
    val brute = {
      corpus.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("score", expr("cosine_sim(probe_emb, embedding)"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("probe_id"))
            .orderBy(col("score").desc, col("vec_id"))))
        .filter(col("rank") <= 5)
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
          col("rank"))
        .collect().map(_.toSeq).toSet
    }
    assert(ivf == brute)
  }

  test("partial probe scans a fraction of the corpus with nonzero recall") {
    val (assigned, centroids) = IvfIndex.build(corpus, nCells = 8)
    val ivf = IvfIndex.search(assigned, centroids, probes,
      k = 5, nProbe = 3)
    // scanned fraction ≈ nProbe/nCells of the corpus per probe
    val scanned = probes.crossJoin(broadcast(centroids)).count() // 10*8 cells
    assert(scanned == 80)
    val rows = ivf.collect()
    assert(rows.length == 50) // 10 probes × k=5 (cells are non-empty)
    // every IVF hit must be a genuine corpus vector with a valid score
    assert(rows.forall(r => r.getAs[Double]("score") <= 1.0 + 1e-9))
  }

  test("prebuilt (persisted, cell-partitioned) index matches in-memory search") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-spec").toString
    val (assigned, centroids) = IvfIndex.build(corpus, nCells = 8)
    IvfIndex.persist(assigned, centroids, dir)
    val mem = IvfIndex.search(assigned, centroids, probes, k = 5, nProbe = 3)
      .collect().map(_.toSeq).toSet
    val pre = IvfIndex.searchPrebuilt(spark, dir, probes, k = 5, nProbe = 3)
      .collect().map(_.toSeq).toSet
    assert(pre == mem)
  }

  test("prebuilt search pushes a static partition filter on cell") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-spec2").toString
    val (assigned, centroids) = IvfIndex.build(corpus, nCells = 8)
    IvfIndex.persist(assigned, centroids, dir)
    val df = IvfIndex.searchPrebuilt(spark, dir, probes, k = 5, nProbe = 2)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the corpus scan must list only the probed cell directories
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"no partition filter on cell in plan:\n${plan.take(3000)}")
  }

  test("ensure() builds once then loads (idempotent offline job)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-spec3").toString + "/idx"
    val (a1, c1) = IvfIndex.ensure(corpus, 8, dir)
    val sig1 = a1.select("vec_id", "cell").collect().map(_.toSeq).toSet
    val (a2, _) = IvfIndex.ensure(corpus, 8, dir) // second call: load path
    val sig2 = a2.select("vec_id", "cell").collect().map(_.toSeq).toSet
    assert(sig1 == sig2)
    assert(c1.count() == 8)
  }

  test("ensure() refuses an index whose build stopped between its writes") {
    // corpus/ written (with Spark's _SUCCESS), centroids/ never
    val dir = java.nio.file.Files.createTempDirectory("ivf-half").toString
    val (assigned, _) = IvfIndex.build(corpus, nCells = 8)
    assigned.write.partitionBy("cell").parquet(s"$dir/corpus")
    val e = intercept[IllegalStateException](IvfIndex.ensure(corpus, 8, dir))
    assert(e.getMessage.contains(dir))
  }

  test("deterministic training is partition-invariant and covers the corpus") {
    val base = IvfIndex.trainDeterministic(corpus, nCells = 8, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val repart = IvfIndex.trainDeterministic(corpus.repartition(17),
        nCells = 8, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(base == repart, "assignment must not depend on partitioning")
    assert(base.size == corpus.count())
    assert(base.values.toSet.size > 1, "training collapsed to one cell")
    graft.Resources.releaseAll()
  }

  test("trainAssign(c, c) is trainDeterministic; a subset-trained " +
      "generation still assigns every corpus vector") {
    val self = IvfIndex.trainAssign(corpus, corpus, nCells = 8, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val det = IvfIndex.trainDeterministic(corpus, nCells = 8, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(self == det,
      "trainAssign with trainSet == corpus must be exactly " +
        "trainDeterministic (same trainer, same argmin)")
    // the q189 shape: train on half the corpus, assign all of it —
    // every vector must land in exactly one of the candidate's cells
    val half = IvfIndex.trainAssign(
        corpus.filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 0),
        corpus, nCells = 8, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(half.size == det.size, "total assignment must cover the corpus")
    assert(half.values.forall(c => c >= 0 && c < 8))
    assert(half != det,
      "a generation trained on half the corpus should differ somewhere " +
        "(otherwise q189's churn readout is vacuous on this fixture)")
    graft.Resources.releaseAll()
  }

  test("loadLocal memoizes a LocalRelation centroid side that matches " +
      "load, and localize refuses data-sized frames") {
    val dir = java.nio.file.Files
      .createTempDirectory("ivf-local").toString
    IvfIndex.ensure(corpus, nCells = 4, dir)
    val (_, cents) = IvfIndex.load(spark, dir)
    val (_, local) = IvfIndex.loadLocal(spark, dir)
    // the localized side must be a LocalRelation (broadcasting it
    // launches no scan job — the point of the memo)
    assert(local.queryExecution.analyzed.collectLeaves().forall {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        true
      case _ => false
    }, "loadLocal centroid side must resolve to a LocalRelation")
    // identical contents, and the memo returns the same instance
    assert(local.collect().map(_.toString).sorted.toSeq ==
      cents.collect().map(_.toString).sorted.toSeq)
    assert(IvfIndex.loadLocal(spark, dir)._2 eq local)
    // the small-table guard fails loudly on a data-sized frame
    val big = spark.range(IvfIndex.LocalizeMaxRows + 1L).toDF("id")
    intercept[IllegalArgumentException](IvfIndex.localize(big))
    graft.Resources.releaseAll()
    // releaseAll clears the memo: next call rebuilds (fresh instance)
    assert(!(IvfIndex.loadLocal(spark, dir)._2 eq local))
    graft.Resources.releaseAll()
  }
}
