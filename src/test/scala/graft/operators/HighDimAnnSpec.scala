package graft.operators

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ANN stack at PRODUCTION embedding width (768 — the fixture is
  * 64-dim and q44's PQ subspaces 16-wide): the ScaleStress hd* probes
  * measure wall time at this width; this spec pins the semantics the
  * probes assume — kernels stay correct and deterministic at 768 dims
  * (the codegen'd cosine, the bit-reproducible IVF trainer, PQ encode +
  * ADC search at m=8 × 96-wide subspaces). Vectors are the probes'
  * synthetic hash floats, so any width-dependent breakage (method-size
  * cliff, slice arithmetic off the end of the array) shows here at
  * test scale before a 23-minute ScaleStress run finds it. */
class HighDimAnnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def vecs(n: Long): DataFrame =
    spark.range(n).toDF("vec_id")
      .withColumn("embedding", expr(
        """transform(sequence(1, 768), i ->
          |  cast((pmod(hash(vec_id * 768 + i), 1999) - 999) / 1000.0
          |    AS float))""".stripMargin))

  test("768-dim cosine: codegen kernel matches a local replay") {
    val rows = vecs(6L)
      .crossJoin(broadcast(vecs(6L)
        .select(col("vec_id").as("pid"), col("embedding").as("pe"))))
      .filter(col("vec_id") < col("pid"))
      .withColumn("score", expr("cosine_sim(embedding, pe)"))
      .select(col("vec_id"), col("pid"), col("score"), col("embedding"),
        col("pe"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val a = r.getSeq[Float](3)
      val b = r.getSeq[Float](4)
      assert(a.length == 768 && b.length == 768)
      // local fold in dimension order — the kernel's documented order
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < 768) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      val want = dot / (math.sqrt(na) * math.sqrt(nb))
      assert(math.abs(r.getDouble(2) - want) < 1e-6,
        s"pair (${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("768-dim IVF trainer: deterministic, complete, partition-invariant") {
    val corpus = vecs(60L)
    def assign(df: DataFrame): Map[Long, Int] =
      IvfIndex.trainDeterministic(df, nCells = 4, iters = 2)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a1 = assign(corpus)
    val a2 = assign(corpus.repartition(13))
    assert(a1 == a2, "assignment must not depend on partitioning")
    assert(a1.size == 60)
    assert(a1.values.toSet.size > 1, "training must split the corpus")
  }

  test("768-dim PQ: m=8 x 96-wide codes complete; ADC search ranked") {
    val corpus = vecs(60L)
    val cb = PqIndex.train(corpus, nCells = 4, m = 8, subDim = 96,
      kSub = 4, iters = 2)
    val codes = PqIndex.encode(corpus, cb)
    val decoded = codes.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2)))
    assert(decoded.length == 60)
    decoded.foreach { case (_, cell, cs) =>
      assert(cell >= 0 && cell < 4)
      assert(cs.length == 8, "one code per 96-wide subspace")
      cs.foreach(c => assert(c >= 0 && c < 4))
    }
    val res = PqIndex.search(codes, cb,
      corpus.filter(col("vec_id") < 3), k = 5, nProbe = 2)
      .collect()
    val byProbe = res.groupBy(_.getLong(0))
    assert(byProbe.keySet == Set(0L, 1L, 2L))
    byProbe.values.foreach { rs =>
      assert(rs.length <= 5 && rs.nonEmpty)
      val ranks = rs.map(_.getInt(3)).sorted.toSeq
      assert(ranks == (1 to rs.length), s"ranks $ranks")
    }
    graft.Resources.releaseAll()
  }
}
