package graft.queries

import graft.{SparkEntry, Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q170 against an independent local union-find replay per threshold,
  * plus the curve's algebraic invariants (monotone in the threshold;
  * every reported cluster has ≥ 2 members; the t = 50 row agrees with
  * the shared q65 cluster-label artifact) — AND the adaptive-arm
  * equivalence: the driver union-find path (pair count under the gate,
  * what fixtures exercise) and the distributed CC fixpoint (the 100 TB
  * shape) are forced in turn via the `graft.q170.driverCcCap` test seam
  * and must agree byte-for-byte. */
class ThresholdCurveSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(x => x -> find(x)).toMap
  }

  test("per-threshold stats replay a local union-find") {
    // the pair (inter, uni) sizes re-derived with the same expressions;
    // the INDEPENDENT part is the clustering replay below
    val q33 = SparkEntry.queries("q33_ngram_jaccard")(spark, sfDir)
    val pairs = q33.collect().map(r => (r.getLong(0), r.getLong(1)))
    val sets = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        expr("array_distinct(" + TextExprs.shingles3("split(text, ' ')") +
          ")").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val got = SparkEntry.queries("q170_threshold_curve")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq == Seq(50L, 95L, 98L))
    got.foreach { case (t, nPairs, nClusters, nDupDocs) =>
      val tPairs = pairs.filter { case (a, b) =>
        val (sa, sb) = (sets(a), sets(b))
        val inter = (sa & sb).size.toLong
        val uni = (sa | sb).size.toLong
        inter * 100 >= uni * t
      }
      assert(nPairs == tPairs.length.toLong, s"t=$t pairs")
      val comp = unionFind(tPairs.toSeq)
      val sizes = comp.groupBy(_._2).map(_._2.size)
      assert(nClusters == sizes.count(_ >= 2).toLong, s"t=$t clusters")
      assert(nDupDocs == sizes.filter(_ >= 2).sum.toLong, s"t=$t docs")
      assert(nDupDocs >= 2 * nClusters)
    }
    // monotone: raising the cutoff can only shrink the dup structure
    assert(got.map(_._2).toSeq == got.map(_._2).sortBy(-_).toSeq)
    assert(got.map(_._4).toSeq == got.map(_._4).sortBy(-_).toSeq)
    // curve must separate on the fixture (measured 0.90–1.0 pair range)
    assert(got.head._2 > got.last._2, "thresholds must differentiate")
  }

  test("the t=50 row is the shared cluster-label artifact's own census") {
    Dedup.clusterLabels.warm(spark, sfDir)
    val sizes = SparkEntry.queries("q65_dedup_clusters")(spark, sfDir)
      .groupBy(col("cluster")).count()
      .collect().map(_.getLong(1))
    val row50 = SparkEntry.queries("q170_threshold_curve")(spark, sfDir)
      .filter(col("threshold_pct") === 50).head()
    assert(row50.getLong(2) == sizes.count(_ >= 2).toLong)
    assert(row50.getLong(3) == sizes.filter(_ >= 2).sum)
    graft.Resources.releaseAll()
  }

  test("driver union-find and distributed CC arms agree row-for-row") {
    def runCurve(): Seq[String] =
      SparkEntry.queries("q170_threshold_curve")(spark, sfDir)
        .collect().map(_.toString).toSeq
    val key = "graft.q170.driverCcCap"
    val old = System.getProperty(key)
    try {
      System.setProperty(key, "-1") // gate never passes: distributed arm
      val distributed = runCurve()
      System.setProperty(key, Long.MaxValue.toString) // always driver arm
      val driver = runCurve()
      assert(distributed.nonEmpty)
      assert(driver == distributed)
    } finally {
      if (old == null) System.clearProperty(key)
      else System.setProperty(key, old)
    }
  }
}
