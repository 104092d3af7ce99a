package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native km_nearest kernel must be BIT-IDENTICAL to the HOF chain
  * it replaced in [[graft.operators.IvfIndex.argminCell]]:
  *
  *   array_min(transform(cs, cc -> struct(
  *     aggregate(zip_with(qv, cc.c, (x,y) -> (cast(x as double)-y) *
  *       (cast(x as double)-y)), cast(0.0 as double), (acc,v) -> acc+v)
  *       AS dist,
  *     cc.cell AS cell)))
  *
  * — including dist ties (smaller cell wins), length mismatches (null
  * dist, which sorts FIRST in struct ordering), null elements, and an
  * empty centroid array (null result). The deterministic-k-means oracle
  * replays training bit-for-bit, so any divergence here is a
  * correctness bug, not a perf nuance.
  */
class KmNearestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val hof =
    """array_min(transform(cs, cc -> struct(
      |  aggregate(zip_with(qv, cc.c, (x, y) ->
      |    (cast(x as double) - y) * (cast(x as double) - y)),
      |    cast(0.0 as double), (acc, v) -> acc + v) AS dist,
      |  cc.cell AS cell)))""".stripMargin

  private def compare(rows: Seq[(Seq[(Int, Seq[Double])], Seq[Long])])
      : Unit = {
    import spark.implicits._
    val df = rows.toDF("cs_raw", "qv")
      .withColumn("cs", expr(
        "transform(cs_raw, t -> struct(t._1 AS cell, t._2 AS c))"))
    val got = df
      .select(expr("km_nearest(cs, qv)").as("m"), expr(hof).as("h"))
      .select(col("m.dist"), col("m.cell"), col("h.dist").as("hd"),
        col("h.cell").as("hc"))
      .collect()
    got.foreach { r =>
      // bit-level double equality (or both null)
      assert(r.isNullAt(0) == r.isNullAt(2), s"dist nullability: $r")
      if (!r.isNullAt(0))
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          s"dist bits: $r")
      assert(r.isNullAt(1) == r.isNullAt(3), s"cell nullability: $r")
      if (!r.isNullAt(1)) assert(r.getInt(1) == r.getInt(3), s"cell: $r")
    }
  }

  test("matches the HOF chain on random centroid sets (bit-level)") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { _ =>
      val dims = 1 + rnd.nextInt(8)
      val cells = (0 until (1 + rnd.nextInt(6))).map { c =>
        (c, Seq.fill(dims)(rnd.nextDouble() * 100 - 50))
      }
      val qv = Seq.fill(dims)(rnd.nextInt(2000000).toLong - 1000000L)
      (cells, qv)
    }
    compare(rows)
  }

  test("dist ties break on the smaller cell") {
    // two centroids equidistant from qv: (0) and (2) around qv=1
    compare(Seq(
      (Seq((0, Seq(0.0)), (1, Seq(2.0))), Seq(1L)),
      (Seq((5, Seq(2.0)), (3, Seq(0.0))), Seq(1L)),
      // identical centroids — pure tie
      (Seq((2, Seq(4.0, 4.0)), (1, Seq(4.0, 4.0))), Seq(3L, 3L))))
  }

  test("length mismatch yields a NULL dist that wins the min") {
    compare(Seq(
      // cell 1's centroid is short → null dist → sorts first
      (Seq((0, Seq(0.0, 0.0)), (1, Seq(0.0))), Seq(1L, 1L)),
      (Seq((0, Seq(0.0, 0.0, 0.0))), Seq(1L, 1L))))
  }

  test("empty centroid array yields null") {
    import spark.implicits._
    val df = Seq((Seq.empty[(Int, Seq[Double])], Seq(1L)))
      .toDF("cs_raw", "qv")
      .withColumn("cs", expr(
        "transform(cs_raw, t -> struct(t._1 AS cell, t._2 AS c))"))
    val r = df.select(expr("km_nearest(cs, qv)").as("m")).collect()(0)
    assert(r.isNullAt(0))
  }

  test("fold order matches on adversarial magnitudes (non-associative)") {
    // values chosen so (a+b)+c != a+(b+c) in doubles — a wrong fold
    // order would flip low-order bits
    val cents = Seq((0, Seq(1e16, 1.0, -1e16, 3.0)),
      (1, Seq(0.1, 0.2, 0.3, 0.4)))
    compare(Seq((cents, Seq(1L, 2L, 3L, 4L)),
      (cents, Seq(1048576L, -1048576L, 0L, 7L))))
  }
}
