package graft.operators

import graft.functions.ZValue
import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** Reference interleave, independent of the expression code path. */
  private def refZ(a: Long, b: Long): Long =
    (0 until ZValue.Bits).foldLeft(0L) { (z, i) =>
      z | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
    }

  test("z_value matches the bit-interleave reference") {
    assert(ZValue.compute(5L, 3L) == 27L) // 101 ⨯ 011 → 011011
    assert(ZValue.compute(0L, 0L) == 0L)
    val max = (1L << ZValue.Bits) - 1
    assert(ZValue.compute(max, max) == (1L << (2 * ZValue.Bits)) - 1)
    // masking: bits above 21 are dropped
    assert(ZValue.compute(max + 1, 0L) == 0L)
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val a = rnd.nextLong().abs & ((1L << ZValue.Bits) - 1)
      val b = rnd.nextLong().abs & ((1L << ZValue.Bits) - 1)
      assert(ZValue.compute(a, b) == refZ(a, b))
    }
  }

  test("z_value is SQL-visible and codegen-evaluable") {
    import spark.implicits._
    val rows = Seq((5L, 3L), (1000000L, 999999L), (0L, 1L))
      .toDF("a", "b")
      .select(expr("z_value(a, b)").as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(refZ(5, 3), refZ(1000000, 999999), refZ(0, 1)))
  }

  test("monotone in both dimensions along axes") {
    // Along either axis (other dim fixed), z is strictly increasing —
    // the property that makes z-ranges contiguous in each dimension.
    val zs = (0L until 100L).map(a => ZValue.compute(a, 37L))
    assert(zs == zs.sorted && zs.distinct.size == zs.size)
    val zs2 = (0L until 100L).map(b => ZValue.compute(37L, b))
    assert(zs2 == zs2.sorted && zs2.distinct.size == zs2.size)
  }

  test("z-order layout tightens per-file zone maps on both dimensions") {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"))
    val nFiles = 8

    def meanSpans(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val spans = df
        .groupBy(spark_partition_id().as("pid"))
        .agg((max("l_orderkey") - min("l_orderkey")).as("s1"),
          (max("l_partkey") - min("l_partkey")).as("s2"))
        .agg(avg("s1"), avg("s2")).collect()(0)
      (spans.getDouble(0), spans.getDouble(1))
    }

    val (zOk, zPk) = meanSpans(
      ZOrderLayout.layout(li, "l_orderkey", "l_partkey", nFiles))
    val (rOk, rPk) = meanSpans(li.repartition(nFiles))

    // Round-robin files span ~the full domain in both dims; z-ordered
    // files must be materially tighter in at least the leading dim and
    // no worse overall (z-order trades a little per-dim tightness for
    // tightness in BOTH).
    assert(zOk < rOk * 0.5,
      s"orderkey span not tightened: z=$zOk vs baseline=$rOk")
    assert(zOk + zPk < rOk + rPk,
      s"combined span not tightened: z=${zOk + zPk} vs ${rOk + rPk}")
  }
}
