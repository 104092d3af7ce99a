package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The native expressions must be bit-identical to their interpreted
  * higher-order-function twins (which are what the DuckDB oracles mirror). */
class ExpressionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new Random(42)

  test("cosine_sim matches the HOF left-fold formula bit-for-bit") {
    val vecs = Seq.fill(50)(
      (Array.fill(64)(rnd.nextFloat() * 2 - 1),
        Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("a", "b")
      .withColumn("fast", expr("cosine_sim(a, b)"))
      .withColumn("slow", expr(
        """aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)
          | / (sqrt(aggregate(transform(a, x -> cast(x as double) * cast(x as double)), 0D, (acc, v) -> acc + v))
          |    * sqrt(aggregate(transform(b, x -> cast(x as double) * cast(x as double)), 0D, (acc, v) -> acc + v)))"""
          .stripMargin))
    val rows = df.select("fast", "slow").collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("cosine_sim sanity: parallel=1, antiparallel=-1, orthogonal=0") {
    val df = Seq(
      (Array(1f, 0f), Array(2f, 0f)),
      (Array(1f, 0f), Array(-3f, 0f)),
      (Array(1f, 0f), Array(0f, 5f))).toDF("a", "b")
      .withColumn("c", expr("cosine_sim(a, b)"))
    assert(df.select("c").as[Double].collect().toSeq == Seq(1.0, -1.0, 0.0))
  }

  test("minhash_sig matches the HOF md5/conv pipeline") {
    val docs = Seq.fill(30)(
      Seq.fill(5 + rnd.nextInt(40))(s"w${rnd.nextInt(50)}").mkString(" "))
    val aList = MinHashSig.A.mkString(", ")
    val bList = MinHashSig.B.mkString(", ")
    val df = docs.toDF("text")
      .withColumn("toks", split($"text", " "))
      .withColumn("fast", expr("minhash_sig(toks)"))
      .withColumn("slow", expr(
        s"""transform(sequence(0, 15), i ->
           |  array_min(transform(
           |    transform(transform(sequence(0, size(toks) - 3),
           |      j -> concat_ws(' ', toks[j], toks[j+1], toks[j+2])),
           |      sh -> cast(conv(substring(md5(sh), 1, 5), 16, 10) as bigint)),
           |    h -> (element_at(array($aList), i + 1) * h +
           |          element_at(array($bList), i + 1)) % ${MinHashSig.P})))"""
          .stripMargin))
    assert(df.selectExpr("fast = slow AS eq").filter("NOT eq").count() == 0)
  }

  test("simhash_sig matches the HOF md5 majority-vote pipeline") {
    val docs = Seq.fill(30)(
      Seq.fill(5 + rnd.nextInt(60))(s"w${rnd.nextInt(40)}").mkString(" "))
    val df = docs.toDF("text")
      .withColumn("toks", split($"text", " "))
      .withColumn("fast", expr("simhash_sig(toks)"))
      .withColumn("slow", expr(
        """cast(aggregate(transform(sequence(0, 15), j ->
          |  IF(aggregate(
          |       transform(array_distinct(toks),
          |         t -> cast(conv(substring(md5(t), 1, 5), 16, 10) as bigint)),
          |       0, (acc, h) ->
          |       acc + (CAST(shiftright(h, j) & 1 AS INT) * 2 - 1)) > 0,
          |     shiftleft(1, j), 0)),
          |  0, (acc, x) -> acc + x) as bigint)""".stripMargin))
    assert(df.filter("fast <> slow").count() == 0)
  }

  test("simhash_wide matches the HOF shingle majority-vote pipeline") {
    val docs = Seq.fill(30)(
      Seq.fill(5 + rnd.nextInt(60))(s"w${rnd.nextInt(40)}").mkString(" "))
    val df = docs.toDF("text")
      .withColumn("toks", split($"text", " "))
      .withColumn("fast", expr("simhash_wide(toks)"))
      .withColumn("slow", expr(
        """cast(aggregate(transform(sequence(0, 59), j ->
          |  IF(aggregate(
          |       transform(array_distinct(transform(sequence(1, size(toks) - 2),
          |           i -> concat_ws(' ', toks[i - 1], toks[i], toks[i + 1]))),
          |         t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)),
          |       0L, (acc, h) ->
          |       acc + (CAST(shiftright(h, j) & 1 AS INT) * 2 - 1)) > 0,
          |     shiftleft(1L, j), 0L)),
          |  0L, (acc, x) -> acc + x) as bigint)""".stripMargin))
    assert(df.filter("fast <> slow").count() == 0)
  }

  test("simhash_wide yields 0 below 3 tokens and skips null slots") {
    val df = Seq("one two", "one", "").toDF("text")
      .withColumn("sig", expr("simhash_wide(split(text, ' '))"))
    assert(df.filter($"sig" =!= 0L).count() == 0)
  }

  test("minhash_sig yields null below 3 tokens") {
    val df = Seq("one two", "one", "").toDF("text")
      .withColumn("sig", expr("minhash_sig(split(text, ' '))"))
    assert(df.filter($"sig".isNotNull).count() == 0)
  }

  test("identical docs share signatures; near-identical share most bands") {
    val base = Seq.fill(100)(s"tok${rnd.nextInt(30)}").mkString(" ")
    val near = base.split(" ").updated(50, "CHANGED").mkString(" ")
    val df = Seq(base, base, near).toDF("text")
      .withColumn("sig", expr("minhash_sig(split(text, ' '))"))
    val sigs = df.select("sig").as[Seq[Long]].collect()
    assert(sigs(0) == sigs(1))
    val shared = sigs(0).zip(sigs(2)).count { case (a, b) => a == b }
    assert(shared >= 8, s"only $shared/16 minhashes shared")
  }
}
