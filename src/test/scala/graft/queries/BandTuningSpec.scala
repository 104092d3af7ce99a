package graft.queries

import graft.{SparkEntry, Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q196 against a full local replay: signatures collected once, banded
  * per (bands, rows-per-band) config in plain Scala with the same
  * per-bucket cap, candidate sets and ≥8/16-match estimates recomputed
  * — every output cell must match. Also pins the structural S-curve
  * facts: candidate sets NEST as rows-per-band falls (an r-row band
  * match implies every sub-band matches), and the closed-form
  * theory-at-j=0.5 column carries the exact integers. */
class BandTuningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val configs = Seq((2, 8), (4, 4), (8, 2), (16, 1))

  test("per-config stats replay locally and candidate sets nest") {
    val sigs: Map[Long, Seq[Long]] = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        expr("minhash_sig(split(text, ' '))").as("mh"))
      .filter(col("mh").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

    def candidates(b: Int, r: Int): Set[(Long, Long)] = {
      val buckets = scala.collection.mutable
        .Map.empty[(Int, String), List[Long]]
      sigs.foreach { case (id, mh) =>
        (0 until b).foreach { bd =>
          val key = (bd, mh.slice(bd * r, bd * r + r).mkString(","))
          buckets(key) = id :: buckets.getOrElse(key, Nil)
        }
      }
      buckets.values.flatMap { ids =>
        val capped = ids.sorted.take(10000) // MaxBucket
        for (i <- capped.indices; j <- i + 1 until capped.length)
          yield (capped(i), capped(j))
      }.toSet
    }

    val expected = configs.map { case (b, r) =>
      val cand = candidates(b, r)
      val est = cand.count { case (d1, d2) =>
        sigs(d1).zip(sigs(d2)).count { case (x, y) => x == y } >= 8
      }
      val theory =
        ((1L << 16) - math.round(math.pow((1 << r) - 1, b))) *
          1000000L / 65536L
      (b.toLong, r.toLong, cand.size.toLong, est.toLong,
        est.toLong * 1000000L / math.max(cand.size.toLong, 1L), theory)
    }

    val got = SparkEntry.queries("q196_lsh_band_tuning")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected, s"band-tuning table diverged:\n$got\n$expected")

    // nesting: an r-row band match implies both r/2-row halves match,
    // so candidates(2,8) ⊆ candidates(4,4) ⊆ candidates(8,2) ⊆ (16,1)
    val sets = configs.map { case (b, r) => candidates(b, r) }
    sets.zip(sets.tail).foreach { case (tight, loose) =>
      assert(tight.subsetOf(loose),
        "stricter band configs must nominate a subset of looser ones")
    }
    // theory column exact integers (hand-computed from 1-(1-2^-r)^b)
    assert(got.map(_._6) == Seq(7797L, 227523L, 899887L, 999984L))
  }
}
