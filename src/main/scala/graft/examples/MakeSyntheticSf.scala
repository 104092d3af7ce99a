package graft.examples

import org.apache.spark.sql.functions._

/** Synthetic scale-up fixture writer — the full-suite dress rehearsal
  * for a driver SF bump: replicates the FACT tables N× with key strides
  * (the ScaleStress recipe, written to disk so `graft.Verify` +
  * `tools/check.py` can gate all queries engine-vs-DuckDB at N× data),
  * while the dimension tables stay 1× so every foreign key keeps
  * resolving (copies of orders/lineitem reference the original
  * customer/part/supplier rows — a denser fact side over the same
  * dims, which is what a larger SF looks like to the join family).
  * Strides match ScaleStress: orderkey/doc_id/vec_id/event_id 10⁹,
  * user_id 10⁶ — document and embedding ids shift in lockstep so the
  * doc_id = vec_id pairing survives per copy. Text is replicated
  * verbatim: cross-copy duplicate mass is a LEGITIMATE 10× stress for
  * the dedup family (a 10× crawl is mostly near-dups too).
  *
  * {{{ sbt "runMain graft.examples.MakeSyntheticSf [src] [out] [copies]" }}}
  */
object MakeSyntheticSf {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/sf_synth10"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def rep(name: String, shifts: Map[String, Long]): Unit = {
      val df = spark.read.parquet(s"$src/$name.parquet")
      val r = shifts.foldLeft(
          df.crossJoin(broadcast(spark.range(copies).toDF("copy")))) {
          case (acc, (k, stride)) =>
            acc.withColumn(k, col(k) + col("copy") * stride)
        }.drop("copy")
      r.coalesce(8).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[synth] $name x$copies -> $out")
    }
    def dim(name: String): Unit = {
      spark.read.parquet(s"$src/$name.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[synth] $name x1 (dim) -> $out")
    }

    Seq("region", "nation", "customer", "supplier", "part").foreach(dim)
    // 4e9 orderkey stride, NOT 1e9: q98/q99's merge source synthesizes
    // INSERT keys at k + 1e9, so a 1e9 replication stride makes copy
    // c's inserts collide with copy c+1's base keys (duplicate-key
    // merge — ill-defined, and impossible on real fixtures where
    // orderkeys sit far below 1e9). 4e9 keeps k + 1e9 strictly between
    // strides for any base key < 3e9.
    rep("orders", Map("o_orderkey" -> 4000000000L))
    rep("lineitem", Map("l_orderkey" -> 4000000000L))
    rep("events",
      Map("event_id" -> 1000000000L, "user_id" -> 1000000L))
    rep("documents", Map("doc_id" -> 1000000000L))
    rep("embeddings", Map("vec_id" -> 1000000000L))
    spark.stop()
  }
}
