package graft.examples

import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import scala.util.control.NonFatal

/** Scale-linearity probe: runs the two core workloads (decimal aggregation
  * à la q01, MinHash-LSH candidate generation à la q31) at 1× and 10× the
  * sf0.1 data (10× synthesized by unioning key-shifted copies — no files
  * written) and prints the runtime ratios. A shuffle- or driver-bound plan
  * shows superlinear growth; the expected profile is ~linear (10×±JIT).
  *
  * {{{ sbt "runMain graft.examples.ScaleStress" }}}
  */
object ScaleStress {

  private def replicate(df: DataFrame, copies: Int, keyCol: String,
      keyStride: Long): DataFrame =
    df.crossJoin(broadcast(df.sparkSession.range(copies).toDF("copy")))
      .withColumn(keyCol, col(keyCol) + col("copy") * keyStride)
      .drop("copy")

  private def time(f: => Long): (Double, Long) = {
    // min of two back-to-back runs (the Bench best-of-N rationale,
    // local form): single-shot 10× probes showed 2-3× run-to-run
    // variance (GC pauses, AQE stage timing) that flagged probes as
    // superlinear spuriously — one run read triangle at 8.3×, the next
    // at 3.1×, same code and data. The bodies are idempotent reads.
    val t0 = System.nanoTime()
    val n = f
    val r1 = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    f
    val r2 = (System.nanoTime() - t1) / 1e9
    (math.min(r1, r2), n)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jiffies0 = graft.Tuning.cpuJiffies()

    def aggRun(li: DataFrame): Long =
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1) - col("l_discount").cast("decimal(12,2)"))).as("rev"),
          count(lit(1)).as("n"))
        .collect().map(_.getAs[Long]("n")).sum

    def lshRun(docs: DataFrame): Long =
      docs.withColumn("toks", split(col("text"), " "))
        .withColumn("mh", expr("minhash_sig(toks)"))
        .filter(col("mh").isNotNull)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, 3), b ->
            |  concat_ws(',', slice(mh, b * 4 + 1, 4)))""".stripMargin))
          .as("bkey"))
        .groupBy(col("bkey")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2).count()

    // per-row text quality pipeline à la q69/q70 (alpha fraction +
    // duplicate-bigram fraction) — pure map, should be exactly linear
    def qualityRun(docs: DataFrame): Long =
      docs.withColumn("toks", split(col("text"), " "))
        .withColumn("alpha", expr(
          "size(filter(toks, t -> t rlike '^[a-z]+$'))"))
        .withColumn("bigrams", expr(
          """CASE WHEN size(toks) >= 2 THEN
            |  transform(sequence(0, size(toks) - 2),
            |    i -> concat_ws(' ', toks[i], toks[i+1]))
            |ELSE array() END""".stripMargin))
        // aggregate over every derived column so the per-row compute
        // cannot be pruned away
        .agg(sum(col("alpha") + size(col("bigrams")) -
          size(array_distinct(col("bigrams")))))
        .head().getLong(0)

    // per-vector int8 quantization à la q71 — HOF-heavy per-row map
    def quantRun(embs: DataFrame): Long =
      embs.withColumn("dvec", expr(
        "transform(embedding, x -> cast(x AS double))"))
        .withColumn("mn", expr("array_min(dvec)"))
        .withColumn("mx", expr("array_max(dvec)"))
        .withColumn("scale", expr("(mx - mn) / 255.0D"))
        .withColumn("codes", expr(
          """CASE WHEN scale = 0D THEN transform(dvec, x -> 0L)
            |ELSE transform(dvec,
            |  x -> cast(round((x - mn) / scale, 0) AS bigint)) END"""
            .stripMargin))
        .agg(sum(expr("aggregate(codes, 0L, (a, c) -> a + c)")))
        .head().getLong(0)

    // distributed shingle-overlap join à la q73 — the shuffle carries
    // (shingle, id) pairs and grows with the corpus; expected ~linear
    def decontRun(docs: DataFrame): Long = {
      val t = docs.withColumn("toks", split(col("text"), " "))
        .withColumn("sh",
          array_distinct(expr(graft.queries.TextExprs.shingles3("toks"))))
        .withColumn("h", pmod(hash(col("doc_id")), lit(10)))
      val train = t.filter(col("h") < 8)
        .select(explode(col("sh")).as("shingle")).distinct()
      val test = t.filter(col("h") >= 8)
        .select(col("doc_id"), explode(col("sh")).as("shingle"))
      test.join(train, Seq("shingle"), "left")
        .groupBy(col("doc_id")).count().count()
    }

    // per-shard packing cumsum à la q74 — windows must parallelize across
    // shards; a serializing (single-partition) window would go superlinear
    def packRun(docs: DataFrame): Long = {
      import org.apache.spark.sql.expressions.Window
      docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n"),
          pmod(hash(col("doc_id")), lit(64)).as("shard"))
        .withColumn("cum", sum(col("n")).over(
          Window.partitionBy(col("shard")).orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("shard"))
        .agg(max(col("cum")).as("tok"), count(lit(1)).as("nd"))
        .agg(sum(expr("(tok + 511) div 512"))).head().getLong(0)
    }

    // 60-bit simhash sketch + band bucketing à la q80 — sketch is a
    // per-row map, buckets shuffle (band, 15-bit key) only
    def simhashRun(docs: DataFrame): Long =
      docs.withColumn("toks", split(col("text"), " "))
        .withColumn("sig", expr("simhash_wide(toks)"))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, 3), b ->
            |  struct(b AS band, shiftright(sig, 15 * b) & 32767 AS bkey))"""
            .stripMargin)).as("bb"))
        .groupBy(col("bb.band"), col("bb.bkey"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2).count()

    // mergeable count-min sketch à la q81 — the shuffle carries one
    // 32 KB buffer per partition regardless of row count
    def cmsRun(docs: DataFrame): Long = {
      val cms = udaf(graft.functions.CountMinAgg)
      docs.select(explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
        .agg(cms(col("token"))).head().getSeq[Long](0).sum
    }

    // bloom build + pre-shuffle probe pruning à la q82
    def bloomRun(li: DataFrame): Long = {
      val bloom = udaf(graft.functions.BloomAgg)
      val bf = li.filter(col("l_quantity") >= 45).select(col("l_orderkey"))
        .agg(bloom(col("l_orderkey")).as("bf"))
      val admitted = (0 until 4).map { i =>
        val pos = s"pmod(h1 + $i * h2, 1048576)"
        s"(shiftright(element_at(bf, cast(shiftright($pos, 6) as int) + 1), " +
          s"cast(($pos & 63) as int)) & 1) = 1"
      }.mkString("(", ") AND (", ")")
      li.select(col("l_orderkey")).crossJoin(broadcast(bf))
        .withColumn("h1", expr(
          "cast(conv(substring(md5(cast(l_orderkey as string)), 1, 5), 16, 10) as bigint)"))
        .withColumn("h2", expr(
          "cast(conv(substring(md5(cast(l_orderkey as string)), 6, 5), 16, 10) as bigint)"))
        .filter(expr(admitted)).count()
    }

    // PQ encoding à la q44 — codebooks are trained ONCE (offline job in
    // production; corpus-size-independent broadcast state) and the
    // per-row encode pass is what scales with the corpus
    lazy val pqCb = graft.operators.PqIndex.train(
      Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")),
      nCells = 8, m = 4, subDim = 16, kSub = 8, iters = 2)
    def pqRun(embs: DataFrame): Long =
      graft.operators.PqIndex.encode(embs, pqCb)
        .agg(sum(expr("cell + codes[0] + codes[1] + codes[2] + codes[3]")))
        .head().getLong(0)

    // fixed-point PageRank à la q86 — per iteration one rank-onto-edges
    // key shuffle + one integer-sum shuffle; 10× disjoint graph copies
    // should scale ~linearly
    def prRun(edges: DataFrame): Long =
      graft.operators.PageRank.run(edges, iters = 2)
        .agg(sum(col("r"))).head().getLong(0)

    // ordered funnel à la q90 — three stage-filtered user-keyed aggs
    // chained by joins; ratio probes the stage-frame join path
    def funnelRun(ev: DataFrame): Long = {
      def stage(t: String) = ev.filter(col("event_type") === t)
      val s1 = stage("signup").groupBy(col("user_id"))
        .agg(min(col("ts")).as("t1"))
      val c1 = stage("click").join(s1, Seq("user_id"))
        .filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val p1 = stage("purchase").join(c1, Seq("user_id"))
        .filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      p1.count()
    }

    // z-order zone-map stats à la q94 — narrow codegen'd interleave +
    // broadcast bounds + one 64-key aggregate; should be exactly linear
    def zorderRun(li: DataFrame): Long = {
      val z = li.select(expr(
        "z_value(cast(l_orderkey as bigint), cast(l_partkey as bigint))")
        .as("z"))
      val b = z.agg(min(col("z")).as("zmin"), max(col("z")).as("zmax"))
      z.crossJoin(broadcast(b))
        .groupBy(expr("(z - zmin) div ((zmax - zmin) div 64 + 1)")
          .as("bucket"))
        .count().count()
    }

    // bigram-LM scoring à la q92 — two count aggs + two key joins of
    // the bigram stream; the heaviest new shuffle shape
    def lmRun(docs: DataFrame): Long = {
      val bg = docs
        .select(col("doc_id"),
          expr("filter(split(text, ' '), t -> t <> '')").as("tk"))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(tk) >= 2 THEN
            |  transform(sequence(0, size(tk) - 2),
            |    i -> struct(tk[i] AS w1, tk[i + 1] AS w2))
            |ELSE array() END""".stripMargin)).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      bg.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
        .groupBy(col("doc_id"))
        .agg(sum(expr("(1000000L * c12) div c1")).as("p"))
        .count()
    }

    // KMV sketch over the raw token stream à la q105 — O(K) partials,
    // ≤512-byte shuffle buffers; time should grow with scan cost only
    def kmvRun(docs: DataFrame): Long = {
      val kmv = udaf(graft.functions.KmvAgg)
      docs.select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .withColumn("h", expr(
          "cast(conv(substring(md5(w), 1, 12), 16, 10) as bigint)"))
        .agg(kmv(col("h"))).head().getSeq[Long](0).sum
    }

    // per-user ordered fold à la q110 — one user-keyed aggregate whose
    // per-group work is bounded by the per-user event count
    def ewmaRun(ev: DataFrame): Long =
      ev.select(col("user_id"), col("event_id"), col("ts"),
          (col("value").cast("decimal(18,6)") * 1000000).cast("long")
            .as("vm"))
        .groupBy(col("user_id"))
        .agg(expr(
          """aggregate(
            |  transform(sort_array(collect_list(struct(ts, event_id, vm))),
            |    x -> x.vm),
            |  0L, (acc, v) -> (acc + v) div 2)""".stripMargin).as("e"))
        .agg(sum(col("e"))).head().getLong(0)

    // covariance/Gram moment sums à la q141 — each row fans out to
    // D(D+1)/2 = 2 080 integer products, but map-side partial
    // aggregation collapses them to 2 080 longs per partition before
    // the shuffle, so wall time tracks the scan, not the fan-out
    def gramRun(e: DataFrame): Long =
      e.select(expr(
          "transform(embedding, x -> cast(round(cast(x as double) * 1048576, 0) as bigint))")
          .as("qv"))
        .select(col("qv"), posexplode(col("qv")).as(Seq("i", "xi")))
        .select(col("i"), col("xi"), posexplode(col("qv")).as(Seq("j", "xj")))
        .where(col("j") >= col("i"))
        .groupBy(col("i"), col("j")).agg(sum(expr("xi * xj")).as("sxx"))
        .count()

    // within-cell semantic-dedup pairs à la q111 — cells stay CONSTANT
    // size under growth (the SemDeDup contract: k ~ sqrt(N)), so the
    // quadratic term is per-cell-bounded and total work is linear
    def semdedupRun(e: DataFrame): Long = {
      // replicate() shifts ids by 1e9 per copy: folding the copy index
      // into the cell key keeps cell size constant as the corpus grows
      val n = e.withColumn("cell",
        expr("concat(label, '_', cast(vec_id div 1000000000L as string))"))
      val a = n.select(col("cell"), col("vec_id").as("id1"),
        col("embedding").as("e1"))
      val b = n.select(col("cell"), col("vec_id").as("id2"),
        col("embedding").as("e2"))
      a.join(b, Seq("cell")).filter(col("id1") < col("id2"))
        .filter(expr("cosine_sim(e1, e2) >= 0.3"))
        .groupBy(col("id2")).agg(min(col("id1")))
        .count()
    }

    // substring-dup span stats à la q112 — the span-hash groupBy is the
    // one wide op; shuffle grows linearly with corpus tokens
    def spanRun(docs: DataFrame): Long = {
      val spans = docs
        .select(col("doc_id"),
          expr("filter(split(text, ' '), t -> t <> '')").as("tk"))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(tk) >= 8 THEN
            |  transform(sequence(0, size(tk) - 8),
            |    i -> substring(md5(concat_ws(' ', slice(tk, i + 1, 8))), 1, 16))
            |ELSE array() END""".stripMargin)).as("h"))
      spans.groupBy(col("h"))
        .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
        .filter(col("lo") =!= col("hi")).count()
    }

    // ε-near-join à la q121 — bucket + neighbor probe; candidates track
    // true near pairs, so 10× rows ⇒ ~10× pairs per day-bucket density
    def epsRun(o: DataFrame): Long = {
      val eps = 10000L
      val b = o.select(col("o_orderdate").as("day"),
        col("o_orderkey").as("k"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
          .as("pc"))
        .withColumn("b", expr(s"pc div ${eps}L"))
      val probe = b.select(col("day"), col("k").as("k1"),
        col("pc").as("pc1"),
        explode(array(col("b"), col("b") + 1)).as("jb"))
      val build = b.select(col("day"), col("k").as("k2"),
        col("pc").as("pc2"), col("b").as("jb"))
      probe.join(build, Seq("day", "jb"))
        .filter(col("k1") =!= col("k2") &&
          abs(col("pc1") - col("pc2")) <= eps).count()
    }

    // MMR candidate machinery à la q125 — cost ∝ queries × C² (the
    // greedy itself is bounded per query); probes 3 → 30 is the 10×
    def mmrRun(embs: DataFrame, nProbes: Int): Long = {
      val probes = embs.filter(col("vec_id") < nProbes)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val scored = embs
        .join(broadcast(probes), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("doc_id"),
          expr("cast(floor(1000000 * cosine_sim(qe, embedding)) as bigint)")
            .as("rel"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("rel").desc, col("doc_id"))
      val cands = scored.withColumn("r", row_number().over(w))
        .filter(col("r") <= 30)
        .select(col("query_id"), col("doc_id"))
      val vecs = embs
        .join(broadcast(cands.select(col("doc_id")).distinct()),
          col("vec_id") === col("doc_id"))
        .select(col("doc_id"), col("embedding"))
      cands.as("x").join(cands.as("y"),
          col("x.query_id") === col("y.query_id") &&
            col("x.doc_id") =!= col("y.doc_id"))
        .select(col("x.query_id").as("query_id"),
          col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .join(broadcast(vecs.withColumnsRenamed(
          Map("doc_id" -> "a", "embedding" -> "ea"))), Seq("a"))
        .join(broadcast(vecs.withColumnsRenamed(
          Map("doc_id" -> "b", "embedding" -> "eb"))), Seq("b"))
        .withColumn("sim",
          expr("cast(floor(1000000 * cosine_sim(ea, eb)) as bigint)"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n"))
        .count()
    }

    // DSIR scoring à la q126 — the weight table is constant (8192
    // rows); cost must track the token stream
    def dsirRun(docs: DataFrame): Long = {
      val toks = docs.select(col("doc_id"), col("lang"),
          explode(expr("filter(split(text, ' '), t -> t <> '')"))
            .as("term"))
        .withColumn("b", expr(
          "cast(conv(substring(md5(term), 1, 8), 16, 10) as bigint) % 8192"))
      val bw = toks.groupBy(col("b")).agg(count(lit(1)).as("cs"),
        sum(expr("cast(lang = 'en' as bigint)")).as("ct"))
      val tot = bw.agg(sum(col("cs")).as("s"), sum(col("ct")).as("t"))
      val wts = bw.crossJoin(broadcast(tot)).select(col("b"),
        expr("((ct + 1) * (s + 8192) * 1000000L) div ((cs + 1) * (t + 8192))")
          .as("rm"))
      toks.join(broadcast(wts), Seq("b")).groupBy(col("doc_id"))
        .agg(sum(col("rm") - lit(1000000L)).as("ss"))
        .filter(col("ss") > 0).count()
    }

    // sentence-level first-occurrence dedup à la q133 — the shuffle
    // carries one row per DISTINCT normalized sentence (map-side
    // collapse); the copy index is folded into the norm key (replicate
    // strides doc_id by 1e9) so distinct sentences grow 10× with the
    // corpus and the probe measures plan scaling, not cross-copy
    // dedup collapse
    def sentRun(docs: DataFrame): Long = {
      val sent = docs
        .select(col("doc_id"),
          posexplode(split(col("text"), "\\. ")).as(Seq("p", "sentence")))
        .filter(trim(col("sentence")) =!= "")
        .select(col("doc_id"), (col("p") + 1).as("pos"), col("sentence"),
          concat(lower(trim(col("sentence"))), lit("_"),
            expr("doc_id div 1000000000L")).as("norm"))
      val firsts = sent.groupBy(col("norm"))
        .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
        .select(col("norm").as("fnorm"), col("f.doc_id").as("fdoc"),
          col("f.pos").as("fpos"))
      sent.join(firsts,
          col("norm") === col("fnorm") && col("doc_id") === col("fdoc") &&
            col("pos") === col("fpos"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_kept"))
        .count()
    }

    // event-sequence pattern mining à la q137 — ONE user-keyed
    // collect_list shuffle, regexes map-side over one compact string
    // per user; per-user sequences are constant under user-strided
    // replication, so cost should track the event scan ~linearly
    def patRun(ev: DataFrame): Long =
      ev.groupBy(col("user_id"))
        .agg(expr(
          """array_join(transform(
            |  sort_array(collect_list(struct(ts, event_id,
            |    substring(event_type, 1, 1) AS c))),
            |  x -> x.c), '')""".stripMargin).as("seq"))
        .select(explode(array(
          struct(lit("s_p").as("pattern"),
            col("seq").rlike("s.*p").cast("long").as("m")),
          struct(lit("vvv").as("pattern"),
            col("seq").rlike("vvv").cast("long").as("m")),
          struct(lit("cep").as("pattern"),
            col("seq").rlike("ce*p").cast("long").as("m")),
          struct(lit("vcp").as("pattern"),
            col("seq").rlike("(vc)+p").cast("long").as("m")))).as("pm"))
        .groupBy(col("pm.pattern")).agg(sum(col("pm.m")).as("n"))
        .agg(sum(col("n"))).head().getLong(0)

    // distributed rank à la q109/q148 — range repartition + per-pid
    // window + bounded prefix offsets; cost must track the scan
    // ~linearly (a global-sort row_number would serialize the 10× run
    // onto one task and go superlinear)
    def rankRun(ord: DataFrame): Long = {
      val o = ord.select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
          .as("pc"))
        .repartitionByRange(col("pc"), col("k"))
        .withColumn("pid", spark_partition_id())
        .localCheckpoint()
      val counts = o.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      var acc = 0L
      val offsets = counts.map { case (p, c) =>
        val start = acc; acc += c; (p, start)
      }.toMap
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("pid")).orderBy(col("pc"), col("k"))
      val n = o.withColumn("r", row_number().over(w).cast("long") +
          element_at(typedLit(offsets), col("pid")))
        .agg(max(col("r"))).head().getLong(0)
      graft.Resources.releaseCheckpoint(o)
      n
    }

    // triangle counting à la q131 — disjoint node-shifted copies keep
    // per-copy structure constant, so triangles (and cost) scale ~10×
    def triRun(und: DataFrame): Long =
      graft.operators.TriangleCount.run(und).count()

    // bounded BFS à la q153 — checkpointed frontier supersteps; the
    // disjoint copies leave the source's component unchanged, so ring
    // sizes are constant and the cost should track the edge scan
    // (the pre-fix fused-lineage version went exponential in steps)
    def bfsRun(und: DataFrame): Long = {
      val both = und.select(col("x").as("src"), col("y").as("dst"))
        .union(und.select(col("y").as("src"), col("x").as("dst")))
      val src0 = both.agg(min(col("src")).as("node"))
      var settled = src0
      var frontier = src0
      val ck = scala.collection.mutable.ListBuffer.empty[DataFrame]
      for (_ <- 1 to 4) {
        frontier = frontier.join(both, col("node") === col("src"))
          .select(col("dst").as("node")).distinct()
          .join(settled.select(col("node").as("seen")),
            col("node") === col("seen"), "left_anti")
          .localCheckpoint()
        ck += frontier
        settled = settled.union(frontier)
      }
      val n = settled.count()
      ck.foreach(graft.Resources.releaseCheckpoint)
      n
    }

    // substring-duplicate removal à la q163 — span-hash groupBy +
    // position anti-join + per-doc reassembly; the copy index is folded
    // into the span hash (doc_id stride) so cross-copy spans never
    // collide and the probe measures plan scaling, not collapse
    def spanrmRun(docs: DataFrame): Long = {
      val toks = docs.select(col("doc_id"),
        expr("filter(split(text, ' '), t -> t <> '')").as("tk"))
      val spans = toks.select(col("doc_id"), explode(expr(
          """CASE WHEN size(tk) >= 8 THEN
            |  transform(sequence(0, size(tk) - 8),
            |    i -> struct(i AS p, concat(
            |      substring(md5(concat_ws(' ', slice(tk, i + 1, 8))), 1, 16),
            |      '_', cast(doc_id div 1000000000L as string)) AS h))
            |ELSE array() END""".stripMargin)).as("sp"))
        .select(col("doc_id"), col("sp.p").as("p"), col("sp.h").as("h"))
      val marks = spans.groupBy(col("h"))
        .agg(count(lit(1)).as("cnt"),
          min(struct(col("doc_id"), col("p"))).as("first"))
        .filter(col("cnt") > 1)
        .select(col("h"), col("first.doc_id").as("fdoc"),
          col("first.p").as("fp"))
      val removed = spans.join(marks, "h")
        .filter(!(col("doc_id") === col("fdoc") && col("p") === col("fp")))
        .select(col("doc_id"), explode(expr("sequence(p, p + 7)")).as("pos"))
        .distinct()
      toks.select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "tok")))
        .join(removed, Seq("doc_id", "pos"), "left_anti")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_kept"))
        .agg(sum(col("n_kept"))).head().getLong(0)
    }

    // min-label CC fixpoint à la q65/q161 (now the shared cluster-label
    // artifact) — per round one edges⋈labels join + a node-keyed min;
    // disjoint copies keep component structure constant per copy, so
    // rounds-to-fixpoint are invariant and cost should track edges
    def ccRun(und: DataFrame): Long = {
      val nodes = und.select(col("x").as("id"))
        .union(und.select(col("y").as("id"))).distinct()
      val edges = und.select(col("x").as("src"), col("y").as("dst"))
      val labels = graft.operators.ConnectedComponents.labels(nodes, edges)
      val n = labels.select(col("component")).distinct().count()
      graft.Resources.releaseAll()
      n
    }

    // label propagation à la q154 — 3 rounds, each ONE edges⋈labels key
    // join + a two-level (src, lbl) majority aggregate; disjoint copies
    // keep per-copy label flow identical, so cost should track edges
    def lpaRun(und: DataFrame): Long = {
      val both = und.select(col("x").as("src"), col("y").as("dst"))
        .union(und.select(col("y").as("src"), col("x").as("dst")))
      val nodes = both.select(col("src").as("node")).distinct()
      var labels = nodes.select(col("node"), col("node").as("lbl"))
      for (_ <- 1 to 3) {
        labels = both.join(labels, col("dst") === col("node"))
          .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
          .groupBy(col("src"))
          .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("src").as("node"), (-col("m.nl")).as("lbl"))
      }
      labels.groupBy(col("lbl")).count().count()
    }

    // HITS à la q155 — 2 mutually-recursive rounds, each half = one key
    // join + combinable sum + 1-row max broadcast, localCheckpoint-
    // truncated per half-round (the q153 lineage discipline); identical
    // disjoint copies share the same per-copy max, so normalization is
    // unchanged and cost should track the edge scan
    def hitsRun(e: DataFrame): Long = {
      val ck = scala.collection.mutable.ListBuffer.empty[DataFrame]
      var hub = e.select(col("src")).distinct()
        .select(col("src"), lit(1000000L).as("h"))
      var auth: DataFrame = null
      for (_ <- 1 to 2) {
        val authRaw = e.join(hub, "src")
          .groupBy(col("dst")).agg(sum(col("h")).as("a")).localCheckpoint()
        ck += authRaw
        val amax = authRaw.agg(max(col("a")).as("amax"))
        auth = authRaw.crossJoin(broadcast(amax))
          .select(col("dst"), expr("(a * 1000000L) div amax").as("a"))
          .localCheckpoint()
        ck += auth
        val hubRaw = e.join(auth, "dst")
          .groupBy(col("src")).agg(sum(col("a")).as("h")).localCheckpoint()
        ck += hubRaw
        val hmax = hubRaw.agg(max(col("h")).as("hmax"))
        hub = hubRaw.crossJoin(broadcast(hmax))
          .select(col("src"), expr("(h * 1000000L) div hmax").as("h"))
          .localCheckpoint()
        ck += hub
      }
      val n = auth.count() + hub.count()
      ck.foreach(graft.Resources.releaseCheckpoint)
      n
    }

    // distributed prefix-max skyline à la q158 — grouped agg + range
    // repartition + per-pid window + bounded per-partition offsets; a
    // global-sort window would serialize the 10× run onto one task
    def skylineRun(ord: DataFrame): Long = {
      val o = ord.select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
          .as("p"),
        expr("cast(unix_date(cast(o_orderdate as date)) as bigint)")
          .as("dd"))
      val g = o.groupBy(col("p")).agg(max(col("dd")).as("maxd"))
        .repartitionByRange(col("p").desc)
        .withColumn("pid", spark_partition_id())
        .localCheckpoint()
      val parts = g.groupBy(col("pid")).agg(max(col("maxd")).as("m"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      var acc = Long.MinValue
      val offsets = parts.map { case (pidx, m) =>
        val before = acc; acc = math.max(acc, m); (pidx, before)
      }.toMap
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("pid")).orderBy(col("p").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      val sky = g.withColumn("mprev", greatest(
          coalesce(max(col("maxd")).over(w), lit(Long.MinValue)),
          element_at(typedLit(offsets), col("pid"))))
        .filter(col("maxd") > col("mprev"))
        .select(col("p").as("sp"), col("maxd"))
      val n = o.join(sky, col("p") === col("sp") && col("dd") === col("maxd"))
        .count()
      graft.Resources.releaseCheckpoint(g)
      n
    }

    // exact prefix-filtered Jaccard join à la q132 — each copy's hash
    // domain is offset by 2^41 (doc_id stride encodes the copy), so
    // cross-copy pairs are impossible and the probe measures plan
    // scaling, not the (legitimate) quadratic blowup of replicated text
    def pjoinRun(docs: DataFrame): Long = {
      val shing = docs.withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), expr(
          s"""array_distinct(transform(
             |  ${graft.queries.TextExprs.shingles3("toks")},
             |  s -> cast(conv(substring(md5(s), 1, 10), 16, 10) as bigint)
             |       + (doc_id div 1000000000L) * ${1L << 41}L))"""
            .stripMargin).as("sh"))
      val ex = shing.select(col("doc_id"), explode(col("sh")).as("h"))
      val dfc = ex.groupBy("h").agg(count(lit(1)).as("df"))
      val ordered = ex.join(dfc, "h").groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("o"))
        .select(col("doc_id"), size(col("o")).as("sz"),
          expr("transform(o, x -> x.h)").as("osh"))
      val pfx = ordered.select(col("doc_id"), col("sz"),
        posexplode(expr("slice(osh, 1, sz div 2 + 1)"))
          .as(Seq("p0", "h")))
        .select(col("doc_id"), col("sz"), (col("p0") + 1).as("p"),
          col("h"))
      val cand = pfx
        .select(col("doc_id").as("d1"), col("sz").as("s1"),
          col("p").as("p1"), col("h"))
        .join(pfx.select(col("doc_id").as("d2"), col("sz").as("s2"),
          col("p").as("p2"), col("h")), Seq("h"))
        .filter(col("d1") < col("d2") &&
          col("s1") * 2 >= col("s2") && col("s2") * 2 >= col("s1") &&
          // PPJoin positional bound, mirroring q132 (Dedup.scala)
          (lit(1) + least(col("s1") - col("p1"), col("s2") - col("p2")))
            * 3 >= col("s1") + col("s2"))
        .select("d1", "d2").distinct()
      cand
        .join(shing.withColumnsRenamed(
          Map("doc_id" -> "d1", "sh" -> "sa")), "d1")
        .join(shing.withColumnsRenamed(
          Map("doc_id" -> "d2", "sh" -> "sb")), "d2")
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
        .filter(col("inter") * 2 >=
          size(col("sa")) + size(col("sb")) - col("inter"))
        .count()
    }

    // q167's span-novelty shape — the join-free first-occurrence fold:
    // one span-keyed min(doc_id) shuffle (copy-salted hashes), then the
    // value-grouped id-sized aggregate; expected ~linear
    def noveltyRun(docs: DataFrame): Long =
      docs.select(col("doc_id"),
          expr("filter(split(text, ' '), t -> t <> '')").as("tk"))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(tk) >= 8 THEN
            |  transform(sequence(0, size(tk) - 8),
            |    i -> concat(
            |      substring(md5(concat_ws(' ', slice(tk, i + 1, 8))), 1, 16),
            |      '_', cast(doc_id div 1000000000L as string)))
            |ELSE array() END""".stripMargin)).as("h"))
        .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
        .agg(sum(col("n_novel"))).head().getLong(0)

    // q166's two-pass Misra–Gries heavy hitters — pass 1 shuffles
    // bounded counter maps, pass 2 recounts candidates; the 10× copies
    // offset user ids so per-copy structure repeats without collapsing
    def hhRun(ev: DataFrame): Long = {
      val mg = udaf(graft.functions.MisraGriesAgg)
      val sk = ev.agg(mg(col("user_id")).as("cand"),
        count(lit(1)).as("n")).head()
      val cand = sk.getSeq[Long](0)
      val n = sk.getLong(1)
      ev.filter(col("user_id").isin(cand: _*))
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        .filter(col("c") * graft.functions.MisraGriesAgg.K > n)
        .count()
    }

    // q164's curation-funnel COMPOSITION (quality map-filter → banded
    // minhash near-dup drop → 8-token-span decontamination → four
    // id-sized funnel aggregates) — the suite's headline composition
    // gets its own 10× ratio. Band keys and span hashes are salted with
    // the copy stride (doc_id div 10^9) so replicated copies can never
    // collide cross-copy: the probe measures plan scaling, not the
    // (legitimate) pair blowup of a 10×-duplicated corpus.
    def curationRun(docs: DataFrame): Long = {
      val base = docs
        .withColumn("tk", expr("filter(split(text, ' '), t -> t <> '')"))
        .withColumn("n", size(col("tk")).cast("long"))
        .withColumn("chars",
          expr("aggregate(tk, 0L, (a, t) -> a + length(t))"))
        .withColumn("h", pmod(hash(col("doc_id")), lit(10)))
      val s1 = base.filter(col("n") >= 20 && col("n") <= 2000 &&
        col("chars") * 10 >= col("n") * 38 &&
        col("chars") * 10 <= col("n") * 120)
      val banded = base.withColumn("mh", expr("minhash_sig(tk)"))
        .filter(col("mh").isNotNull)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, 3), b -> struct(b AS band,
            |  concat_ws(',', slice(mh, b * 4 + 1, 4)) AS bkey))"""
            .stripMargin)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"),
          concat(col("bb.bkey"), lit("#"),
            (col("doc_id") / lit(1000000000L)).cast("long")).as("bkey"))
      val cand = banded.groupBy(col("band"), col("bkey"))
        .agg(slice(sort_array(collect_list(col("doc_id"))), 1, 50)
          .as("ids"))
        .filter(size(col("ids")) >= 2)
        .select(explode(expr(
          """flatten(transform(ids, (x, i) ->
            |  transform(slice(ids, i + 2, size(ids)),
            |    y -> struct(x AS d1, y AS d2))))""".stripMargin)).as("p"))
        .select(col("p.d1").as("d1"), col("p.d2").as("d2")).distinct()
      val sets = base.select(col("doc_id"), array_distinct(
        expr(graft.queries.TextExprs.shingles3("tk"))).as("sh"))
      val dupDropped = cand
        .join(sets.withColumnsRenamed(
          Map("doc_id" -> "d1", "sh" -> "sa")), "d1")
        .join(sets.withColumnsRenamed(
          Map("doc_id" -> "d2", "sh" -> "sb")), "d2")
        .withColumn("inter",
          size(array_intersect(col("sa"), col("sb"))))
        .filter(col("inter") * 3 >= size(col("sa")) + size(col("sb")))
        .select(col("d2").as("doc_id")).distinct()
      val s2 = s1.join(dupDropped, Seq("doc_id"), "left_anti")
      val span8 =
        """CASE WHEN size(tk) >= 8 THEN
          |  transform(sequence(0, size(tk) - 8),
          |    i -> concat(
          |      substring(md5(concat_ws(' ', slice(tk, i + 1, 8))), 1, 16),
          |      '#', cast(doc_id div 1000000000L AS string)))
          |ELSE array() END""".stripMargin
      val evalSpans = base.filter(col("h") >= 8)
        .select(explode(expr(span8)).as("sp")).distinct()
      val cont = s2.filter(col("h") < 8)
        .select(col("doc_id"), explode(expr(span8)).as("sp"))
        .join(evalSpans, Seq("sp"), "left_semi")
        .select(col("doc_id")).distinct()
      val s3 = s2.filter(col("h") < 8)
        .join(cont, Seq("doc_id"), "left_anti")
      Seq(base, s1, s2, s3).map(df =>
        df.agg(count(lit(1)).as("nd"),
          coalesce(sum(col("n")), lit(0L)).as("tok"))
          .head().getLong(1)).sum
    }

    // q170's threshold-sensitivity curve — ONE banded-candidate verify
    // pass computes every surviving pair's exact (inter, union) sizes
    // (checkpoint-pinned), three integer cutoffs filter it, and each
    // cutoff runs connected components on its (shrinking) edge set.
    // Band keys are copy-salted like curationRun's, so the probe
    // measures plan scaling, not cross-copy pair blowup. The probe runs
    // CC fresh at ALL three cutoffs (the real q170 reuses the memoized
    // label artifact at t = 50 — this measures the worst case).
    // Expected ~linear: verify work is candidate-bounded, CC work
    // tracks edge volume, the final aggregates are component-sized.
    def tcurveRun(docs: DataFrame): Long = {
      val base = docs
        .withColumn("tk", expr("filter(split(text, ' '), t -> t <> '')"))
      val banded = base.withColumn("mh", expr("minhash_sig(tk)"))
        .filter(col("mh").isNotNull)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, 3), b -> struct(b AS band,
            |  concat_ws(',', slice(mh, b * 4 + 1, 4)) AS bkey))"""
            .stripMargin)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"),
          concat(col("bb.bkey"), lit("#"),
            (col("doc_id") / lit(1000000000L)).cast("long")).as("bkey"))
      val cand = banded.groupBy(col("band"), col("bkey"))
        .agg(slice(sort_array(collect_list(col("doc_id"))), 1, 50)
          .as("ids"))
        .filter(size(col("ids")) >= 2)
        .select(explode(expr(
          """flatten(transform(ids, (x, i) ->
            |  transform(slice(ids, i + 2, size(ids)),
            |    y -> struct(x AS d1, y AS d2))))""".stripMargin)).as("p"))
        .select(col("p.d1").as("d1"), col("p.d2").as("d2")).distinct()
      val sets = base.select(col("doc_id"), array_distinct(
        expr(graft.queries.TextExprs.shingles3("tk"))).as("sh"))
      val pj = cand
        .join(sets.withColumnsRenamed(
          Map("doc_id" -> "d1", "sh" -> "sa")), "d1")
        .join(sets.withColumnsRenamed(
          Map("doc_id" -> "d2", "sh" -> "sb")), "d2")
        .select(col("d1"), col("d2"),
          size(array_intersect(col("sa"), col("sb"))).cast("long")
            .as("inter"),
          size(array_union(col("sa"), col("sb"))).cast("long").as("uni"))
        .filter(col("inter") * 100 >= col("uni") * 50)
        .localCheckpoint(true)
      val nodes = docs.select(col("doc_id").as("id"))
      val total = Seq(50, 95, 98).map { t =>
        val edges = pj.filter(col("inter") * 100 >= col("uni") * t)
        val labels = graft.operators.ConnectedComponents.labels(nodes,
          edges.select(col("d1").as("src"), col("d2").as("dst")))
        val dup = labels.groupBy(col("component"))
          .agg(count(lit(1)).as("n"))
          .agg(coalesce(sum(when(col("n") >= 2, col("n"))), lit(0L)))
          .head().getLong(0)
        dup + edges.count()
      }.sum
      graft.Resources.releaseCheckpoint(pj)
      total
    }

    // q172's CDC-chunking shape — pure map-side chunking behind a
    // checkpoint barrier, then two hash-keyed shuffles (dup detection +
    // per-doc counts). Chunk hashes are copy-salted (doc_id div 10⁹)
    // so replication measures plan scaling, not cross-copy dup mass.
    def cdcRun(docs: DataFrame): Long = {
      val withCh = docs
        .withColumn("tk", expr("filter(split(text, ' '), t -> t <> '')"))
        .withColumn("bp", expr(
          """CASE WHEN size(tk) >= 2 THEN
            |  filter(sequence(1, size(tk) - 1), i ->
            |    cast(conv(substring(md5(element_at(tk, i)), 1, 8), 16, 10)
            |      as bigint) % 8 = 0)
            |ELSE array() END""".stripMargin))
        .select(col("doc_id"), expr(
          """CASE WHEN size(tk) = 0 THEN cast(array() as array<string>)
            |ELSE zip_with(
            |  concat(array(1), transform(bp, x -> x + 1)),
            |  concat(bp, array(size(tk))),
            |  (st, en) -> concat(
            |    substring(md5(concat_ws(' ', slice(tk, st, en - st + 1))),
            |      1, 16),
            |    '#', cast(doc_id div 1000000000L as string))) END"""
            .stripMargin).as("ch"))
        .localCheckpoint(true)
      val chunks = withCh.select(col("doc_id"), explode(col("ch")).as("h"))
      val dup = chunks.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("h"))
      val n = chunks.join(dup, Seq("h"), "left_semi").count() +
        chunks.count()
      graft.Resources.releaseCheckpoint(withCh)
      n
    }

    // q183's IVM-refresh shape — the probe times ONLY the two
    // delta-sided joins + rollup (the base join is the materialized
    // view and never re-runs at refresh); replication scales base and
    // delta together, so the ratio checks that the refresh PLAN scans
    // and shuffles stay proportional — the ∝-delta claim itself is
    // structural (only delta-filtered sides feed the joins)
    def ivmRun(o: DataFrame, l: DataFrame): Long = {
      val cut = lit("1999-01-01").cast("date")
      val oo = o.select(col("o_orderkey"),
        col("o_orderdate").cast("date").as("od"))
      val ll = l.select(col("l_orderkey"),
        col("l_shipdate").cast("date").as("sd"), col("l_extendedprice"))
      val dA = oo.filter(col("od") >= cut)
        .join(ll, col("o_orderkey") === col("l_orderkey"))
      val dB = oo.filter(col("od") < cut)
        .join(ll.filter(col("sd") >= cut),
          col("o_orderkey") === col("l_orderkey"))
      def proj(df: DataFrame) = df.select(
        date_format(col("od"), "yyyy-MM").as("ym"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
      proj(dA).unionByName(proj(dB))
        .groupBy(col("ym"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
        .count()
    }

    // q186's sliding-distinct shape — per-hour KMV sketches merged per
    // trailing window; 10× events over the SAME time range means the
    // hour-keyed aggregate absorbs 10× rows map-side while the window
    // merges stay hours-bounded: expected strongly sublinear
    def slidingRun(ev: DataFrame): Long = {
      val kmv = udaf(graft.functions.KmvAgg)
      val e = ev.select(
        expr("unix_micros(ts) div 3600000000L").as("hr"),
        expr("""cast(conv(substring(md5(cast(user_id as string)), 1, 12),
              |  16, 10) as bigint)""".stripMargin).as("h"))
      val hourly = e.groupBy(col("hr")).agg(kmv(col("h")).as("sk"))
        .localCheckpoint(true)
      val n = hourly.select(col("hr").as("w"))
        .join(hourly, col("hr").between(col("w") - 5, col("w")))
        .groupBy(col("w"))
        .agg(expr(
          """slice(array_sort(array_distinct(flatten(collect_list(sk)))),
            |  1, 64)""".stripMargin).as("mu"))
        .count()
      graft.Resources.releaseCheckpoint(hourly)
      n
    }

    // q178's centroid-similarity shape — one join+posexplode corpus
    // scan into a (source, dim) partial-sum aggregate, then pair
    // algebra on the sources-bounded centroid frame; the corpus pass
    // should scale ~linearly, the pair algebra not at all
    def centroidRun(docs: DataFrame, embs: DataFrame): Long = {
      val cent = embs
        .join(docs.select(col("doc_id"), col("source")),
          col("vec_id") === col("doc_id"))
        .select(col("source"), posexplode(expr(
          """transform(embedding, x ->
            |  cast(round(cast(x as double) * 1048576, 0) as bigint))"""
            .stripMargin)).as(Seq("dim", "q")))
        .groupBy(col("source"), col("dim"))
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
        .select(col("source"), col("dim"), expr("sq div n").as("m"))
        .localCheckpoint(true)
      val n = cent.select(col("source").as("sa"), col("dim"),
          col("m").as("ma"))
        .join(cent.select(col("source").as("sb"), col("dim"),
          col("m").as("mb")), Seq("dim"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb"))
        .agg(sum(expr("ma * mb")).as("dot"))
        .count()
      graft.Resources.releaseCheckpoint(cent)
      n
    }

    // q179's greedy-coverage shape — K one-job rounds (map-side InSet
    // anti-filter + argmax with the winner's bigrams riding the
    // TakeOrdered row) against the once-checkpointed bigram frame; the
    // round count is constant, so 10× rows should scale ≤ linearly
    def coverRun(docs: DataFrame): Long = {
      val tok = docs
        .select(col("doc_id"),
          expr("filter(split(text, ' '), t -> t <> '')").as("tk"))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(tk) >= 2 THEN
            |  transform(sequence(0, size(tk) - 2),
            |    i -> concat_ws(' ', tk[i], tk[i + 1]))
            |ELSE array() END""".stripMargin)).as("w"))
        .distinct()
        .localCheckpoint(true)
      var covered = Set.empty[String]
      var ids = Vector.empty[Long]
      var n = 0L
      var stop = false
      while (ids.size < 8 && !stop) {
        var rem = tok
        if (covered.nonEmpty)
          rem = rem.filter(!col("w").isin(covered.toSeq: _*))
        if (ids.nonEmpty) rem = rem.filter(!col("doc_id").isin(ids: _*))
        val top = rem.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("gain"), collect_list(col("w")).as("ws"))
          .orderBy(col("gain").desc, col("doc_id"))
          .limit(1).collect()
        if (top.isEmpty) stop = true
        else {
          covered ++= top(0).getSeq[String](2)
          ids :+= top(0).getLong(0)
          n += top(0).getLong(1)
        }
      }
      graft.Resources.releaseCheckpoint(tok)
      n
    }

    val li1 = Tables.lineitem(spark, sfDir)
    val li10 = replicate(li1, 10, "l_orderkey", 1000000000L)
    val d1 = Tables.documents(spark, sfDir)
    val d10 = replicate(d1, 10, "doc_id", 1000000000L)
    val e1 = Tables.embeddings(spark, sfDir)
    val e10 = replicate(e1, 10, "vec_id", 1000000000L)

    val ed1 = Tables.orders(spark, sfDir)
      .join(li1, col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
      .distinct()
    val ed1bi = ed1.union(ed1.select(col("dst").as("src"), col("src").as("dst")))
    def edCopies(n: Int): DataFrame = ed1bi
      .crossJoin(broadcast(spark.range(n).toDF("copy")))
      .select(concat(col("src"), lit("_"), col("copy")).as("src"),
        concat(col("dst"), lit("_"), col("copy")).as("dst"))
    val ed1x = edCopies(1)
    val ed10x = edCopies(10)
    // DIRECTED copies for HITS (the bidirectional union is PageRank's)
    def dirCopies(n: Int): DataFrame = ed1
      .crossJoin(broadcast(spark.range(n).toDF("copy")))
      .select(concat(col("src"), lit("_"), col("copy")).as("src"),
        concat(col("dst"), lit("_"), col("copy")).as("dst"))
    val dir1x = dirCopies(1)
    val dir10x = dirCopies(10)

    val ev1 = Tables.events(spark, sfDir)
    val ev10 = replicate(ev1, 10, "user_id", 1000000L)

    aggRun(li1); lshRun(d1); qualityRun(d1); quantRun(e1) // warm up JIT
    decontRun(d1); packRun(d1); simhashRun(d1); cmsRun(d1); bloomRun(li1)
    pqRun(e1); prRun(ed1x); funnelRun(ev1); zorderRun(li1); lmRun(d1)
    kmvRun(d1); ewmaRun(ev1); semdedupRun(e1)
    val or1 = Tables.orders(spark, sfDir)
    val or10 = replicate(or1, 10, "o_orderkey", 1000000000L)
    spanRun(d1); epsRun(or1)

    val und1 = {
      val liq = li1.filter(col("l_quantity") >= 35)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      liq.select(col("ok"), col("pk").as("x"))
        .join(liq.select(col("ok").as("ok2"), col("pk").as("y")),
          col("ok") === col("ok2") && col("x") < col("y"))
        .select(col("x"), col("y")).distinct()
    }
    def undCopies(n: Int): DataFrame = und1
      .crossJoin(broadcast(spark.range(n).toDF("copy")))
      .select((col("x") + col("copy") * 1000000L).as("x"),
        (col("y") + col("copy") * 1000000L).as("y"))
    val und1x = undCopies(1)
    val und10x = undCopies(10)
    triRun(und1x); pjoinRun(d1); sentRun(d1); patRun(ev1) // warm up

    val (aggT1, aggN1) = time(aggRun(li1))
    val (aggT10, aggN10) = time(aggRun(li10))
    val (lshT1, _) = time(lshRun(d1))
    val (lshT10, _) = time(lshRun(d10))
    val (quT1, _) = time(qualityRun(d1))
    val (quT10, _) = time(qualityRun(d10))
    val (qzT1, _) = time(quantRun(e1))
    val (qzT10, _) = time(quantRun(e10))
    val (dcT1, _) = time(decontRun(d1))
    val (dcT10, _) = time(decontRun(d10))
    val (pkT1, _) = time(packRun(d1))
    val (pkT10, _) = time(packRun(d10))
    val (shT1, _) = time(simhashRun(d1))
    val (shT10, _) = time(simhashRun(d10))
    val (cmT1, _) = time(cmsRun(d1))
    val (cmT10, _) = time(cmsRun(d10))
    val (blT1, _) = time(bloomRun(li1))
    val (blT10, _) = time(bloomRun(li10))
    val (pqT1, _) = time(pqRun(e1))
    val (pqT10, _) = time(pqRun(e10))
    val (prT1, _) = time(prRun(ed1x))
    val (prT10, _) = time(prRun(ed10x))
    val (fnT1, _) = time(funnelRun(ev1))
    val (fnT10, _) = time(funnelRun(ev10))
    val (zoT1, _) = time(zorderRun(li1))
    val (zoT10, _) = time(zorderRun(li10))
    val (lmT1, _) = time(lmRun(d1))
    val (lmT10, _) = time(lmRun(d10))
    val (kvT1, _) = time(kmvRun(d1))
    val (kvT10, _) = time(kmvRun(d10))
    val (ewT1, _) = time(ewmaRun(ev1))
    val (ewT10, _) = time(ewmaRun(ev10))
    val (sdT1, _) = time(semdedupRun(e1))
    val (sdT10, _) = time(semdedupRun(e10))
    val (spT1, _) = time(spanRun(d1))
    val (spT10, _) = time(spanRun(d10))
    val (epT1, _) = time(epsRun(or1))
    val (epT10, _) = time(epsRun(or10))
    mmrRun(e1, 3); dsirRun(d1) // warm up
    val (mmT1, _) = time(mmrRun(e1, 3))
    val (mmT10, _) = time(mmrRun(e1, 30))
    val (dsT1, _) = time(dsirRun(d1))
    val (dsT10, _) = time(dsirRun(d10))
    val (trT1, _) = time(triRun(und1x))
    val (trT10, _) = time(triRun(und10x))
    val (pjT1, _) = time(pjoinRun(d1))
    val (pjT10, _) = time(pjoinRun(d10))
    val (snT1, _) = time(sentRun(d1))
    val (snT10, _) = time(sentRun(d10))
    val (ptT1, _) = time(patRun(ev1))
    val (ptT10, _) = time(patRun(ev10))
    rankRun(or1) // warm up
    val (rkT1, _) = time(rankRun(or1))
    val (rkT10, _) = time(rankRun(or10))
    bfsRun(und1x) // warm up
    val (bfT1, _) = time(bfsRun(und1x))
    val (bfT10, _) = time(bfsRun(und10x))
    val (gmT1, _) = time(gramRun(e1))
    val (gmT10, _) = time(gramRun(e10))
    lpaRun(und1x); hitsRun(dir1x); skylineRun(or1); ccRun(und1x)
    spanrmRun(d1); curationRun(d1); noveltyRun(d1); hhRun(ev1)
    tcurveRun(d1); cdcRun(d1); centroidRun(d1, e1); coverRun(d1) // warm up
    val (lpT1, _) = time(lpaRun(und1x))
    val (lpT10, _) = time(lpaRun(und10x))
    val (ccT1, _) = time(ccRun(und1x))
    val (ccT10, _) = time(ccRun(und10x))
    val (htT1, _) = time(hitsRun(dir1x))
    val (htT10, _) = time(hitsRun(dir10x))
    val (skT1, _) = time(skylineRun(or1))
    val (skT10, _) = time(skylineRun(or10))
    val (srT1, _) = time(spanrmRun(d1))
    val (srT10, _) = time(spanrmRun(d10))
    val (cuT1, _) = time(curationRun(d1))
    val (cuT10, _) = time(curationRun(d10))
    val (nvT1, _) = time(noveltyRun(d1))
    val (nvT10, _) = time(noveltyRun(d10))
    val (hhT1, _) = time(hhRun(ev1))
    val (hhT10, _) = time(hhRun(ev10))
    val (tcT1, _) = time(tcurveRun(d1))
    val (tcT10, _) = time(tcurveRun(d10))
    val (cdT1, _) = time(cdcRun(d1))
    val (cdT10, _) = time(cdcRun(d10))
    val (ceT1, _) = time(centroidRun(d1, e1))
    val (ceT10, _) = time(centroidRun(d10, e10))
    val (cvT1, _) = time(coverRun(d1))
    val (cvT10, _) = time(coverRun(d10))
    ivmRun(or1, li1); slidingRun(ev1) // warm up
    val (ivT1, _) = time(ivmRun(or1, li1))
    val (ivT10, _) = time(ivmRun(or10, li10))
    val (slT1, _) = time(slidingRun(ev1))
    val (slT10, _) = time(slidingRun(ev10))

    // ---- 768-dim ANN probes (r12 VERDICT #5). The embeddings fixture
    // is 64-dim and q44's PQ subspaces are 16-wide; production
    // embedding widths are 768-4096. These probes push the full ANN
    // stack — CosineSim codegen, deterministic IVF train/assign, PQ
    // encode + ADC search — through 768-wide vectors so a JIT or
    // codegen cliff at production width (HugeMethodLimit is ~8 KB of
    // bytecode per method) would show up as a superlinear or
    // grossly-off-profile time here. The kernels are loops over the
    // array (CosineSim's doGenCode loop and the HOF folds), not
    // dim-unrolled expressions, so generated-method size is
    // dim-INDEPENDENT by construction — this probe verifies that claim
    // with wall time rather than trusting it. Vectors are synthetic
    // hash floats in [-0.999, 0.999] (no fixture dependency,
    // deterministic across runs).
    def hdVecs(n: Long): DataFrame =
      spark.range(n).toDF("vec_id")
        .withColumn("embedding", expr(
          // the cast wraps the DIVISION: float / float-literal still
          // promotes to double, and cosine_sim is array<float>-typed
          """transform(sequence(1, 768), i ->
            |  cast((pmod(hash(vec_id * 768 + i), 1999) - 999) / 1000.0
            |    AS float))""".stripMargin))
    val hd1 = hdVecs(2000L).localCheckpoint(true)
    val hd10 = hdVecs(20000L).localCheckpoint(true)
    // brute-force cosine top-k against 8 broadcast probes: the
    // codegen'd CosineSim kernel does 768-wide dot products per pair
    def hdBruteRun(corpus: DataFrame): Long = {
      val w = org.apache.spark.sql.expressions.Window
      val probes = corpus.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"),
          col("embedding").as("probe_emb"))
      corpus.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("score", expr("cosine_sim(embedding, probe_emb)"))
        .withColumn("rk", row_number().over(
          w.partitionBy(col("probe_id"))
            .orderBy(col("score").desc, col("vec_id"))))
        .filter(col("rk") <= 5).count()
    }
    // bit-reproducible IVF train + assign at 768 dims: per-iteration
    // cost is one nCells×768 broadcast + a shuffle-free argmin pass +
    // a (cell, dim) integer-sum shuffle whose map partials collapse to
    // nCells×768 rows — the corpus never moves
    def hdIvfRun(corpus: DataFrame): Long =
      graft.operators.IvfIndex
        .trainDeterministic(corpus, nCells = 8, iters = 2)
        .agg(sum(col("cell") + col("vec_id"))).head().getLong(0)
    // PQ at production shape (m=8 × 96-wide subspaces): encode the
    // corpus, then ADC-search 4 probes — LUT build is probe-side and
    // corpus-size-independent, scoring reads codes only
    lazy val hdCb = graft.operators.PqIndex.train(
      hd1, nCells = 8, m = 8, subDim = 96, kSub = 8, iters = 2)
    def hdPqRun(corpus: DataFrame): Long = {
      val codes = graft.operators.PqIndex.encode(corpus, hdCb)
      val probes = hd1.filter(col("vec_id") < 4)
      graft.operators.PqIndex
        .search(codes, hdCb, probes, k = 5, nProbe = 2).count()
    }
    hdBruteRun(hd1); hdIvfRun(hd1); hdPqRun(hd1) // warm up
    val (hbT1, _) = time(hdBruteRun(hd1))
    val (hbT10, _) = time(hdBruteRun(hd10))
    val (hiT1, _) = time(hdIvfRun(hd1))
    val (hiT10, _) = time(hdIvfRun(hd10))
    val (hpT1, _) = time(hdPqRun(hd1))
    val (hpT10, _) = time(hdPqRun(hd10))
    // hd1/hd10 are eager localCheckpoints (20k × 768 floats ≈ 65 MB
    // plus overhead): release their pinned blocks before the 30×
    // probes so the memory conditions those timings run under are not
    // polluted by the finished hd* section (r13 ADVICE).
    graft.Resources.releaseCheckpoint(hd1)
    graft.Resources.releaseCheckpoint(hd10)

    // ---- 30× confirmation points (r12 VERDICT #6) for the four
    // probes whose 10× ratios sat highest last round (novelty 5.0,
    // bloom 4.7, spanrm 4.5, decont 4.3) — all attributed to the 1×
    // run shedding its fixed floor, which the 10× ratio alone cannot
    // prove. One more decade-scale point per probe: if the 10× ratio
    // was floor-shedding, the 30×/10× ratio must fall back to ~3× (the
    // data growth); if it was real superlinearity, it grows. The
    // artifact carries floor-SUBTRACTED ratios so the claim is
    // arithmetic, not prose.
    val d30 = replicate(d1, 30, "doc_id", 1000000000L)
    val li30 = replicate(li1, 30, "l_orderkey", 1000000000L)
    val (dcT30, _) = time(decontRun(d30))
    val (blT30, _) = time(bloomRun(li30))
    val (srT30, _) = time(spanrmRun(d30))
    val (nvT30, _) = time(noveltyRun(d30))

    // Structured artifact (r10 VERDICT #5): per-probe 1×/10× seconds and
    // ratios as ONE parseable JSON object written beside the bench
    // output (SPARK_GRAFT_SCALE_OUT, default scale_out.json), so the
    // >5×-cost rule is a field a driver can gate on instead of NOTES
    // prose. `flagged_over_5x` lists probes whose 10× run cost more
    // than 5× the 1× run — superlinear growth worth a look (ambient
    // load can flag a probe spuriously; loadavg rides along so a reader
    // can tell, the Bench discipline).
    val probes: Seq[(String, Double, Double)] = Seq(
      ("agg", aggT1, aggT10), ("lsh", lshT1, lshT10),
      ("quality", quT1, quT10), ("quant", qzT1, qzT10),
      ("decont", dcT1, dcT10), ("pack", pkT1, pkT10),
      ("simhash", shT1, shT10), ("cms", cmT1, cmT10),
      ("bloom", blT1, blT10), ("pq", pqT1, pqT10),
      ("pagerank", prT1, prT10), ("funnel", fnT1, fnT10),
      ("zorder", zoT1, zoT10), ("lm", lmT1, lmT10),
      ("kmv", kvT1, kvT10), ("ewma", ewT1, ewT10),
      ("semdedup", sdT1, sdT10), ("spans", spT1, spT10),
      ("epsjoin", epT1, epT10), ("mmr", mmT1, mmT10),
      ("dsir", dsT1, dsT10), ("triangle", trT1, trT10),
      ("exjoin", pjT1, pjT10), ("sentdedup", snT1, snT10),
      ("patterns", ptT1, ptT10), ("rank", rkT1, rkT10),
      ("bfs", bfT1, bfT10), ("gram", gmT1, gmT10),
      ("lpa", lpT1, lpT10), ("hits", htT1, htT10),
      ("skyline", skT1, skT10), ("cc", ccT1, ccT10),
      ("spanrm", srT1, srT10), ("curation", cuT1, cuT10),
      ("novelty", nvT1, nvT10), ("hh", hhT1, hhT10),
      ("tcurve", tcT1, tcT10), ("cdc", cdT1, cdT10),
      ("centroid", ceT1, ceT10), ("cover", cvT1, cvT10),
      ("ivm", ivT1, ivT10), ("sliding", slT1, slT10),
      ("hdbrute", hbT1, hbT10), ("hdivf", hiT1, hiT10),
      ("hdpq", hpT1, hpT10))
    val flagged = probes.collect {
      case (n, t1, t10) if t10 / t1 > 5.0 => n
    }
    // The 5× bound above is the LEGACY gate — kept for artifact
    // continuity, but it false-positives once a probe's 1× run sheds
    // its fixed floor: a PERFECTLY LINEAR probe reads ratio → 10 as
    // t1 approaches pure data-proportional cost. r12's floor work did
    // exactly that (novelty improved at BOTH scales, 0.64→0.42 s and
    // 2.61→2.17 s vs r11, and crossed 5× only because 1× improved
    // more; triangle's true answer grows exactly 10× by construction,
    // so 5.3× TIME is sublinear). The principled superlinearity test —
    // cost growing FASTER than data — is t10 > 10×t1, with the
    // measured per-job floor below for reading the margins.
    val flaggedSuper = probes.collect {
      case (n, t1, t10) if t10 > 10.0 * t1 => n
    }
    val (probeFloor, _) = time {
      spark.range(2).repartition(2).count()
    }
    // 30× gate, floor-subtracted on BOTH sides: a probe is superlinear
    // iff its above-floor cost grew faster than the data (30×). The
    // max(1 ms) guard keeps a sub-floor 1× time from dividing to
    // infinity.
    val probes30: Seq[(String, Double, Double, Double)] = Seq(
      ("decont", dcT1, dcT10, dcT30), ("bloom", blT1, blT10, blT30),
      ("spanrm", srT1, srT10, srT30), ("novelty", nvT1, nvT10, nvT30))
    def adj(t: Double): Double = math.max(0.001, t - probeFloor)
    val flaggedSuper30 = probes30.collect {
      case (n, t1, _, t30) if adj(t30) > 30.0 * adj(t1) => n
    }
    val loadavg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // host-steal over the whole run: the pollution loadavg CANNOT see
    // on a shared virtualized box (graft.Tuning.stealPct rationale)
    val steal = graft.Tuning.stealPct(jiffies0, graft.Tuning.cpuJiffies())
    val json = f"""{"metric":"scale_stress","rows_1x":$aggN1,""" +
      f""""rows_10x":$aggN10,"loadavg":$loadavg%.1f,""" +
      s""""steal_pct":$steal,""" +
      f""""probe_floor_s":$probeFloor%.3f,""" +
      s""""flagged_superlinear_10x":[${
        flaggedSuper.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""flagged_superlinear_30x":[${
        flaggedSuper30.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""flagged_over_5x":[${flagged.map("\"" + _ + "\"").mkString(",")}],""" +
      probes.map { case (n, t1, t10) =>
        f""""${n}_1x_s":$t1%.2f,"${n}_10x_s":$t10%.2f""" +
          f""","${n}_ratio":${t10 / t1}%.1f"""
      }.mkString(",") + "," +
      probes30.map { case (n, t1, _, t30) =>
        f""""${n}_30x_s":$t30%.2f""" +
          f""","${n}_ratio30_adj":${adj(t30) / adj(t1)}%.1f"""
      }.mkString(",") + "}"
    println(json)
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "scale_out.json")
    // stdout already carries the artifact — an unwritable file path must
    // not fail the run (or skip release/stop) after all probes completed
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    catch {
      case NonFatal(e) =>
        System.err.println(s"scale out write failed ($out): $e — JSON is on stdout")
    }
    graft.GraftSession.release(spark)
    spark.stop()
  }
}
