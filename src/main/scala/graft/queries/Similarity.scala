package graft.queries

import graft.{Artifact, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Similarity search over the `embeddings` table (north-star surface):
  * brute-force cosine top-k as the correctness baseline, an IVF-style
  * partition-probed variant as the scale path, and an IVF-blocked
  * near-duplicate scan.
  *
  * The scoring kernel is the native codegen'd [[graft.functions.CosineSim]]
  * expression (not a UDF, not interpreted HOF lambdas) — the probe×corpus
  * scan stays inside WholeStageCodegen. The probe side is broadcast, so
  * the corpus never shuffles: at 100 TB the scan is a single
  * embarrassingly-parallel pass.
  *
  * Oracle parity: the DuckDB SQL reproduces the same strict left-fold
  * double arithmetic (`list_reduce`), giving bit-identical scores.
  */
object Similarity {

  /** DuckDB left-fold cosine, bit-compatible with CosineSim's codegen.
    * Shared with [[Retrieval]] (q89's dense ranker) — single definition
    * so the fold contract can't drift between modules.
    *
    * UNROLLED, not a list lambda: `t1 + t2 + … + t64` parses
    * left-associative, the exact order of both the codegen'd kernel's
    * `acc += xi*yi` loop and the previous `list_reduce` form — same
    * bits — but vectorizes in DuckDB's expression engine instead of
    * paying ~50 µs of lambda machinery per pair (the q43b pair scan
    * alone went 13.6 s → 1.5 s at sf0.1). Fixed 64 dims is the
    * embeddings-table contract every caller passes. */
  private[queries] def sqlDot(a: String, b: String): String =
    sqlDotN(a, b, 64)
  /** [[sqlDot]] over the first `n` dims — the truncated-vector form
    * (q187's matryoshka eval); same unrolled left-associative fold. */
  private[queries] def sqlDotN(a: String, b: String, n: Int): String =
    (1 to n).map(i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)")
      .mkString("(", " + ", ")")
  private[queries] def sqlCos(a: String, b: String): String =
    s"(${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)})))"
  private[queries] def sqlCosN(a: String, b: String, n: Int): String =
    s"(${sqlDotN(a, b, n)} / (sqrt(${sqlDotN(a, a, n)}) * " +
      s"sqrt(${sqlDotN(b, b, n)})))"

  private def scored(s: SparkSession, d: String,
      probeFilter: String, labelRel: String): DataFrame = {
    // Norms precomputed once per row (vec_norm shares CosineSim's fold
    // contract, so dot/(n1*n2) stays bit-identical to cosine_sim) — the
    // pair-scan then does ONE fold per pair instead of three.
    val e = Tables.embeddings(s, d)
      .withColumn("emb_norm", expr("vec_norm(embedding)"))
    val probes = e.filter(expr(probeFilter)).select(
      col("vec_id").as("probe_id"), col("label").as("probe_label"),
      col("embedding").as("probe_emb"), col("emb_norm").as("probe_norm"))
    // "same" = IVF-blocked (probe its own cell), "diff" = hard-negative
    // mining (only other labels), "any" = brute force over the corpus
    val rel = labelRel match {
      case "same" => col("label") === col("probe_label")
      case "diff" => col("label") =!= col("probe_label")
      case "any"  => lit(true)
      case other => throw new IllegalArgumentException(
        s"labelRel must be same|diff|any, got '$other'")
    }
    val joinCond = rel && col("vec_id") =!= col("probe_id")
    e.join(broadcast(probes), joinCond)
      .withColumn("score", expr(
        "dot_product(probe_emb, embedding) / (probe_norm * emb_norm)"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("score"))
  }

  /** Brute-force exact top-5 for the standard probe set (vec_id < 20)
    * — the ANN ground-truth EVAL SET. A production ANN deployment
    * computes this once per corpus and stores it; every recall check
    * reads the stored answer. q42's recall floor and q106's recall@5
    * both consume this cache. q40 still computes the scan LIVE — the
    * brute-force cost is that query's product, so caching there would
    * misreport it. */
  private[graft] val exactTop5 = Artifact.frame("groundTruth") { (s, d) =>
    // the cached plan is the (probe_id, neighbor_id) PROJECTION, not
    // the raw topK: Spark's CacheManager substitutes a persisted
    // frame into ANY sameResult subtree, so persisting the bare topK
    // would silently serve q40's own scan from this cache and the
    // bench would report a cache read as the brute-force cost
    // (observed: q40 0.69 s → 0.10 s before this projection guard)
    topK(scored(s, d, "vec_id < 20", labelRel = "any"), 5)
      .select(col("probe_id"), col("neighbor_id"))
      .persist()
  }

  private def topK(df: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("probe_id"), col("rank"))
  }

  // ------------------------------------------------------------- q40
  // Brute-force cosine top-5 for 20 probe vectors over the full corpus.
  private val q40 = QueryDef.of(
    (s, d) => topK(scored(s, d, "vec_id < 20", labelRel = "any"), 5),
    s"""WITH probes AS (
       |  SELECT vec_id AS probe_id, embedding AS pe
       |  FROM embeddings WHERE vec_id < 20),
       |sc AS (
       |  SELECT probe_id, e.vec_id AS neighbor_id,
       |    ${sqlCos("pe", "e.embedding")} AS score
       |  FROM probes CROSS JOIN embeddings e
       |  WHERE e.vec_id <> probe_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |    ORDER BY score DESC, neighbor_id) AS rank
       |  FROM sc)
       |SELECT probe_id, neighbor_id, score, rank FROM ranked
       |WHERE rank <= 5
       |ORDER BY probe_id, rank""".stripMargin)

  // ------------------------------------------------------------- q41
  // IVF-style ANN: probe only the matching partition (here the stored
  // cluster label; in production the nearest kmeans centroid(s)). Scans
  // 1/n_cells of the corpus per probe — the 100 TB-viable path.
  private val q41 = QueryDef.of(
    (s, d) => topK(scored(s, d, "vec_id < 20", labelRel = "same"), 5),
    s"""WITH probes AS (
       |  SELECT vec_id AS probe_id, label, embedding AS pe
       |  FROM embeddings WHERE vec_id < 20),
       |sc AS (
       |  SELECT probe_id, e.vec_id AS neighbor_id,
       |    ${sqlCos("pe", "e.embedding")} AS score
       |  FROM probes JOIN embeddings e USING (label)
       |  WHERE e.vec_id <> probe_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |    ORDER BY score DESC, neighbor_id) AS rank
       |  FROM sc)
       |SELECT probe_id, neighbor_id, score, rank FROM ranked
       |WHERE rank <= 5
       |ORDER BY probe_id, rank""".stripMargin)

  // ------------------------------------------------------------- q34
  // Embedding near-dup scan, IVF-blocked: each probe (1-in-50 sample, the
  // "incoming batch") is compared only against its own cell; pairs above
  // the similarity floor are dup candidates.
  private val q34 = QueryDef.of(
    (s, d) => scored(s, d, "vec_id % 50 = 0", labelRel = "same")
      .filter(col("score") >= 0.3)
      .select(col("probe_id"), col("neighbor_id"), col("score"))
      .orderBy(col("probe_id"), col("neighbor_id")),
    s"""WITH probes AS (
       |  SELECT vec_id AS probe_id, label, embedding AS pe
       |  FROM embeddings WHERE vec_id % 50 = 0),
       |sc AS (
       |  SELECT probe_id, e.vec_id AS neighbor_id,
       |    ${sqlCos("pe", "e.embedding")} AS score
       |  FROM probes JOIN embeddings e USING (label)
       |  WHERE e.vec_id <> probe_id)
       |SELECT probe_id, neighbor_id, score FROM sc
       |WHERE score >= 0.3
       |ORDER BY probe_id, neighbor_id""".stripMargin)

  // ------------------------------------------------------------ q138
  // Hard-negative mining — the contrastive-training batch constructor
  // (retrieval/embedding fine-tuning wants, per anchor, the negatives
  // the current space finds MOST similar: those carry the gradient;
  // random negatives are trivially separable). Per anchor (1-in-50
  // sample, offset from q34's), top-5 highest-cosine vectors with a
  // DIFFERENT label. Same scale shape as q40: bounded anchors
  // broadcast onto the corpus scan, corpus never shuffles; production
  // narrows the scan with the IVF cells (q42's index) before the
  // label-exclusion filter.
  private val q138 = QueryDef.of(
    (s, d) => topK(scored(s, d, "vec_id % 50 = 1", labelRel = "diff"), 5),
    s"""WITH probes AS (
       |  SELECT vec_id AS probe_id, label AS plabel, embedding AS pe
       |  FROM embeddings WHERE vec_id % 50 = 1),
       |sc AS (
       |  SELECT probe_id, e.vec_id AS neighbor_id,
       |    ${sqlCos("pe", "e.embedding")} AS score
       |  FROM probes CROSS JOIN embeddings e
       |  WHERE e.label <> plabel AND e.vec_id <> probe_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |    ORDER BY score DESC, neighbor_id) AS rank
       |  FROM sc)
       |SELECT probe_id, neighbor_id, score, rank FROM ranked
       |WHERE rank <= 5
       |ORDER BY probe_id, rank""".stripMargin)

  // ------------------------------------------------------------- q42
  // Trained-centroid IVF ANN (graft.operators.IvfIndex): kmeans cells +
  // nProbe-limited scan over a PREBUILT, cell-partitioned index. The
  // k-means training is an offline job (ensureIvfIndex — first call per
  // sf dir builds + persists partitionBy(cell)); the query path only
  // loads centroids and partition-prunes to the probed cells. No DuckDB
  // oracle (kmeans isn't reproducible in SQL) — IvfIndexSpec pins
  // exactness at nProbe = nCells, prebuilt≡in-memory parity, and the
  // pruned scan shape; the driver's rows-only check applies here.
  private val IvfCells = 16

  /** Offline index build entry point (idempotent); returns the index
    * directory. Bench/pipelines call this in their setup phase so query
    * time is probe cost only. */
  def ensureIvfIndex(s: SparkSession, d: String): String = {
    val dir = Artifact.dir(d, s"c$IvfCells")
    graft.operators.IvfIndex.ensure(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      IvfCells, dir)
    dir
  }

  // The trained (Spark-ML) k-means itself is not SQL-replayable — its
  // float centroid sums fold in partition order — so instead of raw
  // (probe, neighbor) rows the query emits per-probe INVARIANTS that any
  // valid IVF index must satisfy (the q18 precedent: oracle what is
  // checkable, keep the raw path spec-pinned in IvfIndexSpec):
  //   n_neighbors   — searchPrebuilt returned exactly k rows
  //   ranks_ok      — ranks are exactly 1..k
  //   self_ok       — no probe returned itself
  //   distinct_ok   — k distinct neighbors
  //   monotone_ok   — scores non-increasing by rank
  //   multi_cell    — the index uses ≥2 cells (training not degenerate)
  //   full_assign   — every corpus vector got exactly one cell
  //   recall_floor_ok — recall@5 vs q40's exact top-5 ≥ 25% overall
  // Every flag is a deterministic constant when the index is valid, so
  // the DuckDB oracle states them directly; a broken index flips a flag
  // and the driver's hash goes red.
  private val q42 = QueryDef.of(
    (s, d) => {
      val dir = ensureIvfIndex(s, d)
      val emb = Tables.embeddings(s, d)
      val probes = emb
        .filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"),
          col("embedding").as("probe_emb"))
      // NOT pinned: flags and recall both consume res, but AQE's
      // ReusedExchange already dedupes the scoring subplan — an eager
      // checkpoint here ADDED jobs without removing any (measured
      // 21 -> 23 jobs, reverted)
      val res = graft.operators.IvfIndex
        .searchPrebuilt(s, dir, probes, k = 5, nProbe = 4)
      val w = Window.partitionBy(col("probe_id")).orderBy(col("rank"))
      val flags = res
        .withColumn("prev_score", lag(col("score"), 1).over(w))
        .groupBy(col("probe_id"))
        .agg(
          count(lit(1)).as("n_neighbors"),
          (sort_array(collect_list(col("rank"))) ===
            array((1 to 5).map(lit(_)): _*)).cast("int").as("ranks_ok"),
          min((col("neighbor_id") =!= col("probe_id")).cast("int"))
            .as("self_ok"),
          (countDistinct(col("neighbor_id")) === 5).cast("int")
            .as("distinct_ok"),
          min(coalesce((col("prev_score") >= col("score")).cast("int"),
            lit(1))).as("monotone_ok"))
      val (assigned, _) = graft.operators.IvfIndex.loadLocal(s, dir)
      val idxStats = assigned
        .agg(countDistinct(col("cell")).as("cells_used"),
          count(lit(1)).as("n_assigned"))
        .crossJoin(broadcast(emb.agg(count(lit(1)).as("n_corpus"))))
        .select((col("cells_used") >= 2).cast("int").as("multi_cell"),
          (col("n_assigned") === col("n_corpus")).cast("int")
            .as("full_assign"))
      val exact = exactTop5.get(s, d)
      val recall = res.select(col("probe_id"), col("neighbor_id"))
        .join(exact, Seq("probe_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select((col("n_hits") >= 25L).cast("int").as("recall_floor_ok"))
      flags
        .crossJoin(broadcast(idxStats))
        .crossJoin(broadcast(recall))
        .orderBy(col("probe_id"))
    },
    """SELECT vec_id AS probe_id,
      |  CAST(5 AS BIGINT) AS n_neighbors,
      |  CAST(1 AS INT) AS ranks_ok,
      |  CAST(1 AS INT) AS self_ok,
      |  CAST(1 AS INT) AS distinct_ok,
      |  CAST(1 AS INT) AS monotone_ok,
      |  CAST(1 AS INT) AS multi_cell,
      |  CAST(1 AS INT) AS full_assign,
      |  CAST(1 AS INT) AS recall_floor_ok
      |FROM embeddings WHERE vec_id < 20
      |ORDER BY probe_id""".stripMargin)

  // ------------------------------------------------------------- q43
  // Random-hyperplane LSH ANN: 4 deterministic ±1 hyperplanes (pseudo-
  // random by integer formula, inlined as literals in BOTH engines) give
  // a 16-bucket sign partition; each probe scans only its own bucket.
  // Unlike kmeans-IVF this is fully SQL-reproducible → hash oracle.
  // The bucketing dots reuse the codegen'd dot_product kernel.
  private val Planes = 4
  private val Dims = 64
  private def weight(p: Int, i: Int): Int =
    if ((i.toLong * 2654435761L + p.toLong * 40503L) % 97 < 48) 1 else -1
  private def planeArraySql(p: Int): String =
    (0 until Dims).map(i => s"${weight(p, i)}.0").mkString("[", ", ", "]")
  private def planeArraySpark(p: Int): String =
    (0 until Dims).map(i => s"${weight(p, i)}F").mkString("array(", ", ", ")")

  private def bucketExprSpark(embCol: String): String =
    (0 until Planes).map { p =>
      s"(CASE WHEN dot_product($embCol, ${planeArraySpark(p)}) > 0 " +
        s"THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")
  // unrolled ±term sum (x + (−t) is bitwise x − t, so the chain is the
  // same left fold as dot_product against the ±1 plane) — the lambda
  // form cost ~6 s of the q43/q43b oracles at sf0.1 on its own
  private def bucketExprSql(embCol: String): String =
    (0 until Planes).map { p =>
      val dot = (0 until Dims).map { i =>
        val t = s"CAST($embCol[${i + 1}] AS DOUBLE)"
        if (weight(p, i) == 1) t else s"(- $t)"
      }.mkString("(", " + ", ")")
      s"(CASE WHEN $dot > 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")

  private val q43 = QueryDef.of(
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .withColumn("bucket", expr(bucketExprSpark("embedding")))
        .withColumn("emb_norm", expr("vec_norm(embedding)"))
      val probes = e.filter(col("vec_id") < 20).select(
        col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
        col("emb_norm").as("probe_norm"), col("bucket"))
      topK(
        e.join(broadcast(probes), Seq("bucket"))
          .filter(col("vec_id") =!= col("probe_id"))
          .withColumn("score", expr(
            "dot_product(probe_emb, embedding) / (probe_norm * emb_norm)"))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"),
            col("score")),
        5)
    },
    // Oracle-cost discipline (the engine's own shape): norms fold ONCE
    // per vector in the MATERIALIZED bucketed frame (sqrt(dot(v,v)) is
    // the same left fold as vec_norm, bit-identical), so the pair scan
    // does one fold per pair instead of sqlCos's three — 6.7 s → ~1 s
    // at sf0.1, and bucketed isn't recomputed for the probe side.
    s"""WITH bucketed AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm,
       |    ${bucketExprSql("embedding")} AS bucket
       |  FROM embeddings),
       |probes AS (
       |  SELECT vec_id AS probe_id, embedding AS pe, nrm AS pn, bucket
       |  FROM bucketed WHERE vec_id < 20),
       |sc AS (
       |  SELECT probe_id, e.vec_id AS neighbor_id,
       |    (${sqlDot("pe", "e.embedding")} / (pn * e.nrm)) AS score
       |  FROM probes JOIN bucketed e USING (bucket)
       |  WHERE e.vec_id <> probe_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |    ORDER BY score DESC, neighbor_id) AS rank
       |  FROM sc)
       |SELECT probe_id, neighbor_id, score, rank FROM ranked
       |WHERE rank <= 5
       |ORDER BY probe_id, rank""".stripMargin)

  // ------------------------------------------------------------- q43b
  // MULTI-PROBE hyperplane LSH: each probe scans its own sign-bucket
  // PLUS the 4 buckets at Hamming distance 1 (one flipped hyperplane
  // bit) — the standard recall dial: near-misses that fall just across
  // one hyperplane are recovered at 5/16 of the corpus per probe
  // instead of 1/16. A neighbor lives in exactly one bucket, so the
  // 5 probe buckets yield no duplicate pairs (no distinct needed).
  private val q43b = QueryDef.of(
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .withColumn("bucket", expr(bucketExprSpark("embedding")))
        .withColumn("emb_norm", expr("vec_norm(embedding)"))
      val probes = e.filter(col("vec_id") < 20).select(
        col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
        col("emb_norm").as("probe_norm"),
        explode(expr("array(bucket, bucket ^ 1, bucket ^ 2, bucket ^ 4, bucket ^ 8)"))
          .as("bucket"))
      topK(
        e.join(broadcast(probes), Seq("bucket"))
          .filter(col("vec_id") =!= col("probe_id"))
          .withColumn("score", expr(
            "dot_product(probe_emb, embedding) / (probe_norm * emb_norm)"))
          .select(col("probe_id"), col("vec_id").as("neighbor_id"),
            col("score")),
        5)
    },
    // same norm-once + MATERIALIZED discipline as q43 (multi-probe
    // scans 5× the pairs, so the per-pair saving matters 5× more:
    // 13.6 s → ~1.5 s at sf0.1)
    s"""WITH bucketed AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm,
       |    ${bucketExprSql("embedding")} AS bucket
       |  FROM embeddings),
       |probes AS (
       |  SELECT vec_id AS probe_id, embedding AS pe, nrm AS pn,
       |    p.b AS bucket
       |  FROM bucketed, unnest([bucket, xor(bucket, 1), xor(bucket, 2),
       |    xor(bucket, 4), xor(bucket, 8)]) AS p(b)
       |  WHERE vec_id < 20),
       |sc AS (
       |  SELECT probe_id, e.vec_id AS neighbor_id,
       |    (${sqlDot("pe", "e.embedding")} / (pn * e.nrm)) AS score
       |  FROM probes JOIN bucketed e USING (bucket)
       |  WHERE e.vec_id <> probe_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |    ORDER BY score DESC, neighbor_id) AS rank
       |  FROM sc)
       |SELECT probe_id, neighbor_id, score, rank FROM ranked
       |WHERE rank <= 5
       |ORDER BY probe_id, rank""".stripMargin)

  // ------------------------------------------------------------- q71
  // Per-vector int8 scalar quantization — the embedding-STORAGE operator
  // at 100 TB: 64 float32 dims → 64 uint8 codes + (min, max) per vector
  // (4× smaller, and the shape IVF/disk-ANN systems store). Pure per-row
  // HOF maps, no shuffle. Codes are exact in both engines: (x-mn)/scale
  // is non-negative, where Spark HALF_UP rounding == DuckDB
  // away-from-zero; the reconstruction-MSE fold is a left fold with
  // identical operation order (0.0 + t == t bitwise for t ≥ 0), so the
  // doubles hash-match bit-for-bit.
  private val q71 = QueryDef.of(
    (s, d) => Tables.embeddings(s, d)
      .withColumn("dvec", expr(
        "transform(embedding, x -> cast(x AS double))"))
      .withColumn("mn", expr("array_min(dvec)"))
      .withColumn("mx", expr("array_max(dvec)"))
      .withColumn("scale", expr("(mx - mn) / 255.0D"))
      .withColumn("codes", expr(
        """CASE WHEN scale = 0D THEN transform(dvec, x -> 0L)
          |ELSE transform(dvec,
          |  x -> cast(round((x - mn) / scale, 0) AS bigint)) END"""
          .stripMargin))
      .withColumn("mse", expr(
        """aggregate(sequence(0, size(dvec) - 1), 0D, (acc, i) ->
          |  acc + (dvec[i] - (mn + cast(codes[i] AS double) * scale)) *
          |        (dvec[i] - (mn + cast(codes[i] AS double) * scale)))
          |/ size(dvec)""".stripMargin))
      .select(col("vec_id"),
        expr("codes[0]").as("c0"), expr("codes[1]").as("c1"),
        expr("codes[31]").as("c31"), expr("codes[63]").as("c63"),
        col("mn"), col("mx"), col("mse"))
      .orderBy(col("vec_id")),
    """WITH t AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dvec
      |  FROM embeddings),
      |s AS (
      |  SELECT vec_id, dvec, list_min(dvec) AS mn, list_max(dvec) AS mx,
      |    (list_max(dvec) - list_min(dvec)) / CAST(255.0 AS DOUBLE) AS scale
      |  FROM t),
      |c AS (
      |  SELECT vec_id, dvec, mn, mx, scale,
      |    CASE WHEN scale = 0 THEN
      |      list_transform(dvec, x -> CAST(0 AS BIGINT))
      |    ELSE list_transform(dvec,
      |      x -> CAST(round((x - mn) / scale) AS BIGINT)) END AS codes
      |  FROM s)
      |SELECT vec_id,
      |  codes[1] AS c0, codes[2] AS c1, codes[32] AS c31, codes[64] AS c63,
      |  mn, mx,
      |  list_reduce(list_transform(generate_series(1, len(dvec)),
      |    i -> (dvec[i] - (mn + CAST(codes[i] AS DOUBLE) * scale)) *
      |         (dvec[i] - (mn + CAST(codes[i] AS DOUBLE) * scale))),
      |    (a, b) -> a + b) / len(dvec) AS mse
      |FROM c
      |ORDER BY vec_id""".stripMargin)

  // ------------------------------------------------------------- q42b
  // Deterministic-trained k-means cell assignment
  // ([[graft.operators.IvfIndex.trainDeterministic]]): the oracle-exact
  // twin of q42's Spark-ML training. Features quantize to round(x*2^20)
  // longs so centroid sums are exact integer adds (order- and
  // partition-invariant); init is the 8 vectors with smallest
  // md5(vec_id); 2 full Lloyd iterations, then assignment under the
  // final centroids. The DuckDB oracle replays the identical training —
  // same init, same integer sums, same correctly-rounded mean division,
  // same dimension-order distance folds, same (dist, cell) tie-break —
  // so every one of the corpus's cell labels must match bit-for-bit.
  // This closes the one no-oracle gap: ML-library training is
  // unreplayable (partition-order float sums), deterministic training
  // is a first-class alternative a reproducible pipeline would pick.
  private val KCells = 8
  private val KIters = 2

  // -- shared DuckDB replay generators for the deterministic trainer --
  // (q42b trains one 64-dim quantizer; q44 adds a coarse + M subspace
  // codebooks — all the same unrolled-Lloyd's CTE chain)
  /** Exact replay of IvfIndex.distSql: dimension-order left fold of
    * (feature - centroid)^2 over `dims` dims. */
  private def sqlKmDist(fv: String, cv: String, dims: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(range(1, ${dims + 1}), j ->
       |            (CAST($fv[j] AS DOUBLE) - $cv[j]) * (CAST($fv[j] AS DOUBLE) - $cv[j]))),
       |          (acc, v) -> acc + v)""".stripMargin
  /** md5-ordered draw of the nCells seed centroids from `src`. */
  private def sqlKmInit(name: String, src: String, nCells: Int): String =
    s"""$name AS (
       |  SELECT CAST(r - 1 AS INT) AS cell,
       |    list_transform(qv, x -> CAST(x AS DOUBLE)) AS c
       |  FROM (SELECT qv, ROW_NUMBER() OVER (
       |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
       |        FROM $src)
       |  WHERE r <= $nCells)""".stripMargin
  /** argmin-cell assignment of `src` under centroid table `cents`. */
  private def sqlKmAssign(name: String, src: String, cents: String,
      dims: Int): String =
    s"""$name AS (
       |  SELECT vec_id, qv, cell FROM (
       |    SELECT vec_id, qv, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS r
       |    FROM (
       |      SELECT s.vec_id, s.qv, i.cell,
       |        ${sqlKmDist("s.qv", "i.c", dims)} AS dist
       |      FROM $src s CROSS JOIN $cents i))
       |  WHERE r = 1)""".stripMargin
  /** Exact-integer centroid mean recompute from `assigned`. */
  private def sqlKmUpdate(name: String, assigned: String, dims: Int): String =
    s"""$name AS (
       |  SELECT cell, list_transform(range(1, ${dims + 1}), j ->
       |    CAST(list_sum(list_transform(vecs, v -> v[j])) AS DOUBLE)
       |      / CAST(len(vecs) AS DOUBLE)) AS c
       |  FROM (SELECT cell, list(qv) AS vecs FROM $assigned GROUP BY cell))"""
      .stripMargin
  /** The full unrolled training chain: init + iters×(assign, update).
    * Returns (cte block, final-centroid CTE name). */
  private def sqlKmTrain(prefix: String, src: String, dims: Int,
      nCells: Int, iters: Int): (String, String) = {
    val parts = Seq.newBuilder[String]
    parts += sqlKmInit(s"${prefix}i", src, nCells)
    var cents = s"${prefix}i"
    (1 to iters).foreach { k =>
      parts += sqlKmAssign(s"${prefix}a$k", src, cents, dims)
      parts += sqlKmUpdate(s"${prefix}c$k", s"${prefix}a$k", dims)
      cents = s"${prefix}c$k"
    }
    (parts.result().mkString(",\n"), cents)
  }

  /** Offline build of the deterministic-k-means assignment index:
    * trains once per sf dir and persists (vec_id, cell)
    * `partitionBy(cell)` — the same IVF layout `IvfIndex.persist`
    * writes, so the artifact serves both q42b's full-assignment read
    * and cell-pruned probes. Because the trainer is bit-reproducible,
    * the prebuilt read is bit-identical to an in-query train (the
    * DuckDB oracle keeps replaying the training chain either way). */
  def ensureDetIndex(s: SparkSession, d: String): String =
    Artifact.publish(Artifact.dir(d, s"det$KCells-i$KIters")) {
      stage => graft.operators.IvfIndex.trainDeterministic(
        Tables.embeddings(s, d), KCells, KIters)
        .write.mode("overwrite").partitionBy("cell").parquet(stage)
    }

  private val q42bTrain = sqlKmTrain("", "qz", 64, KCells, KIters)
  private val q42b = QueryDef.of(
    (s, d) => {
      // training runs in ensureDetIndex (offline, idempotent — Bench
      // setup); the query reads the persisted assignments only
      val assigned = s.read.parquet(ensureDetIndex(s, d))
        .select(col("vec_id"), col("cell"))
      assigned
        .withColumn("cell_size",
          count(lit(1)).over(Window.partitionBy(col("cell"))))
        .orderBy(col("vec_id"))
    },
    s"""WITH qz AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |${q42bTrain._1},
       |${sqlKmAssign("af", "qz", q42bTrain._2, 64)}
       |SELECT vec_id, cell,
       |  COUNT(*) OVER (PARTITION BY cell) AS cell_size
       |FROM af ORDER BY vec_id""".stripMargin)

  // ------------------------------------------------------------ q189
  // IVF RETRAIN-CHURN audit — the readout an ANN owner consults BEFORE
  // committing an index rebuild: train a CANDIDATE generation on the
  // even-vec_id half (the corpus as it stood at the last snapshot, the
  // q180 reference convention) with the same deterministic trainer,
  // assign the FULL corpus under it, and report per CURRENT cell how
  // many members stay together (the modal candidate cell) vs move.
  // Churn bounds the rebuild's data-migration cost (every moved vector
  // is a rewrite into another cell partition) and pairs with q184's
  // balance audit: balance says whether to rebuild, churn says what it
  // costs. Labels between generations don't align, so the statistic is
  // label-invariant (modal co-location, the q135 idea per-cell).
  //
  // Scale shape: the current assignment is the persisted q42b artifact
  // (offline, read-only); the candidate is one bounded training loop
  // (nCells-row frames per round) + ONE shuffle-free assign pass over
  // the corpus (broadcast centroid argmin); the contingency is a
  // (cell, cell)-keyed aggregate — ≤ nCells² rows. All counts are
  // integers; churn is integer ppm — the oracle replays BOTH training
  // chains (shared q42b generators) bit-for-bit.
  private val q189 = QueryDef.of(
    (s, d) => {
      val cur = s.read.parquet(ensureDetIndex(s, d))
        .select(col("vec_id"), col("cell").cast("int").as("cell_cur"))
      val cand = graft.operators.IvfIndex.trainAssign(
          Tables.embeddings(s, d).filter(col("vec_id") % 2 === 0),
          Tables.embeddings(s, d), KCells, KIters)
        .select(col("vec_id"), col("cell").as("cell_cand"))
      cur.join(cand, "vec_id")
        .groupBy(col("cell_cur"), col("cell_cand"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("cell_cur"))
        .agg(sum(col("c")).as("n_vecs"),
          max(struct(col("c"), (-col("cell_cand")).as("nc"))).as("m"))
        .select(col("cell_cur").cast("long").as("cell"), col("n_vecs"),
          col("m.c").as("modal_together"),
          (col("n_vecs") - col("m.c")).as("moved"),
          expr("((n_vecs - m.c) * 1000000L) div n_vecs").as("churn_ppm"))
        .orderBy(col("cell"))
    }, {
      val eTrain = sqlKmTrain("e", "qze", 64, KCells, KIters)
      s"""WITH qz AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT))
         |      AS qv
         |  FROM embeddings),
         |qze AS MATERIALIZED (SELECT * FROM qz WHERE vec_id % 2 = 0),
         |${q42bTrain._1},
         |${sqlKmAssign("af", "qz", q42bTrain._2, 64)},
         |${eTrain._1},
         |${sqlKmAssign("ef", "qz", eTrain._2, 64)},
         |j AS (
         |  SELECT af.cell AS cell_cur, ef.cell AS cell_cand,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM af JOIN ef USING (vec_id) GROUP BY 1, 2),
         |m AS (
         |  SELECT cell_cur, c AS modal_together FROM (
         |    SELECT cell_cur, c, ROW_NUMBER() OVER (PARTITION BY cell_cur
         |      ORDER BY c DESC, cell_cand) AS r FROM j)
         |  WHERE r = 1),
         |n AS (SELECT cell_cur, CAST(SUM(c) AS BIGINT) AS n_vecs
         |      FROM j GROUP BY cell_cur)
         |SELECT CAST(cell_cur AS BIGINT) AS cell, n_vecs, modal_together,
         |  n_vecs - modal_together AS moved,
         |  ((n_vecs - modal_together) * 1000000) // n_vecs AS churn_ppm
         |FROM n JOIN m USING (cell_cur)
         |ORDER BY cell""".stripMargin
    })

  // ------------------------------------------------------------ q144
  // Cluster-and-describe (topic exploration): label every embedded doc
  // with its deterministic k-means cell (the q42b offline index), then
  // surface each cluster's 3 most DISTINCTIVE terms by integer lift —
  //
  //   lift = P(term | cluster) / P(term)
  //        ≈ (1e6 · c_ct · T) div (c_t · T_c)   (micro-units)
  //
  // — the "what is this cluster about" report a curation pipeline runs
  // after clustering a corpus (topic balance, contamination triage,
  // dedup-cluster inspection). Raw frequency would return stopwords;
  // lift returns the terms that CONCENTRATE in the cluster.
  //
  // Scale shape: the token stream is exploded once and aggregated once
  // on (cell, term); every other statistic DERIVES from that count
  // table (t_c = Σ c_ct per cell, c_t = Σ c_ct per term, T = Σ c_ct —
  // the q92 derivation trick), so no second pass over tokens exists.
  // The assignment index is the persisted q42b artifact (built offline,
  // read here); cluster sizes and cell totals are 8-row broadcasts; the
  // only term-keyed shuffle joins count tables, never text. Support
  // floor c_ct ≥ 3 kills one-off noise. Overflow: 1e6·c_ct·T ≤ 2^55 at
  // sf0.1; ~1e9-token corpora need the factors re-ordered into two
  // divisions (q107's documented trade-off).
  //
  // The oracle replays the ENTIRE chain — unrolled Lloyd training
  // (shared q42b generators), assignment, token explode, and the exact
  // integer lift — bit-for-bit.
  private val q144 = QueryDef.of(
    (s, d) => {
      val assigned = s.read.parquet(ensureDetIndex(s, d))
        .select(col("vec_id").as("doc_id"), col("cell"))
      val toks = Tables.documents(s, d)
        .join(assigned, Seq("doc_id"))
        .select(col("cell"), col("doc_id"),
          explode(expr("filter(split(text, ' '), t -> t <> '')"))
            .as("term"))
      val ct = toks.groupBy(col("cell"), col("term"))
        .agg(count(lit(1)).as("c_ct"))
      // cell totals, corpus term counts, and the grand total all derive
      // from ct — the token stream shuffles exactly once
      val tc = ct.groupBy(col("cell")).agg(sum(col("c_ct")).as("t_c"))
      val g = ct.groupBy(col("term")).agg(sum(col("c_ct")).as("c_t"))
      val tt = tc.agg(sum(col("t_c")).as("t"))
      val cs = Tables.documents(s, d).join(assigned, Seq("doc_id"))
        .groupBy(col("cell")).agg(count(lit(1)).as("cluster_docs"))
      val scored = ct.filter(col("c_ct") >= 3)
        .join(g, Seq("term"))
        .join(broadcast(tc), Seq("cell"))
        .crossJoin(broadcast(tt))
        .withColumn("lift_micro",
          expr("(1000000L * c_ct * t) div (c_t * t_c)"))
      val w = Window.partitionBy(col("cell"))
        .orderBy(col("lift_micro").desc, col("term"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .join(broadcast(cs), Seq("cell"))
        .select(col("cell"), col("rank"), col("term"), col("c_ct"),
          col("lift_micro"), col("cluster_docs"))
        .orderBy(col("cell"), col("rank"))
    },
    s"""WITH qz AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |${q42bTrain._1},
       |${sqlKmAssign("af", "qz", q42bTrain._2, 64)},
       |toks AS (
       |  SELECT af.cell, d.doc_id, u.term
       |  FROM documents d JOIN af ON af.vec_id = d.doc_id,
       |    unnest(list_filter(string_split(d.text, ' '), t -> t <> ''))
       |      u(term)),
       |ct AS (SELECT cell, term, COUNT(*) AS c_ct FROM toks GROUP BY 1, 2),
       |tc AS (SELECT cell, CAST(SUM(c_ct) AS BIGINT) AS t_c
       |       FROM ct GROUP BY cell),
       |g AS (SELECT term, CAST(SUM(c_ct) AS BIGINT) AS c_t
       |      FROM ct GROUP BY term),
       |tt AS (SELECT CAST(SUM(t_c) AS BIGINT) AS t FROM tc),
       |cs AS (
       |  SELECT af.cell, COUNT(*) AS cluster_docs
       |  FROM documents d JOIN af ON af.vec_id = d.doc_id
       |  GROUP BY af.cell),
       |sc AS (
       |  SELECT ct.cell, ct.term, c_ct,
       |    CAST((1000000 * c_ct * (SELECT t FROM tt))
       |      // (g.c_t * tc.t_c) AS BIGINT) AS lift_micro
       |  FROM ct JOIN g USING (term) JOIN tc USING (cell)
       |  WHERE c_ct >= 3),
       |rk AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cell
       |    ORDER BY lift_micro DESC, term) AS rank
       |  FROM sc)
       |SELECT rk.cell, rank, term, c_ct, lift_micro, cluster_docs
       |FROM rk JOIN cs ON cs.cell = rk.cell
       |WHERE rank <= 3
       |ORDER BY rk.cell, rank""".stripMargin)

  // ------------------------------------------------------------ q151
  // Clustering-quality eval by graph MODULARITY (Newman '04): score the
  // q42b k-means cells against the q34 embedding near-dup graph — do
  // the cells keep similar vectors together? Per cluster c with L_c
  // intra-cluster edges, degree mass d_c, and m total edges:
  //
  //   Q_c = L_c/m − (d_c / 2m)²     (Q = Σ_c Q_c; higher = cells
  //                                  capture the similarity structure)
  //
  // — the structural complement to q116's pair-agreement eval and the
  // readout that decides whether a clustering is good enough to drive
  // SemDeDup/curation. Exact integer µ-units via NESTED truncating
  // divisions (both engines replay bit-for-bit):
  //
  //   contribution_micro = (1e6·L_c) div m
  //                      − (((1e6·d_c) div 2m) · d_c) div 2m
  //
  // (nesting keeps every intermediate ≤ 1e6·d_c ≤ 2·1e6·m — long-safe
  // to m ≈ 4.6·10¹² edges, where the single-expression form
  // 1e6·d_c² overflows at m ≈ 1.5·10⁶ already).
  //
  // Scale shape: the edge list comes from q34's cell-blocked scorer
  // (never all-pairs); degrees and intra counts are two map-side-
  // combined aggregates; the assignment index is the persisted q42b
  // artifact; m rides along as a broadcast 1-row frame. Nothing
  // corpus-sized shuffles twice.
  private val q151 = QueryDef.of(
    (s, d) => {
      val pairs = scored(s, d, "vec_id % 50 = 0", labelRel = "same")
        .filter(col("score") >= 0.3)
        .select(least(col("probe_id"), col("neighbor_id")).as("a"),
          greatest(col("probe_id"), col("neighbor_id")).as("b"))
        .distinct()
      val asg = s.read.parquet(ensureDetIndex(s, d))
        .select(col("vec_id"), col("cell"))
      val mF = pairs.agg(count(lit(1)).as("m"))
      val deg = pairs.select(col("a").as("node"))
        .union(pairs.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val intra = pairs
        .join(asg.select(col("vec_id").as("a"), col("cell").as("ca")),
          "a")
        .join(asg.select(col("vec_id").as("b"), col("cell").as("cb")),
          "b")
        .filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("cell"))
        .agg(count(lit(1)).as("intra_edges"))
      val degc = deg
        .join(asg.select(col("vec_id").as("node"), col("cell")), "node")
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
      degc.join(intra, Seq("cell"), "left")
        .withColumn("intra_edges", coalesce(col("intra_edges"), lit(0L)))
        .crossJoin(broadcast(mF))
        .select(col("cell"), col("n_nodes"), col("intra_edges"),
          col("deg_sum"),
          expr("""(1000000L * intra_edges) div m -
                 |  (((1000000L * deg_sum) div (2 * m)) * deg_sum)
                 |    div (2 * m)""".stripMargin)
            .as("contribution_micro"))
        .orderBy(col("cell"))
    },
    s"""WITH probes AS (
       |  SELECT vec_id AS probe_id, label, embedding AS pe
       |  FROM embeddings WHERE vec_id % 50 = 0),
       |sc AS (
       |  SELECT probe_id, e.vec_id AS neighbor_id,
       |    ${sqlCos("pe", "e.embedding")} AS score
       |  FROM probes JOIN embeddings e USING (label)
       |  WHERE e.vec_id <> probe_id),
       |pairs AS (
       |  SELECT DISTINCT least(probe_id, neighbor_id) AS a,
       |    greatest(probe_id, neighbor_id) AS b
       |  FROM sc WHERE score >= 0.3),
       |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs),
       |deg AS (
       |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |    SELECT a AS node FROM pairs
       |    UNION ALL SELECT b AS node FROM pairs)
       |  GROUP BY node),
       |qz AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |${q42bTrain._1},
       |${sqlKmAssign("af", "qz", q42bTrain._2, 64)},
       |intra AS (
       |  SELECT ca.cell, CAST(COUNT(*) AS BIGINT) AS intra_edges
       |  FROM pairs p JOIN af ca ON ca.vec_id = p.a
       |               JOIN af cb ON cb.vec_id = p.b
       |  WHERE ca.cell = cb.cell
       |  GROUP BY ca.cell),
       |degc AS (
       |  SELECT af.cell, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    CAST(SUM(deg) AS BIGINT) AS deg_sum
       |  FROM deg JOIN af ON af.vec_id = deg.node
       |  GROUP BY af.cell)
       |SELECT d.cell, n_nodes,
       |  COALESCE(intra_edges, CAST(0 AS BIGINT)) AS intra_edges,
       |  deg_sum,
       |  (1000000 * COALESCE(intra_edges, 0)) // m -
       |    (((1000000 * deg_sum) // (2 * m)) * deg_sum) // (2 * m)
       |    AS contribution_micro
       |FROM degc d LEFT JOIN intra i ON d.cell = i.cell CROSS JOIN mm
       |ORDER BY d.cell""".stripMargin)

  // ------------------------------------------------------------- q44
  // IVF-PQ (product quantization, no-residual IVF-ADC) over the
  // deterministic trainer ([[graft.operators.PqIndex]]): a coarse
  // 8-cell quantizer prunes each probe to its 2 nearest cells, and
  // within them distances are approximated as the sum of 4 per-subspace
  // codebook distances (16 dims × 8 codes each) — the canonical 100 TB
  // ANN layout, where the scan reads 4 small codes per vector instead
  // of 64 floats. Training + encoding are the OFFLINE job
  // (ensurePqIndex; first call per sf dir persists codes
  // partitionBy(cell) + codebooks); the query path loads codebooks and
  // partition-prunes the codes scan to the probed cells — q42's
  // lifecycle, one layer up. Because every codebook comes from the
  // bit-reproducible quantized-Lloyd's trainer, the DuckDB oracle
  // replays ALL FIVE training chains, the encoding, the probe-cell
  // choice, and every ADC distance bit-for-bit — and the prebuilt index
  // is bit-identical to an in-query build.
  private val PqM = 4
  private val PqSubDim = 16
  private val PqKSub = 8
  private val PqNProbe = 2
  private val PqK = 5

  /** Offline PQ index build entry point (idempotent; the
    * [[ensureIvfIndex]] lifecycle). Bench/pipelines call this in their
    * setup phase so q44's query time is probe cost only — training the
    * five k-means chains per execution was the round-3 perf-weak
    * anti-pattern. Training is bit-reproducible, so the prebuilt index
    * equals an in-query build exactly. */
  def ensurePqIndex(s: SparkSession, d: String): String = {
    val dir = Artifact.dir(d, s"pq$KCells-m$PqM-sd$PqSubDim-k$PqKSub-i$KIters")
    graft.operators.PqIndex.ensure(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      KCells, PqM, PqSubDim, PqKSub, KIters, dir)
    dir
  }

  private val q44 = {
    // per-subspace slice CTEs + unrolled training chains + final assigns
    val subBlocks = (0 until PqM).map { i =>
      val srcCte = s"s${i}z"
      val (train, cFinal) = sqlKmTrain(s"s$i", srcCte, PqSubDim, PqKSub, KIters)
      val block =
        s"""$srcCte AS (
           |  SELECT vec_id, qv[${i * PqSubDim + 1}:${(i + 1) * PqSubDim}] AS qv
           |  FROM qz),
           |$train,
           |${sqlKmAssign(s"s${i}af", srcCte, cFinal, PqSubDim)}""".stripMargin
      (block, cFinal)
    }
    val (coTrain, coFinal) = sqlKmTrain("co", "qz", 64, KCells, KIters)
    val luts = (0 until PqM).map { i =>
      s"""pl$i AS (
         |  SELECT p.probe_id, i.cell AS code,
         |    ${sqlKmDist(s"p.q$i", "i.c", PqSubDim)} AS d
         |  FROM pz p CROSS JOIN ${subBlocks(i)._2} i)""".stripMargin
    }
    QueryDef.of(
      (s, d) => {
        val dir = ensurePqIndex(s, d)
        val probes = Tables.embeddings(s, d).filter(col("vec_id") < 20)
          .select(col("vec_id"), col("embedding"))
        graft.operators.PqIndex
          .searchPrebuilt(s, dir, probes, PqK, PqNProbe, PqM, PqSubDim,
            KCells)
          .orderBy(col("probe_id"), col("rank"))
      },
      s"""WITH qz AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT)) AS qv
         |  FROM embeddings),
         |$coTrain,
         |${sqlKmAssign("coaf", "qz", coFinal, 64)},
         |${subBlocks.map(_._1).mkString(",\n")},
         |codes AS (
         |  SELECT co.vec_id, co.cell,
         |    a0.cell AS c0, a1.cell AS c1, a2.cell AS c2, a3.cell AS c3
         |  FROM coaf co
         |  JOIN s0af a0 USING (vec_id) JOIN s1af a1 USING (vec_id)
         |  JOIN s2af a2 USING (vec_id) JOIN s3af a3 USING (vec_id)),
         |pz AS (
         |  SELECT vec_id AS probe_id, qv,
         |    qv[1:16] AS q0, qv[17:32] AS q1, qv[33:48] AS q2, qv[49:64] AS q3
         |  FROM qz WHERE vec_id < 20),
         |pco AS (
         |  SELECT probe_id, cell FROM (
         |    SELECT probe_id, cell,
         |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY dist, cell) AS r
         |    FROM (SELECT p.probe_id, i.cell,
         |            ${sqlKmDist("p.qv", "i.c", 64)} AS dist
         |          FROM pz p CROSS JOIN $coFinal i))
         |  WHERE r <= $PqNProbe),
         |${luts.mkString(",\n")},
         |sc AS (
         |  SELECT pc.probe_id, cd.vec_id AS neighbor_id,
         |    l0.d + l1.d + l2.d + l3.d AS approx_dist
         |  FROM codes cd
         |  JOIN pco pc ON cd.cell = pc.cell AND cd.vec_id <> pc.probe_id
         |  JOIN pl0 l0 ON l0.probe_id = pc.probe_id AND l0.code = cd.c0
         |  JOIN pl1 l1 ON l1.probe_id = pc.probe_id AND l1.code = cd.c1
         |  JOIN pl2 l2 ON l2.probe_id = pc.probe_id AND l2.code = cd.c2
         |  JOIN pl3 l3 ON l3.probe_id = pc.probe_id AND l3.code = cd.c3),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |    ORDER BY approx_dist, neighbor_id) AS rank
         |  FROM sc)
         |SELECT probe_id, neighbor_id, approx_dist, rank FROM ranked
         |WHERE rank <= $PqK
         |ORDER BY probe_id, rank""".stripMargin)
  }

  // ------------------------------------------------------------- q87
  // Per-dimension embedding statistics (feature/drift profile): mean,
  // std, min, max for each of the 64 dims — the monitoring table a
  // pipeline compares across corpus snapshots to catch embedding-model
  // or preprocessing drift. Sums run over the 2^20-quantized integers
  // (exact, order-invariant; x² ≤ 2^42 so the sum holds ~2^21 rows per
  // dim before BIGINT overflow — document-scale corpora need DECIMAL
  // sums, same trade-off as q01b); mean/var/std are then fixed-order
  // double expressions both engines evaluate identically (sqrt is
  // IEEE-correctly-rounded everywhere; var clamps at 0 against
  // catastrophic-cancellation negatives).
  private val q87 = QueryDef.of(
    (s, d) => {
      Tables.embeddings(s, d)
        .select(posexplode(expr(
          "transform(embedding, x -> cast(round(cast(x as double) * 1048576, 0) as bigint))"))
          .as(Seq("pos", "x")))
        .groupBy(col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("s"),
          sum(expr("x * x")).as("s2"),
          min(col("x")).as("vmin"), max(col("x")).as("vmax"))
        .select(col("pos"), col("n"),
          expr("cast(s as double) / cast(n as double)").as("mean"),
          expr(
            """sqrt(greatest(
              |  cast(s2 as double) / cast(n as double)
              |    - (cast(s as double) / cast(n as double))
              |      * (cast(s as double) / cast(n as double)),
              |  cast(0.0 as double)))""".stripMargin).as("std"),
          col("vmin"), col("vmax"))
        .orderBy(col("pos"))
    },
    """WITH qz AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT)) AS qv
      |  FROM embeddings),
      |ex AS (
      |  SELECT CAST(unnest(range(0, len(qv))) AS INT) AS pos,
      |    unnest(qv) AS x
      |  FROM qz),
      |ag AS (
      |  SELECT pos, COUNT(*) AS n,
      |    CAST(SUM(x) AS BIGINT) AS s,
      |    CAST(SUM(x * x) AS BIGINT) AS s2,
      |    MIN(x) AS vmin, MAX(x) AS vmax
      |  FROM ex GROUP BY pos)
      |SELECT pos, n,
      |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
      |  sqrt(greatest(
      |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
      |      - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)),
      |    CAST(0.0 AS DOUBLE))) AS std,
      |  vmin, vmax
      |FROM ag ORDER BY pos""".stripMargin)

  // ------------------------------------------------------------- q102
  // Random projection (Johnson–Lindenstrauss) — the dimensionality-
  // reduction operator of the embedding pipeline: 64-dim vectors × a
  // ±1 sign matrix → 8-dim sketches (production uses k = 64–256; k = 8
  // keeps the oracle compact). The sign matrix is DERIVED, not stored:
  // s[j][i] = ±1 from an md5 bit of (j, i) — data-independent, so it is
  // built ONCE in a 1-row frame and broadcast onto the corpus
  // (recomputing 512 md5s per row would be the naive mistake). Inputs
  // quantize to round(x·2^20) longs (q42b/q87 contract), making every
  // projected coordinate an exact integer dot product — order- and
  // partition-invariant, replayed bit-for-bit by the oracle. Per-row
  // cost after the broadcast: 512 multiply-adds inside one codegen'd
  // HOF; the corpus never shuffles. Headroom: |qv·s| ≤ 64·2^20·2^20 =
  // 2^46 per coordinate — five orders below BIGINT.
  private val RpDims = 8
  private val q102 = QueryDef.of(
    (s, d) => {
      val signs = s.range(1).select(expr(
        s"""transform(sequence(0, ${RpDims - 1}), j ->
           |  transform(sequence(0, 63), i ->
           |    2L * (cast(conv(substring(md5(concat(cast(j as string), '_',
           |      cast(i as string))), 1, 8), 16, 10) as bigint) % 2L)
           |    - 1L))""".stripMargin).as("S"))
      val qz = Tables.embeddings(s, d).select(col("vec_id"), expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 1048576, 0) as bigint))")
        .as("qv"))
      val proj = qz.crossJoin(broadcast(signs))
        .select(col("vec_id"), expr(
          s"""transform(sequence(0, ${RpDims - 1}), j ->
             |  aggregate(sequence(0, size(qv) - 1), 0L,
             |    (acc, i) -> acc + qv[i] * S[j][i]))""".stripMargin).as("p"))
      proj.select(col("vec_id") +:
          (0 until RpDims).map(j => expr(s"p[$j]").as(s"p$j")): _*)
        .orderBy(col("vec_id"))
    },
    s"""WITH sm AS (
       |  SELECT list_transform(range(0, $RpDims), j ->
       |    list_transform(range(0, 64), i ->
       |      2 * (CAST('0x' || substring(md5(CAST(j AS VARCHAR) || '_' ||
       |        CAST(i AS VARCHAR)), 1, 8) AS BIGINT) % 2) - 1)) AS S),
       |qz AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |pr AS (
       |  SELECT vec_id, list_transform(range(0, $RpDims), j ->
       |    CAST(list_sum(list_transform(range(0, 64),
       |      i -> qv[i + 1] * S[j + 1][i + 1])) AS BIGINT)) AS p
       |  FROM qz, sm)
       |SELECT vec_id, ${(0 until RpDims)
          .map(j => s"p[${j + 1}] AS p$j").mkString(", ")}
       |FROM pr ORDER BY vec_id""".stripMargin)

  // ------------------------------------------------------------- q106
  // ANN quality evaluation: recall@5 of the IVF cell-pruned search (q41's
  // pruning) against brute-force ground truth (q40), per probe — the eval
  // harness every ANN deployment runs before turning pruning on (recall
  // is THE accuracy/cost dial readout; q43b's multi-probe is the knob).
  // Both rankings are deterministic (score-then-id tie-break), so the
  // oracle replays them exactly. Scale shape: both sides reuse
  // [[scored]]'s broadcast-probes/corpus-never-shuffles scan; the fusion
  // LEFT join touches only the two top-5 lists (k × probes rows each).
  private val q106 = QueryDef.of(
    (s, d) => {
      val gt = exactTop5.get(s, d)
      val ivf = topK(scored(s, d, "vec_id < 20", labelRel = "same"), 5)
        .select(col("probe_id"), col("neighbor_id"), lit(1).as("hit"))
      gt.join(ivf, Seq("probe_id", "neighbor_id"), "left")
        .groupBy(col("probe_id"))
        .agg(count(col("hit")).as("n_hits"))
        .withColumn("recall", col("n_hits").cast("double") / lit(5.0d))
        .orderBy(col("probe_id"))
    },
    s"""WITH probes AS (
       |  SELECT vec_id AS probe_id, label AS plabel, embedding AS pe
       |  FROM embeddings WHERE vec_id < 20),
       |bf AS (
       |  SELECT probe_id, e.vec_id AS neighbor_id, ROW_NUMBER() OVER (
       |      PARTITION BY probe_id
       |      ORDER BY ${sqlCos("pe", "e.embedding")} DESC, e.vec_id) AS rank
       |  FROM probes CROSS JOIN embeddings e
       |  WHERE e.vec_id <> probe_id),
       |iv AS (
       |  SELECT probe_id, e.vec_id AS neighbor_id, ROW_NUMBER() OVER (
       |      PARTITION BY probe_id
       |      ORDER BY ${sqlCos("pe", "e.embedding")} DESC, e.vec_id) AS rank
       |  FROM probes JOIN embeddings e ON e.label = probes.plabel
       |  WHERE e.vec_id <> probe_id)
       |SELECT g.probe_id, COUNT(i.neighbor_id) AS n_hits,
       |  CAST(COUNT(i.neighbor_id) AS DOUBLE) / 5.0 AS recall
       |FROM (SELECT probe_id, neighbor_id FROM bf WHERE rank <= 5) g
       |LEFT JOIN (SELECT probe_id, neighbor_id FROM iv WHERE rank <= 5) i
       |  USING (probe_id, neighbor_id)
       |GROUP BY g.probe_id
       |ORDER BY probe_id""".stripMargin)

  // ------------------------------------------------------------- q187
  // MATRYOSHKA truncation eval (Kusupati et al. '22, MRL): recall@5 of
  // cosine top-k computed on only the FIRST D dims (D = 16/32/64)
  // against the full-dim exact ground truth — the eval an embedding
  // team runs before switching the serving index to truncated vectors
  // (truncation is the cheapest 4× index shrink there is IF recall
  // holds; this is the "does it hold" readout, q106's recall harness
  // pointed at the dimension axis instead of the index). D = 64 is the
  // harness's own sanity leg — recall 10⁶ by construction.
  //
  // Scale shape: each D is one broadcast-probe corpus scan (the q40
  // contract — the corpus never shuffles to meet a probe) with ONE
  // dot fold per pair (norms precomputed per row, the `scored` trick),
  // a probe-keyed top-5 window, and a semi-join against the persisted
  // ground-truth artifact (q106's cache). Hits are integers and recall
  // is integer ppm, so the oracle replays every value bit-for-bit; the
  // float math only ORDERS candidates, and the kernels fold dims
  // left-associatively on both engines (the q40/q106 parity contract,
  // here at each truncated length).
  private val q187 = QueryDef.of(
    (s, d) => {
      val gt = exactTop5.get(s, d)
      val gtN = broadcast(gt.agg(count(lit(1)).as("gtn")))
      val e = Tables.embeddings(s, d)
      // FUSED truncation sweep: the three D legs shared one corpus —
      // but each leg re-scanned it with its own slice/norm/window/
      // semi-join/aggregate chain (3 corpus scans, ~18 driver jobs of
      // per-leg floor). One scan now carries all three sliced vectors
      // and norms per row, each probe×corpus pair computes its three
      // scores in one projection, and a single window partitioned by
      // (dims, probe) ranks all legs at once. Scores are the identical
      // dot_product/vec_norm kernels over the identical sliced arrays,
      // so every leg's ranking — and the hash — is unchanged.
      val dimsList = Seq(16, 32, 64)
      val t = e.select(col("vec_id") +: dimsList.flatMap(dd => Seq(
        expr(s"slice(embedding, 1, $dd)").as(s"te$dd"),
        expr(s"vec_norm(slice(embedding, 1, $dd))").as(s"tn$dd"))): _*)
      val probes = t.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id") +: dimsList.flatMap(dd =>
          Seq(col(s"te$dd").as(s"pe$dd"), col(s"tn$dd").as(s"pn$dd"))): _*)
      val pairScores = t
        .join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
          posexplode(array(dimsList.map(dd => expr(
            s"dot_product(pe$dd, te$dd) / (pn$dd * tn$dd)")): _*))
            .as(Seq("di", "score")))
      val wD = Window.partitionBy(col("di"), col("probe_id"))
        .orderBy(col("score").desc, col("neighbor_id"))
      val hits = pairScores.withColumn("rank", row_number().over(wD))
        .filter(col("rank") <= 5)
        .join(gt, Seq("probe_id", "neighbor_id"))
        .groupBy(col("di")).agg(count(lit(1)).as("n_hits"))
      import s.implicits._
      dimsList.zipWithIndex.map { case (dd, i) => (i, dd.toLong) }
        .toDF("di", "dims")
        .join(broadcast(hits), Seq("di"), "left")
        .crossJoin(gtN)
        .select(col("dims"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          expr("(coalesce(n_hits, 0L) * 1000000L) div gtn")
            .as("recall_ppm"))
        .orderBy(col("dims"))
    }, {
      def leg(dims: Int) =
        s"""t$dims AS (
           |  SELECT probe_id, e.vec_id AS neighbor_id, ROW_NUMBER() OVER (
           |      PARTITION BY probe_id
           |      ORDER BY ${sqlCosN("pe", "e.embedding", dims)} DESC,
           |        e.vec_id) AS rank
           |  FROM probes CROSS JOIN embeddings e
           |  WHERE e.vec_id <> probe_id),
           |h$dims AS (
           |  SELECT CAST($dims AS BIGINT) AS dims,
           |    CAST(COUNT(*) AS BIGINT) AS n_hits
           |  FROM gt JOIN (SELECT probe_id, neighbor_id FROM t$dims
           |                WHERE rank <= 5) x
           |    USING (probe_id, neighbor_id))""".stripMargin
      s"""WITH probes AS (
         |  SELECT vec_id AS probe_id, embedding AS pe
         |  FROM embeddings WHERE vec_id < 20),
         |bf AS (
         |  SELECT probe_id, e.vec_id AS neighbor_id, ROW_NUMBER() OVER (
         |      PARTITION BY probe_id
         |      ORDER BY ${sqlCos("pe", "e.embedding")} DESC, e.vec_id)
         |      AS rank
         |  FROM probes CROSS JOIN embeddings e
         |  WHERE e.vec_id <> probe_id),
         |gt AS MATERIALIZED (
         |  SELECT probe_id, neighbor_id FROM bf WHERE rank <= 5),
         |gtn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM gt),
         |${leg(16)},
         |${leg(32)},
         |${leg(64)}
         |SELECT dims, n_hits,
         |  (n_hits * 1000000) // (SELECT n FROM gtn) AS recall_ppm
         |FROM (SELECT * FROM h16 UNION ALL SELECT * FROM h32
         |      UNION ALL SELECT * FROM h64)
         |ORDER BY dims""".stripMargin
    })

  // ------------------------------------------------------------- q111
  // Semantic dedup decision (the SemDeDup shape, Abbas et al. '23):
  // within each embedding cluster, drop every vector that is
  // cosine-similar to a LOWER-id vector — keep/drop + provenance for the
  // whole corpus, the embedding-space analog of q64's text survivorship.
  // The within-cell all-pairs scan is the SemDeDup recipe itself — the
  // clustering exists precisely to bound the quadratic term; production
  // sizes k ~ sqrt(N) so each cell's pair count stays constant, and AQE
  // skew-split handles an oversized cell (join-side skew IS splittable,
  // unlike groupBy skew). Pairs carry ids + scores only; the corpus
  // joins the tiny dropped-set at the end (bodies never move twice).
  private val q111 = QueryDef.of(
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .withColumn("emb_norm", expr("vec_norm(embedding)"))
      val a = e.select(col("label"), col("vec_id").as("id1"),
        col("embedding").as("e1"), col("emb_norm").as("n1"))
      val b = e.select(col("label"), col("vec_id").as("id2"),
        col("embedding").as("e2"), col("emb_norm").as("n2"))
      val dropped = a.join(b, Seq("label"))
        .filter(col("id1") < col("id2"))
        .withColumn("score", expr("dot_product(e1, e2) / (n1 * n2)"))
        .filter(col("score") >= 0.3)
        .groupBy(col("id2").as("vec_id"))
        .agg(min(col("id1")).as("dup_of"))
      e.select(col("vec_id")).join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"),
          when(col("dup_of").isNull, 1).otherwise(0).as("keep"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
        .orderBy(col("vec_id"))
    },
    s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
       |dropped AS (
       |  SELECT b.vec_id AS vec_id, MIN(a.vec_id) AS dup_of
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE ${sqlCos("a.embedding", "b.embedding")} >= 0.3
       |  GROUP BY b.vec_id)
       |SELECT e.vec_id,
       |  CASE WHEN dup_of IS NULL THEN 1 ELSE 0 END AS keep,
       |  COALESCE(dup_of, -1) AS dup_of
       |FROM e LEFT JOIN dropped ON e.vec_id = dropped.vec_id
       |ORDER BY e.vec_id""".stripMargin)

  // ------------------------------------------------------------- q116
  // Dedup-method agreement matrix: the text pipeline's verified pairs
  // (q33 contract — Jaccard ≥ 0.5 on the shared LSH candidate index)
  // against the embedding pipeline's pairs (q111 contract — same cell,
  // cosine ≥ 0.3), as per-pair flags over their union — the eval a
  // pipeline owner runs before switching dedup methods (q106's recall
  // idea applied across modalities). Text pairs are restricted to docs
  // that HAVE embeddings (doc_id ≡ vec_id where present, the q89 corpus
  // rule) so both methods see the same population. Scale shape: both
  // pair sets carry ids only and reuse their pipelines' index/broadcast
  // layouts; the agreement FULL join touches just the two pair lists.
  private val q116 = QueryDef.of(
    (s, d) => {
      val sets = graft.Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("shset", expr(s"array_distinct(${Dedup.shinglesExpr})"))
        .select(col("doc_id"), col("shset"))
      val a = sets.withColumnsRenamed(Map("doc_id" -> "doc1", "shset" -> "sa"))
      val b = sets.withColumnsRenamed(Map("doc_id" -> "doc2", "shset" -> "sb"))
      val e = Tables.embeddings(s, d)
        .withColumn("emb_norm", expr("vec_norm(embedding)"))
      val ids = e.select(col("vec_id"))
      val textPairs = Dedup.candidates.get(s, d).join(a, "doc1").join(b, "doc2")
        .filter(size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))) >= 0.5)
        .join(ids.withColumnRenamed("vec_id", "doc1"), "doc1")
        .join(ids.withColumnRenamed("vec_id", "doc2"), "doc2")
        .select(col("doc1"), col("doc2"), lit(1).as("t"))
      val ea = e.select(col("label"), col("vec_id").as("doc1"),
        col("embedding").as("e1"), col("emb_norm").as("n1"))
      val eb = e.select(col("label"), col("vec_id").as("doc2"),
        col("embedding").as("e2"), col("emb_norm").as("n2"))
      val embPairs = ea.join(eb, Seq("label"))
        .filter(col("doc1") < col("doc2"))
        .filter(expr("dot_product(e1, e2) / (n1 * n2)") >= 0.3)
        .select(col("doc1"), col("doc2"), lit(1).as("m"))
      textPairs.join(embPairs, Seq("doc1", "doc2"), "full")
        .select(col("doc1"), col("doc2"),
          coalesce(col("t"), lit(0)).as("in_text"),
          coalesce(col("m"), lit(0)).as("in_embed"))
        .orderBy(col("doc1"), col("doc2"))
    },
    s"""${Dedup.sqlShingled},
       |${Dedup.sqlMinhash},
       |sets AS (SELECT doc_id, list_distinct(sh) AS shset FROM shingled),
       |tp AS (
       |  SELECT doc1, doc2 FROM cand
       |  JOIN sets a ON cand.doc1 = a.doc_id
       |  JOIN sets b ON cand.doc2 = b.doc_id
       |  WHERE CAST(len(list_filter(a.shset,
       |          x -> list_contains(b.shset, x))) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.shset, b.shset))) >= 0.5
       |    AND doc1 IN (SELECT vec_id FROM embeddings)
       |    AND doc2 IN (SELECT vec_id FROM embeddings)),
       |ep AS (
       |  SELECT a.vec_id AS doc1, b.vec_id AS doc2
       |  FROM embeddings a JOIN embeddings b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE ${sqlCos("a.embedding", "b.embedding")} >= 0.3)
       |SELECT COALESCE(tp.doc1, ep.doc1) AS doc1,
       |  COALESCE(tp.doc2, ep.doc2) AS doc2,
       |  CASE WHEN tp.doc1 IS NOT NULL THEN 1 ELSE 0 END AS in_text,
       |  CASE WHEN ep.doc1 IS NOT NULL THEN 1 ELSE 0 END AS in_embed
       |FROM tp FULL JOIN ep ON tp.doc1 = ep.doc1 AND tp.doc2 = ep.doc2
       |ORDER BY doc1, doc2""".stripMargin)

  // ------------------------------------------------------------- q178
  // Pairwise SOURCE similarity in EMBEDDING space — the semantic twin
  // of q175's lexical KMV overlap and q177's token-distribution TV:
  // each source is summarized by its integer mean centroid (the q42b
  // round(x·2^20) quantization, so per-dim sums are exact integer adds
  // at any partitioning), and every source pair gets a signed squared
  // cosine in ppm. cos² is RATIONAL in the centroid components —
  // cos²·sign = sign(dot)·dot²/(‖a‖²·‖b‖²) — so unlike cosine itself
  // (whose sqrt no two engines round identically) the output is
  // bit-exact integer arithmetic end to end. This is the "are these
  // two corpora semantically the same thing" readout a mixing team
  // reads next to the lexical matrix: lexically-disjoint but
  // semantically-identical source pairs are merge candidates that
  // q175/q177 can never flag.
  //
  // Scale shape: one (embeddings ⋈ documents) scan posexplodes to
  // (source, dim) partial sums — map-side combine makes the shuffle
  // |S|·64 rows; everything after (mean division, self-join on dim,
  // pair aggregate) runs on the sources-bounded centroid frame, which
  // is checkpoint-pinned so the two join sides don't recompute the
  // corpus agg. The MEAN (not the raw sum) is what keeps the arithmetic
  // SF-invariant: |m_d| ≤ 2^20·max|x|, so with max|x| ≤ 8 the ppm
  // numerator dot²·10⁶ ≤ 64²·2^(4·23)·10⁶ < 10^38 at ANY corpus size
  // (raw sums grow with docs-per-source and overflow HUGEINT near
  // sf10). Signed division is decomposed sign·(abs div) so engine
  // truncation direction can never matter.
  private val q178 = QueryDef.of(
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val cent = graft.Resources.retain(
        Tables.embeddings(s, d)
          .join(docs, col("vec_id") === col("doc_id"))
          .select(col("source"), posexplode(expr(
            """transform(embedding, x ->
              |  cast(round(cast(x as double) * 1048576, 0) as bigint))"""
              .stripMargin)).as(Seq("dim", "q")))
          .groupBy(col("source"), col("dim"))
          .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
          .select(col("source"), col("dim"), expr("sq div n").as("m"))
          .localCheckpoint())
      val norms = cent.groupBy(col("source"))
        .agg(sum(expr("m * m")).as("n2"))
      val pairDot = cent.select(
          col("source").as("source_a"), col("dim"), col("m").as("ma"))
        .join(cent.select(
          col("source").as("source_b"), col("dim"), col("m").as("mb")),
          Seq("dim"))
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(sum(expr("ma * mb")).as("dot"))
      pairDot
        .join(broadcast(norms.select(
          col("source").as("source_a"), col("n2").as("n2_a"))), "source_a")
        .join(broadcast(norms.select(
          col("source").as("source_b"), col("n2").as("n2_b"))), "source_b")
        .select(col("source_a"), col("source_b"), col("dot"),
          col("n2_a"), col("n2_b"),
          expr("""(case when dot < 0 then -1L else 1L end) *
                |cast((cast(abs(dot) as decimal(38,0)) * abs(dot) * 1000000)
                |  div greatest(cast(n2_a as decimal(38,0)) * n2_b, 1)
                |  as long)""".stripMargin).as("cos2s_ppm"))
        .orderBy(col("source_a"), col("source_b"))
    },
    """WITH ed AS MATERIALIZED (
      |  SELECT d.source, list_transform(e.embedding, x ->
      |      CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qv
      |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
      |cent AS MATERIALIZED (
      |  SELECT source, list_transform(range(1, 65), j ->
      |      CAST(list_sum(list_transform(vecs, v -> v[j])) AS BIGINT)
      |        // n) AS m
      |  FROM (SELECT source, list(qv) AS vecs,
      |          CAST(COUNT(*) AS BIGINT) AS n
      |        FROM ed GROUP BY source)),
      |nrm AS (
      |  SELECT source, list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(m, x -> x * x)), (acc, v) -> acc + v) AS n2
      |  FROM cent),
      |pr AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, 65), j -> a.m[j] * b.m[j])),
      |      (acc, v) -> acc + v) AS dot
      |  FROM cent a JOIN cent b ON a.source < b.source)
      |SELECT pr.source_a, pr.source_b, dot, na.n2 AS n2_a, nb.n2 AS n2_b,
      |  (CASE WHEN dot < 0 THEN -1 ELSE 1 END) *
      |    CAST((CAST(abs(dot) AS HUGEINT) * abs(dot) * 1000000)
      |      // GREATEST(CAST(na.n2 AS HUGEINT) * nb.n2, 1) AS BIGINT)
      |    AS cos2s_ppm
      |FROM pr
      |JOIN nrm na ON na.source = pr.source_a
      |JOIN nrm nb ON nb.source = pr.source_b
      |ORDER BY pr.source_a, pr.source_b""".stripMargin)

  // ------------------------------------------------------------- q184
  // IVF CELL-BALANCE audit — the index-health diagnostic an ANN team
  // runs after (re)training: per cell, member count, corpus share in
  // ppm, exact mean squared distance to the assigned centroid, and an
  // overload flag at 2× the ideal share. Cell skew is the operational
  // IVF metric (every probe landing in an overloaded cell scans it
  // whole — max share bounds tail latency; a drifted corpus shows up
  // here before recall@k moves). Distances are doubles (integer
  // features against double-mean centroids) folded left-associatively
  // in the same order by both engines, then EXPLICITLY round()ed —
  // half-away-from-zero on both — before the integer cast (the
  // IvfIndex.cellStats contract: never trust double→decimal vs
  // double→HUGEINT implicit conversions to tie-break .5 identically),
  // summed as decimal(38,0) — order-invariant, so the DuckDB replay of
  // the FULL train+assign+distance chain (shared q42b generators)
  // matches bit-for-bit.
  //
  // Scale shape: one corpus pass assigns and scores simultaneously
  // (the argmin struct carries its own distance out — no second
  // centroid join); the stats frame is nCells rows, the totals ride a
  // broadcast 1-row cross join. Training is the q42b offline
  // artifact's own loop (nCells-row frames per round).
  private val q184 = QueryDef.of(
    (s, d) => {
      val st = graft.Resources.retain(
        graft.operators.IvfIndex
          .cellStats(Tables.embeddings(s, d), KCells, KIters)
          .localCheckpoint())
      st.crossJoin(broadcast(st.agg(sum(col("n_vecs")).as("tot"))))
        .select(col("cell"), col("n_vecs"),
          expr("(n_vecs * 1000000L) div tot").as("share_ppm"),
          expr("cast(sum_sq div n_vecs as long)").as("mean_sqdist"),
          expr(s"""case when n_vecs * $KCells > tot * 2 then 1L
                  |else 0L end""".stripMargin).as("overloaded"))
        .orderBy(col("cell"))
    },
    s"""WITH qz AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |${q42bTrain._1},
       |${sqlKmAssign("af", "qz", q42bTrain._2, 64)},
       |ad AS (
       |  SELECT af.cell,
       |    CAST(round(${sqlKmDist("af.qv", "i.c", 64)}) AS HUGEINT) AS dq
       |  FROM af JOIN ${q42bTrain._2} i USING (cell)),
       |st AS (
       |  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |    SUM(dq) AS sum_sq
       |  FROM ad GROUP BY cell),
       |tt AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS tot FROM st)
       |SELECT cell, n_vecs,
       |  (n_vecs * 1000000) // tot AS share_ppm,
       |  CAST(sum_sq // n_vecs AS BIGINT) AS mean_sqdist,
       |  CASE WHEN n_vecs * $KCells > tot * 2 THEN CAST(1 AS BIGINT)
       |       ELSE CAST(0 AS BIGINT) END AS overloaded
       |FROM st CROSS JOIN tt ORDER BY cell""".stripMargin)

  // ------------------------------------------------------------ q198
  // IVF PROBE-BUDGET sweep — recall@5 vs nprobe ∈ {1, 2, 4}, the
  // operating curve of every IVF deployment (q196 is the same table
  // for LSH bands; this is it for cell fan-out): per probe budget,
  // how much of the exact top-5 the cell-pruned scan recovers and how
  // many candidate rows it had to score — recall bought per row
  // scanned, the number that sets nprobe in production. Cells are
  // ranked per probe by the trainer's own distance kernel against
  // centroids RECOMPUTED FROM THE SERVING ARTIFACT (the persisted
  // q42b assignment — one exact-integer per-dim sum per cell, then a
  // single double division; the artifact alone determines the sweep,
  // no training-time state needed).
  //
  // Scale shape: centroid recompute is one (cell, dim)-keyed aggregate
  // over the corpus (map-side combined, KCells×64 rows out); the
  // ranked-cell table is probes×KCells (bounded, broadcast); each
  // budget's candidate fetch is a cell-keyed join against the
  // partitioned assignment — the partition-pruned read an IVF index
  // exists for — and only candidate rows are ever scored. All counts
  // integer; the oracle replays training, assignment, the recompute,
  // the per-probe cell ranking, and every scored pair bit-for-bit.
  private val SweepProbes = Seq(1, 2, 4)
  private val q198 = QueryDef.of(
    (s, d) => {
      val assigned = s.read.parquet(ensureDetIndex(s, d))
        .select(col("vec_id"), col("cell").cast("int").as("cell"))
      val qv = Tables.embeddings(s, d).select(col("vec_id"), expr(
        """transform(embedding,
          |  x -> cast(round(cast(x as double) * 1048576, 0) as bigint))"""
          .stripMargin).as("qv"))
      val cents = assigned.join(qv, "vec_id")
        .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x")).as("sm"), count(lit(1)).as("n"))
        .groupBy(col("cell"))
        .agg(expr(
          """transform(sort_array(collect_list(struct(pos,
            |  cast(sm as double) / cast(n as double) AS m))), t -> t.m)"""
            .stripMargin).as("c"))
      val centArr = cents.groupBy()
        .agg(expr("sort_array(collect_list(struct(cell, c)))").as("cs"))
      val rankedCells = qv.filter(col("vec_id") < 20)
        .crossJoin(broadcast(centArr))
        .select(col("vec_id").as("probe_id"), expr(
          s"""transform(array_sort(transform(cs, cc -> struct(
             |  ${graft.operators.IvfIndex.distSql("qv", "cc.c")} AS dist,
             |  cc.cell AS cell))), t -> t.cell)""".stripMargin)
          .as("cells_ranked"))
      val e = Tables.embeddings(s, d)
        .withColumn("emb_norm", expr("vec_norm(embedding)"))
      val pv = e.filter(col("vec_id") < 20).select(
        col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
        col("emb_norm").as("probe_norm"))
      val gt = exactTop5.get(s, d)
      // FUSED sweep: candidate sets are ranked-cell PREFIXES, so the
      // np ∈ {1,2,4} legs nest — fetch + score candidates ONCE at the
      // LARGEST budget, carrying each candidate's per-probe cell rank,
      // and every smaller budget is a filter over that pinned scored
      // frame (bounded: probes × candidates-in-4-cells rows). The
      // un-fused form re-ran the cell-keyed fetch and the scoring
      // joins per leg — 3× the corpus-side work for byte-identical
      // output (a candidate's score doesn't depend on the budget that
      // admitted it). localCheckpoint pins the shared frame so the
      // three legs re-read instead of re-join (the repo's shared-
      // artifact discipline; at 100 TB this is the difference between
      // one partition-pruned index read and three).
      val maxNp = SweepProbes.max
      val sel = rankedCells.select(col("probe_id"),
        posexplode(expr(s"slice(cells_ranked, 1, $maxNp)"))
          .as(Seq("r0", "cell")))
        .select(col("probe_id"), (col("r0") + 1).as("cell_rank"),
          col("cell"))
      val cand = assigned.join(broadcast(sel), "cell")
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"), col("cell_rank"))
      val scored = graft.Resources.retain(cand
        .join(e.select(col("vec_id"), col("embedding"), col("emb_norm")),
          "vec_id")
        .join(broadcast(pv), "probe_id")
        .withColumn("score", expr(
          "dot_product(probe_emb, embedding) / (probe_norm * emb_norm)"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
          col("cell_rank"), col("score"))
        .localCheckpoint())
      // The three budget legs share one pinned scored frame; their
      // remaining per-leg work (top-5 window, ground-truth hit count,
      // scanned-row count) is FUSED into single np-keyed passes —
      // every scored row explodes into the budgets that admit it
      // (budgets nest: cell_rank ≤ np), so one window partitioned by
      // (np, probe) ranks all three legs and two np-keyed aggregates
      // replace 3×(window + join + 2 aggregates) = ~20 driver jobs of
      // per-leg scheduling floor. Output is byte-identical: the same
      // rows rank the same way inside each np slice, the same gt rows
      // match, the same candidates are counted.
      val legRows = scored.select(col("probe_id"), col("neighbor_id"),
        col("score"),
        explode(expr(s"filter(array(${SweepProbes.mkString(",")}), " +
          "np -> np >= cell_rank)")).as("np"))
      val wNp = Window.partitionBy(col("np"), col("probe_id"))
        .orderBy(col("score").desc, col("neighbor_id"))
      // scanned-row and ground-truth-hit counts fold out of ONE pass
      // over the ranked frame: gt is probes×5 rows, so membership is a
      // broadcast flag join, and hits = flagged rows at rank ≤ 5
      // ((probe, neighbor) is unique within an np slice, so the count
      // equals the former top5 ⋈ gt count exactly)
      val legStats = legRows.withColumn("rank", row_number().over(wNp))
        .join(broadcast(gt.withColumn("ingt", lit(1))),
          Seq("probe_id", "neighbor_id"), "left")
        .groupBy(col("np"))
        .agg(count(lit(1)).as("scanned_rows"),
          sum(when(col("rank") <= 5 && col("ingt").isNotNull, 1L)
            .otherwise(0L)).as("n_hits"))
      val gtN = broadcast(
        gt.agg(countDistinct(col("probe_id")).as("n_probes")))
      import s.implicits._
      SweepProbes.toDF("np")
        .join(broadcast(legStats), Seq("np"), "left")
        .crossJoin(gtN)
        .select(col("np").cast("long").as("nprobe"), col("n_probes"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          expr("(coalesce(n_hits, 0L) * 1000000L) div " +
            "greatest(n_probes * 5, 1L)").as("recall_ppm"),
          coalesce(col("scanned_rows"), lit(0L)).as("scanned_rows"))
        .orderBy(col("nprobe"))
    }, {
      def npBlock(np: Int): String =
        s"""cand_$np AS (
           |  SELECT rc.probe_id, af.vec_id AS neighbor_id
           |  FROM rankedcells rc JOIN af ON af.cell = rc.cell
           |  WHERE rc.r <= $np AND af.vec_id <> rc.probe_id),
           |top_$np AS (
           |  SELECT probe_id, neighbor_id FROM (
           |    SELECT c.probe_id, c.neighbor_id, ROW_NUMBER() OVER (
           |        PARTITION BY c.probe_id
           |        ORDER BY ${sqlCos("p.pe", "e.embedding")} DESC,
           |          c.neighbor_id) AS rank
           |    FROM cand_$np c
           |    JOIN embeddings e ON c.neighbor_id = e.vec_id
           |    JOIN probes p ON c.probe_id = p.probe_id)
           |  WHERE rank <= 5),
           |row_$np AS (
           |  SELECT CAST($np AS BIGINT) AS nprobe,
           |    (SELECT CAST(COUNT(DISTINCT probe_id) AS BIGINT) FROM bf5)
           |      AS n_probes,
           |    (SELECT CAST(COUNT(*) AS BIGINT) FROM bf5 g
           |       JOIN top_$np t USING (probe_id, neighbor_id)) AS n_hits,
           |    (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_$np)
           |      AS scanned_rows)""".stripMargin
      s"""WITH qz AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT))
         |      AS qv
         |  FROM embeddings),
         |${q42bTrain._1},
         |${sqlKmAssign("af", "qz", q42bTrain._2, 64)},
         |${sqlKmUpdate("cfin", "af", 64)},
         |probes AS MATERIALIZED (
         |  SELECT e.vec_id AS probe_id, qz.qv AS pqv, e.embedding AS pe
         |  FROM embeddings e JOIN qz ON e.vec_id = qz.vec_id
         |  WHERE e.vec_id < 20),
         |rankedcells AS MATERIALIZED (
         |  SELECT probe_id, cell, ROW_NUMBER() OVER (
         |      PARTITION BY probe_id ORDER BY dist, cell) AS r
         |  FROM (SELECT probe_id, i.cell,
         |          ${sqlKmDist("pqv", "i.c", 64)} AS dist
         |        FROM probes CROSS JOIN cfin i)),
         |bf5 AS MATERIALIZED (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT probe_id, e.vec_id AS neighbor_id, ROW_NUMBER() OVER (
         |        PARTITION BY probe_id
         |        ORDER BY ${sqlCos("pe", "e.embedding")} DESC, e.vec_id)
         |      AS rank
         |    FROM probes CROSS JOIN embeddings e
         |    WHERE e.vec_id <> probe_id)
         |  WHERE rank <= 5),
         |${SweepProbes.map(npBlock).mkString(",\n")}
         |SELECT nprobe, n_probes, n_hits,
         |  (n_hits * 1000000) // GREATEST(n_probes * 5, 1) AS recall_ppm,
         |  scanned_rows
         |FROM (${SweepProbes.map(np => s"SELECT * FROM row_$np")
          .mkString(" UNION ALL ")})
         |ORDER BY nprobe""".stripMargin
    })

  // ------------------------------------------------------------ q197
  // kNN LABEL PURITY — the cheap cousin of linear-probe accuracy and
  // the standard "is this embedding space learnable" eval: for a
  // deterministic 1-in-25 probe sample, the fraction of each probe's
  // 10 nearest neighbors (exact cosine, the q40 contract) that share
  // the probe's label, reported per label plus the *ALL* row (q174
  // convention). High purity ⟹ a kNN classifier works ⟹ the space
  // separates the classes; a label whose purity sits at chance is
  // invisible to retrieval no matter how good recall@k is — this is
  // the readout that says whether q106's recall MEANS anything.
  //
  // Scale shape: the probe sample is bounded and broadcasts (q40's
  // probe discipline — one corpus scan, one codegen'd dot fold per
  // pair); the label attach joins are id-keyed on the probes×k
  // neighbor frame; purity is integer ppm. An offline eval, run per
  // corpus snapshot next to the stored ground-truth artifact.
  private val q197 = QueryDef.of(
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val neigh = topK(scored(s, d, "vec_id % 25 = 0", labelRel = "any"),
        10)
      val perProbe = neigh
        .join(e.select(col("vec_id").as("probe_id"),
          col("label").as("probe_label")), "probe_id")
        .join(e.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_label")), "neighbor_id")
        .groupBy(col("probe_id"), col("probe_label"))
        .agg(sum(when(col("n_label") === col("probe_label"), 1L)
          .otherwise(0L)).as("hits"), count(lit(1)).as("k"))
      val perLabel = perProbe
        .groupBy(col("probe_label").cast("string").as("label"))
        .agg(count(lit(1)).as("n_probes"), sum(col("hits")).as("n_hits"),
          sum(col("k")).as("n_neighbors"))
      val all = perProbe
        .agg(count(lit(1)).as("n_probes"), sum(col("hits")).as("n_hits"),
          sum(col("k")).as("n_neighbors"))
        .select(lit("*ALL*").as("label"), col("n_probes"), col("n_hits"),
          col("n_neighbors"))
      perLabel.unionByName(all)
        .withColumn("purity_ppm",
          expr("(n_hits * 1000000L) div greatest(n_neighbors, 1L)"))
        .orderBy(col("label"))
    },
    s"""WITH probes AS (
       |  SELECT vec_id AS probe_id, label AS probe_label, embedding AS pe
       |  FROM embeddings WHERE vec_id % 25 = 0),
       |sc AS (
       |  SELECT probe_id, probe_label, e.vec_id AS neighbor_id,
       |    e.label AS n_label,
       |    ${sqlCos("pe", "e.embedding")} AS score
       |  FROM probes CROSS JOIN embeddings e
       |  WHERE e.vec_id <> probe_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |    ORDER BY score DESC, neighbor_id) AS rank
       |  FROM sc),
       |pp AS (
       |  SELECT probe_id, probe_label,
       |    SUM(CASE WHEN n_label = probe_label THEN 1 ELSE 0 END) AS hits,
       |    COUNT(*) AS k
       |  FROM ranked WHERE rank <= 10 GROUP BY 1, 2),
       |g AS (
       |  SELECT CAST(probe_label AS VARCHAR) AS label,
       |    CAST(COUNT(*) AS BIGINT) AS n_probes,
       |    CAST(SUM(hits) AS BIGINT) AS n_hits,
       |    CAST(SUM(k) AS BIGINT) AS n_neighbors
       |  FROM pp GROUP BY 1
       |  UNION ALL
       |  SELECT '*ALL*', CAST(COUNT(*) AS BIGINT),
       |    CAST(SUM(hits) AS BIGINT), CAST(SUM(k) AS BIGINT)
       |  FROM pp)
       |SELECT label, n_probes, n_hits, n_neighbors,
       |  (n_hits * 1000000) // GREATEST(n_neighbors, 1) AS purity_ppm
       |FROM g ORDER BY label""".stripMargin)

  val defs: Map[String, QueryDef] = Map(
    "q198_ivf_probe_sweep" -> q198,
    "q197_knn_label_purity" -> q197,
    "q184_ivf_balance" -> q184,
    "q178_centroid_similarity" -> q178,
    "q116_dedup_agreement" -> q116,
    "q111_semantic_dedup" -> q111,
    "q106_ann_recall" -> q106,
    "q187_matryoshka_recall" -> q187,
    "q189_ivf_retrain_churn" -> q189,
    "q42b_ann_ivf_deterministic" -> q42b,
    "q144_cluster_topics" -> q144,
    "q151_modularity" -> q151,
    "q102_random_projection" -> q102,
    "q44_ann_ivfpq" -> q44,
    "q87_embed_dim_stats" -> q87,
    "q71_int8_quantization" -> q71,
    "q34_embed_neardup" -> q34,
    "q40_ann_bruteforce" -> q40,
    "q138_hard_negatives" -> q138,
    "q41_ann_ivf" -> q41,
    "q42_ann_ivf_kmeans" -> q42,
    "q43_ann_lsh_hyperplane" -> q43,
    "q43b_ann_lsh_multiprobe" -> q43b)
}
