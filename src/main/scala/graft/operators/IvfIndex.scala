package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** IVF (inverted-file) approximate nearest neighbor index: k-means
  * centroids partition the corpus into cells; a query scans only the
  * `nProbe` cells whose centroids are nearest.
  *
  * This is the trained-centroid upgrade of q41 (which probes the fixture's
  * provided `label` as its cell). Scan cost per probe drops from O(corpus)
  * to O(corpus × nProbe / nCells); recall is the dial.
  *
  * The build (an iterative, driver-coordinated k-means job) and the probe
  * are SEPARATE lifecycles: at 100 TB the index is built once as an
  * offline batch job ([[ensure]]/[[persist]] — corpus written
  * `partitionBy("cell")` plus a tiny centroid table) and every query
  * probes the prebuilt files ([[searchPrebuilt]]), where the probe's cell
  * set is pushed as a static partition filter so the scan touches only
  * nProbe cell directories. Training inside the per-query path (the
  * round-1 shape) is exactly what this module exists to avoid.
  *
  * Scoring uses the engine's codegen'd expressions (dot_product/vec_norm)
  * — identical kernels to the exact path, so IVF(nProbe = nCells) equals
  * brute force exactly (spec-pinned).
  */
object IvfIndex {

  /** Corpus (vec_id, embedding) → (vec_id, embedding, cell) plus the
    * centroid table (cell, centroid). Deterministic under a fixed seed. */
  def build(embeddings: DataFrame, nCells: Int, seed: Long = 42L)
      : (DataFrame, DataFrame) = {
    val spark = embeddings.sparkSession
    val withVec = embeddings.withColumn("features",
      array_to_vector(col("embedding").cast("array<double>")))
    val model = new KMeans().setK(nCells).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("cell")
      .fit(withVec)
    val assigned = model.transform(withVec).drop("features")
    val centroids = {
      import spark.implicits._
      model.clusterCenters.zipWithIndex.toSeq
        .map { case (c, i) => (i, c.toArray.map(_.toFloat)) }
        .toDF("cell", "centroid")
    }
    (assigned, centroids)
  }

  /** Write the index to `dir`: the assigned corpus partitioned BY cell
    * (probe-time partition pruning reads only the probed cells' files)
    * and the centroid table (nCells rows — always broadcastable). */
  def persist(assigned: DataFrame, centroids: DataFrame, dir: String): Unit = {
    assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/corpus")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Read a persisted index back. `cell` comes back as a partition column
    * — filters on it prune at file-listing time. */
  def load(spark: SparkSession, dir: String): (DataFrame, DataFrame) = (
    spark.read.parquet(s"$dir/corpus"),
    spark.read.parquet(s"$dir/centroids"))

  /** Collect a SMALL frame once and rebind it as a LocalRelation: a
    * broadcast over a LocalRelation materializes driver-side with no
    * scan job, where the same broadcast over a parquet frame launched a
    * listing + 1-task read per QUERY (the IVF family re-broadcasts its
    * nCells-row centroid tables in every probe — pure per-query job
    * floor at bench, and at scale the centroid table is still tiny by
    * construction). */
  private[operators] val LocalizeMaxRows = 65536
  private[operators] def localize(df: DataFrame): DataFrame = {
    val rows = df.collect()
    // hard guard on the "tiny by construction" claim: localize is for
    // centroid/codebook tables (≤ nCells ≤ 256 rows today); a caller
    // handing it a data-sized frame must fail loudly, not OOM the
    // driver at scale
    require(rows.length <= LocalizeMaxRows,
      s"localize() is for small control tables; got ${rows.length} rows")
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** [[load]] with the CENTROID side localized, memoized per
    * (session, dir) — probe queries hit the memo, the one collect runs
    * at warmup. Index dirs are immutable once written (ensure() never
    * rewrites an existing dir), so the memo cannot go stale; it clears
    * with Resources.releaseAll like the other per-session memos. */
  private val localLoadCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (DataFrame, DataFrame)]
  private val localLoadHook = new java.util.concurrent.atomic.AtomicBoolean
  def loadLocal(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    if (localLoadHook.compareAndSet(false, true))
      graft.Resources.onReleaseAll(() => localLoadCache.clear())
    localLoadCache.getOrElseUpdate((spark, dir), {
      val (corpus, cents) = load(spark, dir)
      (corpus, localize(cents))
    })
  }

  /** Build-or-load: the offline-job entry point. Builds + persists on
    * first call for a given `dir` ([[graft.Artifact.publish]]: a build
    * cut off between its two writes is never served), loads thereafter
    * — callers' query paths never retrain. */
  def ensure(embeddings: DataFrame, nCells: Int, dir: String,
      seed: Long = 42L): (DataFrame, DataFrame) = {
    graft.Artifact.publish(dir) { stage =>
      val (assigned, centroids) = build(embeddings, nCells, seed)
      persist(assigned, centroids, stage)
    }
    // serve the memoized view: a fresh load() fires two schema-read
    // jobs per call — pure floor when callers ensure() per query
    loadLocal(embeddings.sparkSession, dir)
  }

  /** Top-k cosine neighbors for each probe, scanning only nProbe cells.
    * Cell restriction is expressed as a join — correct anywhere, but
    * pruning relies on the optimizer; prefer [[searchPrebuilt]] over a
    * persisted index. */
  def search(assigned: DataFrame, centroids: DataFrame, probes: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    val probeCells = nearestCells(centroids, probes, nProbe)
    score(assigned, probeCells, k)
  }

  /** Probe a PREBUILT (persisted, cell-partitioned) index. The distinct
    * probe cells are collected first — a bounded control-plane read of at
    * most probes × nProbe ints — and pushed as a static `cell IN (...)`
    * filter, which the parquet source turns into partition pruning: only
    * the probed cell directories are listed or read. */
  def searchPrebuilt(spark: SparkSession, dir: String, probes: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    val (assigned, centroids) = loadLocal(spark, dir)
    val probeCells = nearestCells(centroids, probes, nProbe)
    val cells = probeCells.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    score(assigned.filter(col("cell").isin(cells: _*)), probeCells, k)
  }

  /** Nearest nProbe centroids per probe (tiny broadcast cross:
    * probes × nCells rows, both sides small by construction; a
    * [[loadLocal]] centroid side is a LocalRelation, whose broadcast
    * materializes driver-side with no job). */
  private def nearestCells(centroids: DataFrame, probes: DataFrame,
      nProbe: Int): DataFrame = {
    probes
      .crossJoin(broadcast(centroids))
      .withColumn("c_score", expr("cosine_sim(probe_emb, centroid)"))
      .withColumn("c_rank", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("c_score").desc, col("cell"))))
      .filter(col("c_rank") <= nProbe)
      .select(col("probe_id"), col("probe_emb"), col("cell"))
  }

  /** Bit-reproducible Lloyd's k-means over 2^20-quantized embeddings —
    * the oracle-exact twin of [[build]] (q42b). Spark ML's k-means|| is
    * seeded but its float centroid sums fold in partition order, so no
    * external engine can replay it; this trainer removes every
    * order-dependence instead of pinning one:
    *
    *  - features quantize to `round(x * 2^20)` longs (round-away-from-
    *    zero — identical in Spark and DuckDB, the q71 precedent), so
    *    centroid sums are EXACT integer adds: associative, commutative,
    *    partition-count-invariant;
    *  - init is the `nCells` vectors with smallest md5(vec_id) — a
    *    deterministic pseudo-random draw both engines order identically;
    *  - centroid means are one correctly-rounded double division of two
    *    exact integers; distances fold (x_d - c_d)^2 in dimension order
    *    on both engines; argmin ties break on cell id.
    *
    * Scale shape: init is a distributed top-nCells (TakeOrdered), never
    * a global sort; each iteration is one broadcast of nCells×dims
    * doubles, one SHUFFLE-FREE assign pass (argmin folded per row over
    * the broadcast centroid array), and one posexplode + (cell, dim)
    * integer-sum shuffle whose map-side partials collapse to
    * nCells×dims rows. No collect of vectors, no order-sensitive float
    * math anywhere.
    *
    * @return (vec_id, cell) assignment under the final centroids. */
  def trainDeterministic(embeddings: DataFrame, nCells: Int, iters: Int)
      : DataFrame = {
    val cents = trainCentroids(embeddings, nCells, iters)
    quantize(embeddings)
      .crossJoin(broadcast(centroidArray(cents, "cs")))
      .withColumn("cell", expr(argminCell("cs", "qv")))
      .select(col("vec_id"), col("cell"))
  }

  /** Train on `trainSet`, assign `corpus` — the RETRAIN-PREVIEW shape
    * (q189): a candidate generation is trained on a corpus snapshot
    * and previewed against everything currently indexed before a
    * rebuild is committed. Same bit-reproducible trainer and argmin
    * as [[trainDeterministic]] (which is the `trainSet == corpus`
    * special case). Returns (vec_id, cell). */
  def trainAssign(trainSet: DataFrame, corpus: DataFrame, nCells: Int,
      iters: Int): DataFrame = {
    val cents = trainCentroids(trainSet, nCells, iters)
    quantize(corpus)
      .crossJoin(broadcast(centroidArray(cents, "cs")))
      .withColumn("cell", expr(argminCell("cs", "qv")))
      .select(col("vec_id"), col("cell"))
  }

  /** round(x·2^20) feature quantization — the shared contract between
    * trainer, encoder, and the DuckDB oracle replay. */
  private[operators] def quantize(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), expr(
      "transform(embedding, x -> cast(round(cast(x as double) * 1048576, 0) as bigint))")
      .as("qv"))

  /** Fold the (tiny) centroid table into ONE row holding a cell-sorted
    * (cell, c) struct array — the broadcast side of every assign pass. */
  private[operators] def centroidArray(cents: DataFrame, as: String): DataFrame =
    cents.groupBy()
      .agg(expr("sort_array(collect_list(struct(cell, c)))").as(as))

  /** [[centroidArray]] collected once and rebound as a LocalRelation,
    * memoized by (session, cents-frame identity, alias): every
    * broadcast of the aggregate form launched a 1-task job per QUERY
    * (the aggregate must execute before the broadcast materializes);
    * the localized form broadcasts driver-side with no job. ONLY for
    * cents frames that are themselves memoized (loadLocal dirs) — a
    * per-query cents frame would grow the memo unboundedly. */
  private val centArrCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, DataFrame, String), DataFrame]
  private val centArrHook = new java.util.concurrent.atomic.AtomicBoolean
  private[operators] def centroidArrayLocal(cents: DataFrame,
      as: String): DataFrame = {
    if (centArrHook.compareAndSet(false, true))
      graft.Resources.onReleaseAll(() => centArrCache.clear())
    centArrCache.getOrElseUpdate((cents.sparkSession, cents, as),
      localize(centroidArray(cents, as)))
  }

  /** Exact-integer squared L2 fold between feature expr `fv` (bigint
    * array) and centroid expr `cv` (double array), in dimension order —
    * the replayable distance kernel. */
  private[graft] def distSql(fv: String, cv: String): String =
    s"""aggregate(zip_with($fv, $cv, (x, y) ->
       |  (cast(x as double) - y) * (cast(x as double) - y)),
       |  cast(0.0 as double), (acc, v) -> acc + v)""".stripMargin

  /** Shuffle-free argmin over centroid-array column `cs` for feature
    * expr `fv`: struct ordering IS the (dist, cell) tie-break, so this
    * equals a rank-1 window without moving the corpus. Native
    * [[graft.functions.KmNearest]] kernel (bit-identical to the
    * array_min(transform(...distSql...)) HOF chain it replaced — the
    * interpreted per-cell×dim lambdas were the trainer's hot loop;
    * KmNearestSpec pins equality including tie and null shapes). */
  private[operators] def argminCell(cs: String, fv: String): String =
    s"km_nearest($cs, $fv).cell"

  /** The training loop behind [[trainDeterministic]]: returns the FINAL
    * (cell, c) centroid table as a retained localCheckpoint frame —
    * callers must release via [[graft.Resources]]. Exposed so composite
    * indexes (product quantization) can train per-subspace codebooks. */
  private[operators] def trainCentroids(embeddings: DataFrame, nCells: Int,
      iters: Int): DataFrame = {
    val spark = embeddings.sparkSession
    val q = quantize(embeddings)
    // orderBy+limit → TakeOrderedAndProject: per-partition top-nCells
    // then a driver merge of nCells rows — the full corpus is never
    // globally sorted. The unpartitioned row_number window after it
    // ranks only the nCells surviving rows.
    val init = q
      .withColumn("hk", md5(col("vec_id").cast("string")))
      .orderBy(col("hk"), col("vec_id"))
      .limit(nCells)
      .withColumn("r", row_number().over(
        Window.orderBy(col("hk"), col("vec_id"))))
      .select((col("r") - 1).cast("int").as("cell"),
        expr("transform(qv, x -> cast(x as double))").as("c"))

    // Zero-shuffle argmin: see [[argminCell]].
    def assign(cents: DataFrame): DataFrame =
      q.crossJoin(broadcast(centroidArray(cents, "cs")))
        .withColumn("cell", expr(argminCell("cs", "qv")))
        .select(col("vec_id"), col("qv"), col("cell"))

    def update(assigned: DataFrame): DataFrame =
      assigned.select(col("cell"), posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .groupBy(col("cell"))
        .agg(expr(
          """transform(sort_array(collect_list(struct(pos,
            |  cast(s as double) / cast(n as double) AS m))), t -> t.m)"""
            .stripMargin).as("c"))

    var cents = init
    var i = 0
    while (i < iters) {
      // localCheckpoint truncates the per-iteration lineage (the same
      // plan-doubling hazard as ConnectedComponents) and materializes
      // the tiny nCells×dims frame so each round is one job; a local
      // checkpoint is NOT recomputable, so the previous round's blocks
      // release only after the next round materialized, and the FINAL
      // frame stays alive (retained) until the caller consumed the lazy
      // assignment and the session owner releases
      val next = update(assign(cents)).localCheckpoint(true)
      // only rounds ≥ 1: round 0's `cents` is the caller-lineage init
      // frame, and releaseCheckpoint walks EVERY LogicalRDD leaf in a
      // plan — a checkpoint-backed embeddings input would lose its
      // blocks here (the ConnectedComponents round-0 lesson)
      if (i > 0) graft.Resources.releaseCheckpoint(cents)
      cents = next
      i += 1
    }
    graft.Resources.retain(cents)
    cents
  }

  /** Index-balance diagnostic: per-cell member count and sum of squared
    * distances to the assigned centroid, from one deterministic train +
    * assign pass. Features are exact integers but CENTROIDS are double
    * means (integer sum / n), so per-dim squared diffs are generally
    * NON-integer; cross-engine parity rests on (a) the left-associative
    * IEEE fold being evaluated in the same order by both engines (the
    * house distSql/sqlKmDist contract) and (b) an EXPLICIT round() to
    * the nearest integer before the integer cast — both Spark's round
    * (HALF_UP) and DuckDB's round (std::round) take ties away from
    * zero, so the rounded value is identical even on exact .5
    * fractions, where a bare double→decimal vs double→HUGEINT cast
    * pair would be trusting two engines' implicit conversions to
    * agree. The rounded sum stays under 2^53 per vector, so the
    * decimal sum is order- and partition-invariant. The cell-count
    * skew this reports is THE operational IVF health metric: an
    * overloaded cell is scanned by every probe that lands in it, so
    * max-share directly bounds tail latency. */
  def cellStats(embeddings: DataFrame, nCells: Int, iters: Int)
      : DataFrame = {
    val cents = trainCentroids(embeddings, nCells, iters)
    quantize(embeddings)
      .crossJoin(broadcast(centroidArray(cents, "cs")))
      .withColumn("m", expr("km_nearest(cs, qv)"))
      .select(expr("m.cell").as("cell"),
        expr("cast(round(m.dist) as decimal(38,0))").as("dq"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("dq")).as("sum_sq"))
  }

  /** Scan the (already cell-restricted) corpus against the probe cells. */
  private def score(corpus: DataFrame, probeCells: DataFrame, k: Int)
      : DataFrame = {
    probeCells
      .join(corpus, Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("score", expr("cosine_sim(probe_emb, embedding)"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("score").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("score"), col("rank"))
  }
}
