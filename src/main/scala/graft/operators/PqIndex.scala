package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Product-quantization ANN index (IVF-ADC, no-residual variant) — the
  * canonical 100 TB vector-search layout: a coarse quantizer prunes the
  * corpus to nProbe cells, and within them distances are approximated
  * from per-subspace codebooks, so the scan touches M small ints per
  * vector instead of the full float embedding (here 4 bytes of codes vs
  * 256 bytes of floats — a 64× scan-width cut before any pruning).
  *
  * Every stage is built on [[IvfIndex.trainCentroids]]'s bit-reproducible
  * quantized-Lloyd's trainer (exact integer sums, md5 init, (dist, cell)
  * tie-breaks), so the ENTIRE index — coarse cells, all M codebooks,
  * every code, every ADC distance — is replayable in external SQL and
  * oracle-checked bit-for-bit (q44). Residual encoding (PQ over
  * `x - coarse_centroid`) would improve recall but makes the features
  * engine-internal doubles; the no-residual variant keeps the exact
  * integer feature contract. Documented trade-off, not an omission.
  *
  * Scale shape:
  *  - [[train]] is the offline job: 1 + M independent trainer runs, each
  *    a handful of narrow-assign + integer-sum-shuffle rounds.
  *  - [[encode]] is ONE narrow pass: all codebooks arrive as broadcast
  *    struct arrays and each vector computes its coarse cell + M codes
  *    with shuffle-free argmin folds. At 100 TB the codes frame is what
  *    gets persisted (partitionBy(cell), like [[IvfIndex.persist]]).
  *  - [[search]] broadcasts the probes (each carrying its nProbe cell
  *    list and M asymmetric-distance lookup maps); the codes frame is
  *    scanned once, never shuffled — per pair the score is M map
  *    lookups and M-1 adds, no float-vector math at all.
  */
object PqIndex {

  /** Trained codebooks: the coarse quantizer plus one (cell, c) table
    * per subspace. All are retained localCheckpoint frames — release
    * via [[graft.Resources.releaseAll]] when done. */
  case class Codebooks(coarse: DataFrame, subs: Seq[DataFrame],
      subDim: Int, nCells: Int)

  /** Offline training: coarse quantizer over the full vector, one
    * kSub-centroid codebook per subDim-wide slice. The 1 + M chains are
    * independent, so they run as CONCURRENT Spark jobs (each chain is a
    * short sequence of small eager localCheckpoint jobs — serial
    * execution would pay 1+M times the per-job scheduling floor);
    * results are deterministic regardless of interleaving. */
  def train(embeddings: DataFrame, nCells: Int, m: Int, subDim: Int,
      kSub: Int, iters: Int): Codebooks = {
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    import scala.concurrent.{Await, Future}
    val coarseF = Future(IvfIndex.trainCentroids(embeddings, nCells, iters))
    val subFs = (0 until m).map { i =>
      Future(IvfIndex.trainCentroids(
        embeddings.select(col("vec_id"),
          slice(col("embedding"), i * subDim + 1, subDim).as("embedding")),
        kSub, iters))
    }
    Codebooks(Await.result(coarseF, Duration.Inf),
      subFs.map(Await.result(_, Duration.Inf)), subDim, nCells)
  }

  /** One narrow pass: (vec_id, cell, codes[M]). No shuffles — the
    * codebooks are broadcast 1-row struct arrays and every argmin is a
    * per-row fold ([[IvfIndex.argminCell]]). */
  def encode(embeddings: DataFrame, cb: Codebooks): DataFrame = {
    var df = IvfIndex.quantize(embeddings)
      .crossJoin(broadcast(IvfIndex.centroidArray(cb.coarse, "cs_co")))
    cb.subs.zipWithIndex.foreach { case (c, i) =>
      df = df.crossJoin(broadcast(IvfIndex.centroidArray(c, s"cs_$i")))
    }
    df.select(col("vec_id"),
      expr(IvfIndex.argminCell("cs_co", "qv")).as("cell"),
      array(cb.subs.indices.map { i =>
        expr(IvfIndex.argminCell(s"cs_$i",
          s"slice(qv, ${i * cb.subDim + 1}, ${cb.subDim})"))
      }: _*).as("codes"))
  }

  /** IVF-ADC search over an encoded corpus. Probes (vec_id, embedding)
    * become a broadcast frame carrying, per probe: its nProbe nearest
    * coarse cells and M lookup maps code → partial squared distance.
    * The join prunes to the probed cells; the per-pair score is
    * `lut_0[c_0] + … + lut_{M-1}[c_{M-1}]` — fixed-order adds of
    * doubles, bit-replayable. */
  def search(codes: DataFrame, cb: Codebooks, probes: DataFrame,
      k: Int, nProbe: Int): DataFrame =
    scoreAdc(codes, probeSide(cb, probes, nProbe), cb.subs.size, k)

  /** Write the index to `dir`: the codes frame partitioned BY cell
    * (probe-time partition pruning reads only probed cell directories)
    * plus the coarse + per-subspace codebooks (tiny, always
    * broadcastable) — the [[IvfIndex.persist]] layout. */
  def persist(cb: Codebooks, codes: DataFrame, dir: String): Unit = {
    codes.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
    cb.coarse.write.mode("overwrite").parquet(s"$dir/coarse")
    cb.subs.zipWithIndex.foreach { case (c, i) =>
      c.write.mode("overwrite").parquet(s"$dir/sub_$i")
    }
  }

  /** Read a persisted index back. `cell` comes back as a partition
    * column — filters on it prune at file-listing time. */
  def load(spark: SparkSession, dir: String, m: Int, subDim: Int,
      nCells: Int): (DataFrame, Codebooks) = (
    spark.read.parquet(s"$dir/codes"),
    Codebooks(spark.read.parquet(s"$dir/coarse"),
      (0 until m).map(i => spark.read.parquet(s"$dir/sub_$i")),
      subDim, nCells))

  /** [[load]] with every codebook LOCALIZED (IvfIndex.localize),
    * memoized per (session, dir): probeSide re-broadcasts the coarse +
    * M sub codebooks on every probe query — 1+M parquet-read jobs per
    * query of pure floor over tables that are tiny by construction.
    * Index dirs are immutable once written, so the memo cannot go
    * stale; clears with Resources.releaseAll. */
  private val localLoadCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Int, Int, Int), (DataFrame, Codebooks)]
  private val localLoadHook = new java.util.concurrent.atomic.AtomicBoolean
  def loadLocal(spark: SparkSession, dir: String, m: Int, subDim: Int,
      nCells: Int): (DataFrame, Codebooks) = {
    if (localLoadHook.compareAndSet(false, true))
      graft.Resources.onReleaseAll(() => localLoadCache.clear())
    // the geometry params ride the key: a dir read under two different
    // (m, subDim, nCells) claims must not serve one caller the other's
    // codebook view
    localLoadCache.getOrElseUpdate((spark, dir, m, subDim, nCells), {
      val (codes, cb) = load(spark, dir, m, subDim, nCells)
      (codes, Codebooks(IvfIndex.localize(cb.coarse),
        cb.subs.map(IvfIndex.localize), cb.subDim, cb.nCells))
    })
  }

  /** Build-or-load: the offline-job entry point ([[IvfIndex.ensure]]
    * shape). Trains codebooks + encodes + persists on first call for a
    * given `dir` (published whole, [[graft.Artifact.publish]]), loads
    * thereafter — callers' query paths never retrain.
    * Training is bit-reproducible, so a loaded index is identical to a
    * fresh one. */
  def ensure(embeddings: DataFrame, nCells: Int, m: Int, subDim: Int,
      kSub: Int, iters: Int, dir: String): (DataFrame, Codebooks) = {
    graft.Artifact.publish(dir) { stage =>
      val cb = train(embeddings, nCells, m, subDim, kSub, iters)
      persist(cb, encode(embeddings, cb), stage)
    }
    // serve the memoized view: a fresh load() constructs 1+1+M
    // spark.read.parquet frames, each firing a schema-read job — pure
    // per-call floor when callers ensure() before every probe query
    loadLocal(embeddings.sparkSession, dir, m, subDim, nCells)
  }

  /** Probe a PREBUILT (persisted, cell-partitioned) index. The union of
    * all probes' cells is collected first — a bounded control-plane read
    * of at most probes × nProbe ints — and pushed as a static
    * `cell IN (...)` filter, which the parquet source turns into
    * partition pruning; the per-probe cell restriction still applies in
    * the join ([[IvfIndex.searchPrebuilt]] shape). */
  def searchPrebuilt(spark: SparkSession, dir: String, probes: DataFrame,
      k: Int, nProbe: Int, m: Int, subDim: Int, nCells: Int): DataFrame = {
    val (codes, cb) = loadLocal(spark, dir, m, subDim, nCells)
    val ps = probeSide(cb, probes, nProbe)
    val cells = ps.select(explode(col("probe_cells")).as("cell"))
      .distinct().collect().map(_.getInt(0)).toSeq
    scoreAdc(codes.filter(col("cell").isin(cells: _*)), ps, m, k)
  }

  /** Broadcast probe frame: per probe its nProbe nearest coarse cells
    * plus the M asymmetric-distance lookup maps. */
  private def probeSide(cb: Codebooks, probes: DataFrame,
      nProbe: Int): DataFrame = {
    val m = cb.subs.size
    // centroidArrayLocal, not centroidArray: probeSide only runs over
    // loadLocal codebooks (memoized per dir), so the 1+M aggregate
    // broadcasts collapse to job-free LocalRelation broadcasts
    var p = IvfIndex.quantize(probes)
      .withColumnRenamed("vec_id", "probe_id")
      .crossJoin(broadcast(
        IvfIndex.centroidArrayLocal(cb.coarse, "cs_co")))
    cb.subs.zipWithIndex.foreach { case (c, i) =>
      p = p.crossJoin(broadcast(
        IvfIndex.centroidArrayLocal(c, s"cs_$i")))
    }
    p.select(
      col("probe_id") +:
        expr(
          s"""transform(slice(array_sort(transform(cs_co, cc -> struct(
             |  ${IvfIndex.distSql("qv", "cc.c")} AS dist,
             |  cc.cell AS cell))), 1, $nProbe), t -> t.cell)""".stripMargin)
          .as("probe_cells") +:
        (0 until m).map { i =>
          val sub = s"slice(qv, ${i * cb.subDim + 1}, ${cb.subDim})"
          expr(
            s"""map_from_arrays(transform(cs_$i, cc -> cc.cell),
               |  transform(cs_$i, cc -> ${IvfIndex.distSql(sub, "cc.c")}))"""
              .stripMargin).as(s"lut_$i")
        }: _*)
  }

  /** ADC scan: per pair the score is M map lookups + M-1 adds. */
  private def scoreAdc(codes: DataFrame, probeSide: DataFrame, m: Int,
      k: Int): DataFrame = {
    val adc = (0 until m)
      .map(i => s"element_at(lut_$i, codes[$i])").mkString(" + ")
    codes
      .join(broadcast(probeSide),
        expr("array_contains(probe_cells, cell) AND vec_id != probe_id"))
      .withColumn("approx_dist", expr(adc))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("approx_dist"), col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("approx_dist"), col("rank"))
  }
}
