package graft.queries

import graft.{Artifact, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Distributed model TRAINING — the piece of a training-data pipeline
  * that sits after curation: fit a small quality/domain probe on the
  * corpus itself (the fastText-classifier / quality-probe loop that
  * CCNet-style pipelines retrain per crawl). Inference over a fixed
  * model is q93; THIS is the other direction — estimate the weights
  * from 100 TB of labeled rows.
  *
  * The operator is full-batch gradient descent on a linear probe in
  * exact integer (micro-unit) arithmetic, the q86 fixed-point
  * discipline applied to learning:
  *
  *   pred = (Σ_j x_j·w_j) div 1e6          (µ-units)
  *   err  = pred − y
  *   g_j  = Σ_docs (x_j·err) div 1e6       (per-doc truncation —
  *                                          deterministic, order-free)
  *   w_j ← w_j − g_j div (4·N)             (lr = 1/4, exact)
  *
  * Why this is the scale-correct shape: one GD step over any corpus is
  * ONE map-side-combined aggregation producing D+1 longs (D gradient
  * sums + the loss) — no shuffle of examples, no driver-side data, and
  * the model state that moves between steps is D numbers. That is the
  * whole communication cost of full-batch training, identical at 5 000
  * docs and 5·10^9: the driver collects D+1 longs per iteration (the
  * sanctioned fixed-size-model collect; production broadcasts them
  * back, AQE does it here via literals).
  *
  * Every quantity is integer micro-units, every division truncates
  * toward zero in both engines (verified: DuckDB `//` ≡ Spark `div` on
  * negatives), and sums are order-invariant — so the DuckDB oracle
  * replays all three unrolled iterations bit-for-bit, weights AND
  * loss. Features are deliberately simple corpus statistics (length,
  * vowel/space/ascii-letter ratios) predicting lang='en' — the point
  * is the exact-replayable distributed-training shape, not the model.
  */
object Training {

  private val Dim = 5       // bias + 4 features
  private val Iters = 3
  private val M = 1000000L  // micro-unit scale

  /** Feature frame: doc_id, x0..x4 (µ-units), y (µ-units). */
  private def features(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("n", length(col("text")))
      .withColumn("nv",
        col("n") - length(regexp_replace(col("text"), "[aeiou]", "")))
      .withColumn("nsp",
        col("n") - length(regexp_replace(col("text"), " ", "")))
      .withColumn("nl",
        col("n") - length(regexp_replace(col("text"), "[A-Za-z]", "")))
      .select(col("doc_id"),
        lit(M).as("x0"),
        expr(s"($M * least(n, 2000)) div 2000").as("x1"),
        expr(s"($M * nv) div (n + 1)").as("x2"),
        expr(s"($M * nsp) div (n + 1)").as("x3"),
        expr(s"($M * nl) div (n + 1)").as("x4"),
        when(col("lang") === "en", lit(M)).otherwise(lit(0L)).as("y"))

  /** The [[Iters]] exact-integer GD steps over a persisted feature
    * frame: returns one Row per iteration (post-step weights + pre-step
    * loss) and the final weight vector. Shared by q136 (reports the
    * trajectory) and q148 (evaluates the final model). */
  private def gdSteps(f: DataFrame, n: Long): (Seq[Row], Array[Long]) = {
    var w = Array.fill(Dim)(0L)
    val out = Seq.newBuilder[Row]
    for (iter <- 1 to Iters) {
      // `div`, not `/`: `/` on longs is double division in Spark SQL
      val errCol = expr(
        s"(${(0 until Dim).map(j => s"x$j * ${w(j)}L").mkString(" + ")})" +
          s" div $M - y")
      val aggs = (0 until Dim).map(j =>
        sum(expr(s"(x$j * err) div $M")).as(s"g$j")) :+
        sum(expr(s"(err * err) div $M")).as("loss")
      val r = f.withColumn("err", errCol).agg(aggs.head, aggs.tail: _*)
        .head()
      val loss = r.getLong(Dim)
      for (j <- 0 until Dim) w(j) = w(j) - r.getLong(j) / (4L * n)
      out += Row.fromSeq(iter.toLong +: (w.toSeq :+ loss))
    }
    (out.result(), w)
  }

  /** The trained probe (pinned feature frame + final weight vector) as
    * a SHARED artifact per (session, corpus): q136's product is the
    * training run itself — it always trains live — but q148 (AUC),
    * q190 (calibration) and q194 (threshold sweep) are EVALS of the
    * registered model; a production pipeline trains once and runs
    * every eval against the stored weights. The bench warms this in
    * setup and the DuckDB pair gets the same amortization via
    * [[oraclePrelude]]'s probe_f/probe_w temp tables (equality-checked
    * overrides, the lifecycle-twin discipline). */
  private[graft] val trainedModel = Artifact("probe", eager = true) {
    (s, d) =>
      val f = features(s, d).localCheckpoint(true)
      val n = f.count()
      require(n > 0, "probe training needs a non-empty documents table")
      val (_, w) = gdSteps(f, n)
      (f, w)
  } { case (f, _) => Seq(f) }

  /** Run [[Iters]] exact-integer GD steps; one row per iteration with
    * the post-step weights and the pre-step training loss. */
  private def train(s: SparkSession, d: String): DataFrame = {
    import scala.collection.JavaConverters._
    val f = features(s, d).persist()
    try {
      val n = f.count()
      // SUM over zero rows is null → r.getLong would NPE opaquely, and
      // the weight update divides by n; fail with a clear message instead.
      require(n > 0, "q136 needs a non-empty documents table")
      val (rows, _) = gdSteps(f, n)
      val schema = org.apache.spark.sql.types.StructType(
        (Seq("iter") ++ (0 until Dim).map(j => s"w$j") ++ Seq("loss_micro"))
          .map(org.apache.spark.sql.types.StructField(_,
            org.apache.spark.sql.types.LongType, nullable = false)))
      s.createDataFrame(rows.asJava, schema).orderBy(col("iter"))
    } finally { f.unpersist(); () }
  }

  // ------------------------------------------------------------ q136
  // (see object scaladoc) 3 unrolled exact-integer GD steps on a
  // 5-dim linear probe for lang='en'; the oracle replays the identical
  // feature extraction, gradient truncations, and weight updates.
  private def sqlIter(i: Int, prevW: String): String =
    s"""e$i AS (
       |  SELECT f.*, CAST((x0*w.w0 + x1*w.w1 + x2*w.w2 + x3*w.w3
       |    + x4*w.w4) // 1000000 - y AS BIGINT) AS err
       |  FROM f CROSS JOIN $prevW w),
       |g$i AS (
       |  SELECT CAST(SUM((x0*err) // 1000000) AS BIGINT) AS g0,
       |         CAST(SUM((x1*err) // 1000000) AS BIGINT) AS g1,
       |         CAST(SUM((x2*err) // 1000000) AS BIGINT) AS g2,
       |         CAST(SUM((x3*err) // 1000000) AS BIGINT) AS g3,
       |         CAST(SUM((x4*err) // 1000000) AS BIGINT) AS g4,
       |         CAST(SUM((err*err) // 1000000) AS BIGINT) AS loss
       |  FROM e$i),
       |w$i AS (
       |  SELECT w.w0 - g.g0 // (4*n.n) AS w0, w.w1 - g.g1 // (4*n.n) AS w1,
       |         w.w2 - g.g2 // (4*n.n) AS w2, w.w3 - g.g3 // (4*n.n) AS w3,
       |         w.w4 - g.g4 // (4*n.n) AS w4
       |  FROM $prevW w CROSS JOIN g$i g CROSS JOIN n)""".stripMargin

  private val q136 = QueryDef.of(
    (s, d) => train(s, d),
    s"""WITH f AS (
       |  SELECT doc_id, CAST(1000000 AS BIGINT) AS x0,
       |    (1000000 * least(length(text), 2000)) // 2000 AS x1,
       |    (1000000 * (length(text) -
       |      length(regexp_replace(text, '[aeiou]', '', 'g'))))
       |      // (length(text) + 1) AS x2,
       |    (1000000 * (length(text) -
       |      length(regexp_replace(text, ' ', '', 'g'))))
       |      // (length(text) + 1) AS x3,
       |    (1000000 * (length(text) -
       |      length(regexp_replace(text, '[A-Za-z]', '', 'g'))))
       |      // (length(text) + 1) AS x4,
       |    CASE WHEN lang = 'en' THEN CAST(1000000 AS BIGINT)
       |         ELSE CAST(0 AS BIGINT) END AS y
       |  FROM documents),
       |n AS (SELECT COUNT(*) AS n FROM f),
       |w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
       |  CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3,
       |  CAST(0 AS BIGINT) AS w4),
       |${sqlIter(1, "w0")},
       |${sqlIter(2, "w1")},
       |${sqlIter(3, "w2")}
       |SELECT * FROM (
       |  SELECT 1 AS iter, w1.*, (SELECT loss FROM g1) AS loss_micro FROM w1
       |  UNION ALL
       |  SELECT 2, w2.*, (SELECT loss FROM g2) FROM w2
       |  UNION ALL
       |  SELECT 3, w3.*, (SELECT loss FROM g3) FROM w3)
       |ORDER BY iter""".stripMargin)

  // ------------------------------------------------------------ q148
  // Trained-model EVALUATION — the readout that decides whether the
  // q136 probe ships: confusion matrix at the natural 0.5 threshold
  // plus exact tie-corrected (mid-rank) ROC AUC, all in integer
  // micro-units. The AUC is the scale-interesting part: the textbook
  // form ranks every example with `row_number() OVER (ORDER BY score)`
  // — a single-partition global sort, the classic rank scale-killer.
  // Instead: AUC needs only per-SCORE-GROUP tallies. Group scores
  // (one map-side-combined agg; the grouped frame is ≤ #distinct
  // scores, not #examples), then compute each group's
  // negatives-strictly-below via the q109 distributed-prefix pattern —
  // range-repartition on score, cumulative sum WITHIN each partition
  // (fully parallel window), and per-partition prefix offsets from a
  // bounded driver read (one row per shuffle partition). With p_s/n_s
  // positives/negatives at score s and N_<(s) negatives below:
  //
  //   2·AUC·P·N = Σ_s p_s · (2·N_<(s) + n_s)      (mid-rank/trapezoid)
  //   auc_micro = (Σ · 500000) div (P·N)           — exact integers
  //
  // Headroom: Σ ≤ 2·P·N ≤ n²/2, so longs hold to n ≈ 4·10⁹ examples;
  // past that the sum needs decimal(38) (one-line change, noted here
  // so the limit is explicit). The grouped frame is localCheckpoint-
  // pinned because repartitionByRange SAMPLES its bounds per execution
  // (q109 lesson): the offsets must describe the exact partitioning
  // the window pass reads. The oracle replays training (shared
  // [[sqlIter]] CTEs), scoring, grouping, and the windowed cumsum
  // bit-for-bit.
  private val q148 = QueryDef.of(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // eval of the REGISTERED model (shared trainedModel artifact)
      val (f, w) = trainedModel.get(s, d)
      locally {
        val scored = f.select(
          expr(s"(${(0 until Dim).map(j => s"x$j * ${w(j)}L")
            .mkString(" + ")}) div $M").as("score"),
          col("y"))
        val g = graft.Resources.retain(scored.groupBy(col("score"))
          .agg(sum(when(col("y") === M, 1L).otherwise(0L)).as("pos"),
            sum(when(col("y") === M, 0L).otherwise(1L)).as("neg"))
          .repartitionByRange(col("score"))
          .withColumn("pid", spark_partition_id())
          .localCheckpoint())
        // bounded control-plane read: one row per range partition
        val parts = g.groupBy(col("pid")).agg(sum(col("neg")).as("nn"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
        var acc = 0L
        val offsets = parts.map { case (p, c) =>
          val start = acc; acc += c; (p, start)
        }.toMap
        val win = Window.partitionBy(col("pid")).orderBy(col("score"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val half = M / 2
        g.withColumn("nb",
            coalesce(sum(col("neg")).over(win), lit(0L)) +
              element_at(typedLit(offsets), col("pid")))
          .agg(sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"),
            sum(col("pos") * (lit(2L) * col("nb") + col("neg")))
              .as("auc_num"),
            sum(when(col("score") >= half, col("pos")).otherwise(0L))
              .as("tp"),
            sum(when(col("score") >= half, col("neg")).otherwise(0L))
              .as("fp"))
          .select(col("n_pos"), col("n_neg"), col("tp"), col("fp"),
            (col("n_pos") - col("tp")).as("fn"),
            (col("n_neg") - col("fp")).as("tn"),
            expr(s"((tp + n_neg - fp) * $M) div (n_pos + n_neg)")
              .as("accuracy_micro"),
            when(col("n_pos") * col("n_neg") > 0,
              expr("(auc_num * 500000) div (n_pos * n_neg)"))
              .as("auc_micro"))
      }
    },
    s"""WITH f AS (
       |  SELECT doc_id, CAST(1000000 AS BIGINT) AS x0,
       |    (1000000 * least(length(text), 2000)) // 2000 AS x1,
       |    (1000000 * (length(text) -
       |      length(regexp_replace(text, '[aeiou]', '', 'g'))))
       |      // (length(text) + 1) AS x2,
       |    (1000000 * (length(text) -
       |      length(regexp_replace(text, ' ', '', 'g'))))
       |      // (length(text) + 1) AS x3,
       |    (1000000 * (length(text) -
       |      length(regexp_replace(text, '[A-Za-z]', '', 'g'))))
       |      // (length(text) + 1) AS x4,
       |    CASE WHEN lang = 'en' THEN CAST(1000000 AS BIGINT)
       |         ELSE CAST(0 AS BIGINT) END AS y
       |  FROM documents),
       |n AS (SELECT COUNT(*) AS n FROM f),
       |w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
       |  CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3,
       |  CAST(0 AS BIGINT) AS w4),
       |${sqlIter(1, "w0")},
       |${sqlIter(2, "w1")},
       |${sqlIter(3, "w2")},
       |sc AS (
       |  SELECT CAST((x0*w.w0 + x1*w.w1 + x2*w.w2 + x3*w.w3
       |    + x4*w.w4) // 1000000 AS BIGINT) AS score, y
       |  FROM f CROSS JOIN w3 w),
       |g AS (
       |  SELECT score,
       |    CAST(SUM(CASE WHEN y = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS pos,
       |    CAST(SUM(CASE WHEN y = 1000000 THEN 0 ELSE 1 END) AS BIGINT)
       |      AS neg
       |  FROM sc GROUP BY score),
       |c AS (
       |  SELECT *, COALESCE(SUM(neg) OVER (ORDER BY score
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
       |  FROM g),
       |t AS (
       |  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
       |    CAST(SUM(neg) AS BIGINT) AS n_neg,
       |    CAST(SUM(pos * (2*nb + neg)) AS BIGINT) AS auc_num,
       |    CAST(SUM(CASE WHEN score >= 500000 THEN pos ELSE 0 END)
       |      AS BIGINT) AS tp,
       |    CAST(SUM(CASE WHEN score >= 500000 THEN neg ELSE 0 END)
       |      AS BIGINT) AS fp
       |  FROM c)
       |SELECT n_pos, n_neg, tp, fp, n_pos - tp AS fn, n_neg - fp AS tn,
       |  ((tp + n_neg - fp) * 1000000) // (n_pos + n_neg)
       |    AS accuracy_micro,
       |  CASE WHEN n_pos * n_neg > 0
       |    THEN (auc_num * 500000) // (n_pos * n_neg) END AS auc_micro
       |FROM t""".stripMargin)

  // ------------------------------------------------------------ q190
  // CALIBRATION / reliability table for the trained probe — the eval
  // beside q148's discrimination readout (AUC says the model RANKS
  // well; calibration says its scores MEAN what they claim, which is
  // what a curation pipeline needs before thresholding a 100 TB corpus
  // on them). The score range is split into 10 equal-width bins; per
  // bin: examples, positives, observed positive rate, and the mean
  // score — plus the expected-calibration-error headline, ECE =
  // Σ_b n_b·|rate_b − clamp(mean_score_b, 0, 1)| / N, riding every row
  // in micro-units (the raw µ-score IS the model's probability claim
  // in this integer-sigmoid-free probe, clamped to [0, 1]).
  //
  // Scale shape: scoring reuses the persisted feature frame (training
  // ran as D+1-long aggregations, the q136 contract); the min/max
  // frame is one row broadcast back; the bin table is 10 rows. All
  // integer arithmetic (truncating division verified ≡ on negatives),
  // so the oracle replays training, scoring, binning and ECE
  // bit-for-bit.
  private val q190 = QueryDef.of(
    (s, d) => {
      // eval of the REGISTERED model (shared trainedModel artifact)
      val (f, w) = trainedModel.get(s, d)
      locally {
        val scored = f.select(
          expr(s"(${(0 until Dim).map(j => s"x$j * ${w(j)}L")
            .mkString(" + ")}) div $M").as("score"),
          col("y"))
        val mm = scored.agg(min(col("score")).as("mn"),
          max(col("score")).as("mx"))
        // the 10-row bin table is checkpoint-pinned (q148 discipline):
        // the returned plan and the ECE leg both read the pin instead
        // of re-scoring the feature frame
        val bins = graft.Resources.retain(scored.crossJoin(broadcast(mm))
          .withColumn("bin", expr("((score - mn) * 10) div (mx - mn + 1)"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("y") === M, 1L).otherwise(0L)).as("n_pos"),
            sum(col("score")).as("score_sum"))
          .select(col("bin"), col("n_docs"), col("n_pos"),
            expr(s"(n_pos * $M) div n_docs").as("pos_rate_micro"),
            expr("score_sum div n_docs").as("mean_score_micro"))
          .localCheckpoint())
        val ece = bins.agg(expr(
          s"""sum(n_docs * abs(pos_rate_micro
             |  - greatest(least(mean_score_micro, ${M}L), 0L)))
             |  div sum(n_docs)""".stripMargin).as("ece_micro"))
        bins.crossJoin(broadcast(ece)).orderBy(col("bin"))
      }
    },
    s"""WITH f AS (
       |  SELECT doc_id, CAST(1000000 AS BIGINT) AS x0,
       |    (1000000 * least(length(text), 2000)) // 2000 AS x1,
       |    (1000000 * (length(text) -
       |      length(regexp_replace(text, '[aeiou]', '', 'g'))))
       |      // (length(text) + 1) AS x2,
       |    (1000000 * (length(text) -
       |      length(regexp_replace(text, ' ', '', 'g'))))
       |      // (length(text) + 1) AS x3,
       |    (1000000 * (length(text) -
       |      length(regexp_replace(text, '[A-Za-z]', '', 'g'))))
       |      // (length(text) + 1) AS x4,
       |    CASE WHEN lang = 'en' THEN CAST(1000000 AS BIGINT)
       |         ELSE CAST(0 AS BIGINT) END AS y
       |  FROM documents),
       |n AS (SELECT COUNT(*) AS n FROM f),
       |w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
       |  CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3,
       |  CAST(0 AS BIGINT) AS w4),
       |${sqlIter(1, "w0")},
       |${sqlIter(2, "w1")},
       |${sqlIter(3, "w2")},
       |sc AS (
       |  SELECT CAST((x0*w.w0 + x1*w.w1 + x2*w.w2 + x3*w.w3
       |    + x4*w.w4) // 1000000 AS BIGINT) AS score, y
       |  FROM f CROSS JOIN w3 w),
       |mm AS (SELECT MIN(score) AS mn, MAX(score) AS mx FROM sc),
       |b AS (
       |  SELECT ((score - mn) * 10) // (mx - mn + 1) AS bin,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN y = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_pos,
       |    CAST(SUM(score) AS BIGINT) AS score_sum
       |  FROM sc CROSS JOIN mm GROUP BY 1),
       |r AS (
       |  SELECT bin, n_docs, n_pos,
       |    (n_pos * 1000000) // n_docs AS pos_rate_micro,
       |    score_sum // n_docs AS mean_score_micro
       |  FROM b),
       |e AS (
       |  SELECT CAST(SUM(n_docs * abs(pos_rate_micro
       |      - GREATEST(LEAST(mean_score_micro, 1000000), 0)))
       |    // SUM(n_docs) AS BIGINT) AS ece_micro
       |  FROM r)
       |SELECT bin, n_docs, n_pos, pos_rate_micro, mean_score_micro,
       |  ece_micro
       |FROM r CROSS JOIN e ORDER BY bin""".stripMargin)

  // ------------------------------------------------------------ q194
  // THRESHOLD SELECTION from the calibration bin table — the missing
  // last step between q148 (does the probe rank?) / q190 (do its scores
  // mean anything?) and actually USING the probe to gate a corpus:
  // sweep the 10 bin lower edges as candidate operating points, report
  // the full confusion + precision/recall/F1 at each (integer
  // micro-units), and flag the max-F1 point (ties → lowest threshold,
  // the recall-favoring choice). The output is the table a curation
  // owner reads to pick "gate at score ≥ X" — and the `chosen` row is
  // the answer q143's curriculum binning would consume.
  //
  // Scale shape: training + scoring are the shared q136/q190 machinery
  // (D+1-long aggregations over the persisted feature frame); the bin
  // table is checkpoint-pinned at 10 rows BEFORE the feature frame
  // unpersists, and the entire sweep — suffix sums, argmax, chosen
  // flag — is bin×bin algebra over that pin (≤100 intermediate rows,
  // zero parquet in the returned plan; PlanAudit asserts it). The
  // threshold is reported in score units: bin b's lower edge is
  // mn + ceil(b·W/10) with W = mx−mn+1, exactly the smallest score
  // whose bin index reaches b under the q190 binning rule.
  private val q194 = QueryDef.of(
    (s, d) => {
      // eval of the REGISTERED model (shared trainedModel artifact)
      val (f, w) = trainedModel.get(s, d)
      locally {
        val scored = f.select(
          expr(s"(${(0 until Dim).map(j => s"x$j * ${w(j)}L")
            .mkString(" + ")}) div $M").as("score"),
          col("y"))
        val mm = scored.agg(min(col("score")).as("mn"),
          max(col("score")).as("mx"))
        // mn/mx ride the pinned bin rows (constant per row — max() is
        // just the determinism-safe way to carry them through the agg)
        // so the sweep reads ONLY the pin
        val bins = graft.Resources.retain(scored.crossJoin(broadcast(mm))
          .withColumn("bin", expr("((score - mn) * 10) div (mx - mn + 1)"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("y") === M, 1L).otherwise(0L)).as("n_pos"),
            max(col("mn")).as("mn"), max(col("mx")).as("mx"))
          .localCheckpoint())
        val sweep = bins.select(col("bin").as("thr_bin"), col("mn"),
            col("mx"))
          .crossJoin(bins.select(col("bin").as("u_bin"),
            col("n_docs").as("u_docs"), col("n_pos").as("u_pos")))
          .groupBy(col("thr_bin"))
          .agg(max(col("mn")).as("mn"), max(col("mx")).as("mx"),
            sum(when(col("u_bin") >= col("thr_bin"), col("u_pos"))
              .otherwise(0L)).as("tp"),
            sum(when(col("u_bin") >= col("thr_bin"),
              col("u_docs") - col("u_pos")).otherwise(0L)).as("fp"),
            sum(col("u_pos")).as("tot_pos"),
            sum(col("u_docs")).as("tot"))
          .withColumn("thr_score_micro",
            col("mn") + expr("(thr_bin * (mx - mn + 1) + 9) div 10"))
          .withColumn("fn", col("tot_pos") - col("tp"))
          .withColumn("tn", col("tot") - col("tot_pos") - col("fp"))
          .withColumn("precision_micro",
            when(col("tp") + col("fp") > 0,
              expr(s"(tp * $M) div (tp + fp)")).otherwise(0L))
          .withColumn("recall_micro",
            when(col("tot_pos") > 0, expr(s"(tp * $M) div tot_pos"))
              .otherwise(0L))
          // F1 = 2·TP/(2·TP+FP+FN) = 2·TP/(TP+FP+P) — same simplified
          // denominator on both engines
          .withColumn("f1_micro",
            when(col("tp") + col("fp") + col("tot_pos") > 0,
              expr(s"(2 * tp * $M) div (tp + fp + tot_pos)"))
              .otherwise(0L))
        val chosenBin = sweep
          .crossJoin(broadcast(sweep.agg(max(col("f1_micro")).as("mxf"))))
          .filter(col("f1_micro") === col("mxf"))
          .agg(min(col("thr_bin")).as("chosen_bin"))
        sweep.crossJoin(broadcast(chosenBin))
          .select(col("thr_bin"), col("thr_score_micro"), col("tp"),
            col("fp"), col("fn"), col("tn"), col("precision_micro"),
            col("recall_micro"), col("f1_micro"),
            (col("thr_bin") === col("chosen_bin")).cast("long")
              .as("chosen"))
          .orderBy(col("thr_bin"))
      }
    },
    s"""WITH f AS MATERIALIZED (
       |  SELECT doc_id, CAST(1000000 AS BIGINT) AS x0,
       |    (1000000 * least(length(text), 2000)) // 2000 AS x1,
       |    (1000000 * (length(text) -
       |      length(regexp_replace(text, '[aeiou]', '', 'g'))))
       |      // (length(text) + 1) AS x2,
       |    (1000000 * (length(text) -
       |      length(regexp_replace(text, ' ', '', 'g'))))
       |      // (length(text) + 1) AS x3,
       |    (1000000 * (length(text) -
       |      length(regexp_replace(text, '[A-Za-z]', '', 'g'))))
       |      // (length(text) + 1) AS x4,
       |    CASE WHEN lang = 'en' THEN CAST(1000000 AS BIGINT)
       |         ELSE CAST(0 AS BIGINT) END AS y
       |  FROM documents),
       |n AS (SELECT COUNT(*) AS n FROM f),
       |w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
       |  CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3,
       |  CAST(0 AS BIGINT) AS w4),
       |${sqlIter(1, "w0")},
       |${sqlIter(2, "w1")},
       |${sqlIter(3, "w2")},
       |sc AS (
       |  SELECT CAST((x0*w.w0 + x1*w.w1 + x2*w.w2 + x3*w.w3
       |    + x4*w.w4) // 1000000 AS BIGINT) AS score, y
       |  FROM f CROSS JOIN w3 w),
       |mm AS (SELECT MIN(score) AS mn, MAX(score) AS mx FROM sc),
       |b AS MATERIALIZED (
       |  SELECT ((score - mn) * 10) // (mx - mn + 1) AS bin,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN y = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_pos,
       |    CAST(MAX(mn) AS BIGINT) AS mn, CAST(MAX(mx) AS BIGINT) AS mx
       |  FROM sc CROSS JOIN mm GROUP BY 1),
       |sw AS MATERIALIZED (
       |  SELECT t.bin AS thr_bin, MAX(t.mn) AS mn, MAX(t.mx) AS mx,
       |    CAST(SUM(CASE WHEN u.bin >= t.bin THEN u.n_pos ELSE 0 END)
       |      AS BIGINT) AS tp,
       |    CAST(SUM(CASE WHEN u.bin >= t.bin THEN u.n_docs - u.n_pos
       |      ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(SUM(u.n_pos) AS BIGINT) AS tot_pos,
       |    CAST(SUM(u.n_docs) AS BIGINT) AS tot
       |  FROM b t CROSS JOIN b u GROUP BY t.bin),
       |m2 AS MATERIALIZED (
       |  SELECT thr_bin,
       |    mn + (thr_bin * (mx - mn + 1) + 9) // 10 AS thr_score_micro,
       |    tp, fp, tot_pos - tp AS fn, tot - tot_pos - fp AS tn,
       |    CASE WHEN tp + fp > 0 THEN (tp * 1000000) // (tp + fp)
       |         ELSE 0 END AS precision_micro,
       |    CASE WHEN tot_pos > 0 THEN (tp * 1000000) // tot_pos
       |         ELSE 0 END AS recall_micro,
       |    CASE WHEN tp + fp + tot_pos > 0
       |         THEN (2 * tp * 1000000) // (tp + fp + tot_pos)
       |         ELSE 0 END AS f1_micro
       |  FROM sw),
       |ch AS (
       |  SELECT MIN(thr_bin) AS chosen_bin FROM m2
       |  WHERE f1_micro = (SELECT MAX(f1_micro) FROM m2))
       |SELECT thr_bin, thr_score_micro, tp, fp, fn, tn, precision_micro,
       |  recall_micro, f1_micro,
       |  CAST(CASE WHEN thr_bin = chosen_bin THEN 1 ELSE 0 END AS BIGINT)
       |    AS chosen
       |FROM m2 CROSS JOIN ch ORDER BY thr_bin""".stripMargin)

  // ------------------------------------------------------------ q174
  // RATER AGREEMENT (Cohen's κ) between two independent quality rules —
  // the calibration readout a curation team runs before trusting any
  // single quality filter (if two cheap raters barely agree above
  // chance, neither should gate a 100 TB corpus alone). Rater A is the
  // length/word-shape rule (q69's Gopher family), rater B the lexical-
  // diversity rule (type-token ratio); κ = (p_o − p_e)/(1 − p_e) is
  // computed entirely in integer arithmetic: with per-source counts
  // n, a=both-keep, yesA, yesB, the numerator and denominator are the
  // common-denominator forms p_o·n² = agree·n and
  // p_e·n² = yesA·yesB + noA·noB, so
  // κ_ppm = ((agree·n − pe2)·10⁶) div (n² − pe2) — exact, and routed
  // through decimal(38,0)/HUGEINT so n² can't wrap BIGINT past n≈3e9
  // docs per source (the q165 overflow lesson, applied proactively).
  //
  // Scale shape: ONE corpus scan computes both raters map-side (pure
  // per-row token/char arithmetic, no shuffle), then a sources-bounded
  // grouped aggregate; κ derives per group. Adding the *ALL* row reuses
  // the same partials via a grouping-sets-style union of two aggregates
  // over the SAME pre-aggregated sources frame (second agg is
  // |sources|-sized, not corpus-sized).
  private val q174 = QueryDef.of(
    (s, d) => {
      val rated = Tables.documents(s, d)
        .withColumn("tk", expr("filter(split(text, ' '), t -> t <> '')"))
        .withColumn("n_tok", size(col("tk")).cast("long"))
        .withColumn("chars",
          expr("aggregate(tk, 0L, (a, t) -> a + length(t))"))
        .select(col("source"),
          // rater A: 30..5000 tokens AND mean word length in [3, 12]
          (col("n_tok") >= 30 && col("n_tok") <= 5000 &&
            col("chars") * 10 >= col("n_tok") * 30 &&
            col("chars") * 10 <= col("n_tok") * 120).cast("long").as("ra"),
          // rater B: ≥20 tokens AND type-token ratio ≥ 0.3
          (col("n_tok") >= 20 &&
            size(array_distinct(col("tk"))).cast("long") * 10 >=
              col("n_tok") * 3).cast("long").as("rb"))
      // checkpoint-pinned: the *ALL* row re-aggregates THIS frame, and
      // without the barrier Catalyst would expand the union into two
      // corpus scans — the barrier makes the second aggregate genuinely
      // |sources|-sized (the scaladoc's claim, enforced)
      val per = graft.Resources.retain(rated.groupBy(col("source")).agg(
        count(lit(1)).as("n"),
        sum(when(col("ra") === col("rb"), 1L).otherwise(0L)).as("agree"),
        sum(col("ra")).as("yes_a"), sum(col("rb")).as("yes_b"))
        .localCheckpoint())
      val all = per.groupBy().agg(
          sum(col("n")).as("n"), sum(col("agree")).as("agree"),
          sum(col("yes_a")).as("yes_a"), sum(col("yes_b")).as("yes_b"))
        .withColumn("source", lit("*ALL*"))
        .select(per.columns.map(col): _*)
      val kap = """CASE WHEN cast(n as decimal(38,0)) * n - pe2 = 0 THEN 1000000L
                  |ELSE cast(((cast(agree as decimal(38,0)) * n - pe2)
                  |  * 1000000) div (cast(n as decimal(38,0)) * n - pe2)
                  |  as long) END""".stripMargin
      per.unionByName(all)
        .withColumn("pe2", expr(
          """cast(yes_a as decimal(38,0)) * yes_b
            |  + cast(n - yes_a as decimal(38,0)) * (n - yes_b)"""
            .stripMargin))
        .select(col("source"), col("n"), col("agree"),
          col("yes_a"), col("yes_b"),
          expr("cast((cast(agree as decimal(38,0)) * 1000000) div n as long)")
            .as("po_ppm"),
          expr(kap).as("kappa_ppm"))
        .orderBy(col("source"))
    },
    """WITH rated AS (
      |  SELECT source,
      |    CASE WHEN n_tok >= 30 AND n_tok <= 5000
      |          AND chars * 10 >= n_tok * 30
      |          AND chars * 10 <= n_tok * 120 THEN 1 ELSE 0 END AS ra,
      |    CASE WHEN n_tok >= 20 AND n_dis * 10 >= n_tok * 3
      |         THEN 1 ELSE 0 END AS rb
      |  FROM (
      |    SELECT source,
      |      CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
      |        AS BIGINT) AS n_tok,
      |      CAST(len(list_distinct(list_filter(string_split(text, ' '),
      |        t -> t <> ''))) AS BIGINT) AS n_dis,
      |      CAST(COALESCE(list_sum(list_transform(
      |        list_filter(string_split(text, ' '), t -> t <> ''),
      |        t -> len(t))), 0) AS BIGINT) AS chars
      |    FROM documents)),
      |per AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT)
      |      AS agree,
      |    CAST(SUM(ra) AS BIGINT) AS yes_a, CAST(SUM(rb) AS BIGINT) AS yes_b
      |  FROM rated GROUP BY source
      |  UNION ALL
      |  SELECT '*ALL*', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(SUM(ra) AS BIGINT), CAST(SUM(rb) AS BIGINT)
      |  FROM rated),
      |k AS (
      |  SELECT *, CAST(yes_a AS HUGEINT) * yes_b
      |    + CAST(n - yes_a AS HUGEINT) * (n - yes_b) AS pe2
      |  FROM per)
      |SELECT source, n, agree, yes_a, yes_b,
      |  CAST((CAST(agree AS HUGEINT) * 1000000) // n AS BIGINT) AS po_ppm,
      |  CASE WHEN CAST(n AS HUGEINT) * n - pe2 = 0 THEN 1000000
      |       ELSE CAST(((CAST(agree AS HUGEINT) * n - pe2) * 1000000)
      |         // (CAST(n AS HUGEINT) * n - pe2) AS BIGINT) END
      |    AS kappa_ppm
      |FROM k ORDER BY source""".stripMargin)

  val defs: Map[String, QueryDef] = Map(
    "q136_gd_probe_train" -> q136,
    "q148_classifier_eval" -> q148,
    "q174_rater_agreement" -> q174,
    "q190_calibration_bins" -> q190,
    "q194_threshold_selection" -> q194)

  /** Bench-pair lifecycle twins for [[trainedModel]]: probe_f is the
    * feature table, probe_w the trained weight row — built once,
    * untimed, exactly what the engine's warmed memo amortizes. The
    * override is DERIVED from each verbatim oracle (everything from
    * its scoring CTE on, reading the temp tables), so the two cannot
    * drift; oracle_time.py equality-checks the rows anyway before
    * timing. q136 keeps its verbatim oracle — training is its
    * product, engine and oracle both train live. */
  val oraclePrelude: Seq[String] = try {
    // the features body, verbatim from the q136 oracle (between
    // "WITH f AS (" and the CTE's closing "FROM documents)"). FAIL
    // SOFT on marker drift: an empty prelude just means the pair
    // times the verbatim oracles (the overrides' equality checks
    // fail against missing tables and fall back) — a throw here
    // would cost the round its whole denominator.
    val sql = q136.oracle.get
    val i0 = sql.indexOf("WITH f AS (")
    val i1 = sql.indexOf("FROM documents)")
    require(i0 >= 0 && i1 > i0, "q136 oracle lost its features CTE shape")
    val start = i0 + "WITH f AS (".length
    val end = i1 + "FROM documents".length
    val featuresBody = sql.substring(start, end)
    Seq(
      s"CREATE TEMP TABLE probe_f AS $featuresBody",
      s"""CREATE TEMP TABLE probe_w AS
         |WITH f AS (SELECT * FROM probe_f),
         |n AS (SELECT COUNT(*) AS n FROM f),
         |w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
         |  CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3,
         |  CAST(0 AS BIGINT) AS w4),
         |${sqlIter(1, "w0")},
         |${sqlIter(2, "w1")},
         |${sqlIter(3, "w2")}
         |SELECT * FROM w3""".stripMargin)
  } catch {
    case NonFatal(e) =>
      System.err.println(s"Training.oraclePrelude disabled: $e")
      Seq.empty
  }
  private def evalOverride(q: QueryDef): String = {
    val sql = q.oracle.get
    val i = sql.indexOf("sc AS (")
    require(i >= 0 && sql.indexOf("FROM f CROSS JOIN w3 w") > i,
      "eval oracle no longer has the expected scoring CTE shape")
    "WITH " + sql.substring(i)
      .replace("FROM f CROSS JOIN w3 w",
        "FROM probe_f f CROSS JOIN probe_w w")
  }
  def oracleOverride: Map[String, String] = try {
    Map(
      "q148_classifier_eval" -> evalOverride(q148),
      "q190_calibration_bins" -> evalOverride(q190),
      "q194_threshold_selection" -> evalOverride(q194))
  } catch {
    case NonFatal(e) =>
      System.err.println(s"Training.oracleOverride disabled: $e")
      Map.empty
  }
}
