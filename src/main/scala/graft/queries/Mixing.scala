package graft.queries

import graft.{Artifact, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-mixture allocation — the "how much of each source goes into the
  * training run" step between curation (q164) and packing (q74): a
  * token budget is spread across sources by WATER-FILLING (the
  * max-min-fair allocation: every source gets the same water level θ
  * unless it has fewer tokens than θ, in which case it is taken whole —
  * the continuous analog of DoReMi/The-Pile-style balanced mixing where
  * no single source may dominate), and the realized sampling pass keeps
  * documents by a deterministic per-doc hash against the derived
  * per-source rate.
  *
  * Scale shape: ONE corpus scan feeds a (source)-grouped aggregate; the
  * water-level solve runs entirely on the SOURCES-BOUNDED frame (windows
  * over ~|sources| rows — never corpus-sized; a production catalog has
  * thousands of sources, not billions), in exact integer arithmetic so
  * the oracle replays it bit-for-bit. The sampling pass (q168) is one
  * map-side hash test against the broadcast per-source rate table.
  */
object Mixing {

  /** Per-source water-filled allocation of a budget of 90% of the total
    * token mass. Exact integer solve: sources sorted (tokens asc,
    * source asc) with rank k, prefix sum S_k; k* = max{k : S_k +
    * (n−k)·T_k ≤ B} (the largest set of smallest sources affordable to
    * take whole while paying everyone else at least T_k); water level
    * θ = (B − S_k*) div (n − k*); alloc = T_s for rank ≤ k*, else
    * min(T_s, θ). */
  private[queries] def allocFrame(s: SparkSession, d: String): DataFrame = {
    val perSource = Tables.documents(s, d)
      .select(col("source"),
        expr("size(filter(split(text, ' '), t -> t <> ''))")
          .cast("long").as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens"))
    val wOrd = Window.orderBy(col("tokens"), col("source"))
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perSource
      .withColumn("k", row_number().over(wOrd))
      .withColumn("s", sum(col("tokens")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(col("tokens")).over(wAll))
      .withColumn("n_src", count(lit(1)).over(wAll))
      .withColumn("b", expr("(tot * 9) div 10"))
      .withColumn("kstar", coalesce(max(when(
          col("s") + (col("n_src") - col("k")) * col("tokens") <= col("b"),
          col("k"))).over(wAll), lit(0)))
      .withColumn("sk", coalesce(max(when(col("k") === col("kstar"),
        col("s"))).over(wAll), lit(0L)))
      .withColumn("alloc", when(col("k") <= col("kstar"), col("tokens"))
        .otherwise(least(col("tokens"),
          expr("(b - sk) div (n_src - kstar)"))))
      .select(col("source"), col("n_docs"), col("tokens"), col("alloc"),
        // ppm through a decimal(38,0) intermediate: alloc·10⁶ overflows
        // BIGINT once a source passes ~9.2e12 tokens (a few dozen TB of
        // text), which Spark would wrap silently while DuckDB raises —
        // the 128-bit product keeps the solve exact to Long.MaxValue
        // token masses (the oracle mirrors it with HUGEINT). The solve
        // itself stays in BIGINT: tot·9 and (n_src−k)·tokens are safe
        // to ~9e17 total tokens, orders beyond the 100 TB design point.
        expr("(cast(alloc as decimal(38,0)) * 1000000) div tokens")
          .as("weight_ppm"),
        (col("k") <= col("kstar")).as("kept_full"))
  }

  /** The shared oracle CTE chain replaying [[allocFrame]] in DuckDB. */
  private val allocCtes =
    """per AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(len(list_filter(string_split(text, ' '),
      |      t -> t <> ''))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY 1),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY tokens, source) AS k,
      |    SUM(tokens) OVER (ORDER BY tokens, source
      |      ROWS UNBOUNDED PRECEDING) AS s,
      |    SUM(tokens) OVER () AS tot, COUNT(*) OVER () AS n_src
      |  FROM per),
      |r2 AS (SELECT *, (tot * 9) // 10 AS b FROM r),
      |ks AS (SELECT COALESCE(MAX(CASE WHEN s + (n_src - k) * tokens <= b
      |         THEN k END), 0) AS kstar FROM r2),
      |sk AS (SELECT COALESCE(MAX(CASE WHEN r2.k = ks.kstar THEN r2.s END),
      |         0) AS sk FROM r2, ks),
      |alloc AS (
      |  SELECT r2.source, r2.n_docs, r2.tokens,
      |    r2.k <= ks.kstar AS kept_full,
      |    CAST(CASE WHEN r2.k <= ks.kstar THEN r2.tokens
      |         ELSE LEAST(r2.tokens,
      |           (r2.b - sk.sk) // (r2.n_src - ks.kstar)) END
      |      AS BIGINT) AS alloc
      |  FROM r2, ks, sk)""".stripMargin

  // ------------------------------------------------------------- q165
  // The allocation report itself: per source its token mass, its
  // water-filled allocation, the implied per-doc sampling rate in ppm,
  // and whether it was taken whole. Exactness: the whole solve is
  // integer div arithmetic over exact token counts, so engine and
  // oracle agree bit-for-bit at any scale factor.
  private val q165 = QueryDef.of(
    (s, d) => allocFrame(s, d).orderBy(col("source")),
    s"""WITH $allocCtes
       |SELECT source, n_docs, tokens, alloc,
       |  CAST((CAST(alloc AS HUGEINT) * 1000000) // tokens AS BIGINT)
       |    AS weight_ppm,
       |  kept_full
       |FROM alloc ORDER BY source""".stripMargin)

  // ------------------------------------------------------------- q168
  // The REALIZED sample: apply q165's per-source rate with the
  // deterministic doc-hash rule (keep iff md5(doc_id) mod 1e6 <
  // weight_ppm — the q73/q161 split discipline, so reruns and engines
  // agree doc-for-doc), and report achieved vs allocated mass per
  // source. The rate table is sources-bounded and broadcasts; the keep
  // test is one map-side expression on the corpus scan — no extra
  // shuffle beyond the final per-source aggregate.
  private val q168 = QueryDef.of(
    (s, d) => {
      val rates = allocFrame(s, d)
        .select(col("source"), col("tokens"), col("alloc"),
          col("weight_ppm"))
      val kept = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          expr("size(filter(split(text, ' '), t -> t <> ''))")
            .cast("long").as("n"),
          expr("""cast(conv(substring(md5(cast(doc_id as string)), 1, 8),
                |  16, 10) as bigint) % 1000000""".stripMargin).as("hp"))
        .join(broadcast(rates), "source")
        .filter(col("hp") < col("weight_ppm"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("kept_docs"), sum(col("n")).as("kept_tokens"))
      rates.join(kept, Seq("source"), "left")
        .select(col("source"), col("tokens"), col("alloc"),
          coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
          expr("""(cast(coalesce(kept_tokens, 0L) as decimal(38,0))
                |  * 1000000) div tokens""".stripMargin).as("realized_ppm"))
        .orderBy(col("source"))
    },
    s"""WITH $allocCtes,
       |rates AS (
       |  SELECT source, tokens, alloc,
       |    CAST((CAST(alloc AS HUGEINT) * 1000000) // tokens AS BIGINT)
       |      AS weight_ppm
       |  FROM alloc),
       |kept AS (
       |  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS kept_docs,
       |    CAST(SUM(len(list_filter(string_split(d.text, ' '),
       |      t -> t <> ''))) AS BIGINT) AS kept_tokens
       |  FROM documents d JOIN rates USING (source)
       |  WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
       |      AS BIGINT) % 1000000 < rates.weight_ppm
       |  GROUP BY 1)
       |SELECT r.source, r.tokens, r.alloc,
       |  COALESCE(k.kept_docs, 0) AS kept_docs,
       |  COALESCE(k.kept_tokens, 0) AS kept_tokens,
       |  CAST((CAST(COALESCE(k.kept_tokens, 0) AS HUGEINT) * 1000000)
       |      // r.tokens AS BIGINT) AS realized_ppm
       |FROM rates r LEFT JOIN kept k USING (source)
       |ORDER BY r.source""".stripMargin)

  // ------------------------------------------------------------- q173
  // TEMPERATURE-scaled mixture weights (τ = ½): w_s ∝ tokens_s^τ — the
  // other standard mixing rule next to q165's water-filling (multi-
  // lingual/multi-source training runs up-weight small sources by
  // sampling p_s ∝ p_raw^τ, τ∈[0,1]; τ=½ is the common default). The
  // fractional power is made ENGINE-EXACT by computing the true integer
  // sqrt: a double sqrt seeds the value and two integer-division
  // correction steps pin floor(√tokens) regardless of either engine's
  // float rounding (a·a ≤ t is tested as a ≤ t div a — overflow-free at
  // any BIGINT). Output per source: raw share, temperature share, and
  // the up/down-weight factor, all exact ppm.
  //
  // Scale shape: one corpus scan into the (source)-grouped aggregate;
  // everything after runs on the sources-bounded frame (windows over
  // ~|sources| rows). Same 100 TB posture as q165.
  private[queries] val isqrtExpr =
    """CASE WHEN tokens <= 0 THEN 0L ELSE (
      |  CASE WHEN s0 + 2L <= tokens div (s0 + 2L) THEN s0 + 2L
      |       WHEN s0 + 1L <= tokens div (s0 + 1L) THEN s0 + 1L
      |       WHEN s0 <= tokens div s0 THEN s0
      |       WHEN s0 - 1L <= tokens div (s0 - 1L) THEN s0 - 1L
      |       ELSE s0 - 2L END) END""".stripMargin
  private val q173 = QueryDef.of(
    (s, d) => {
      val wAll = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.documents(s, d)
        .select(col("source"),
          expr("size(filter(split(text, ' '), t -> t <> ''))")
            .cast("long").as("n"))
        .groupBy(col("source")).agg(sum(col("n")).as("tokens"))
        // double sqrt SEED only — greatest(.,1) keeps the correction's
        // divisors nonzero; the CASE pins the exact floor(√tokens)
        .withColumn("s0", greatest(
          expr("cast(sqrt(cast(tokens as double)) as long)"), lit(1L)))
        .withColumn("w", expr(isqrtExpr))
        .withColumn("tot", sum(col("tokens")).over(wAll))
        .withColumn("wsum", sum(col("w")).over(wAll))
        .select(col("source"), col("tokens"), col("w"),
          // decimal(38,0) products: tokens·10⁶ wraps BIGINT past
          // ~9.2e12 tokens/source (the q165 lesson); w·10⁶ ≤ 3e15 is
          // safe but kept uniform for one shared shape
          expr("(cast(tokens as decimal(38,0)) * 1000000) div tot")
            .as("raw_ppm"),
          expr("(cast(w as decimal(38,0)) * 1000000) div wsum")
            .as("temp_ppm"),
          expr("""((cast(w as decimal(38,0)) * 1000000 div wsum) * 1000000)
                | div greatest(cast(tokens as decimal(38,0)) * 1000000
                |   div tot, 1)""".stripMargin).as("boost_ppm"))
        .orderBy(col("source"))
    },
    """WITH per AS (
      |  SELECT source,
      |    CAST(SUM(len(list_filter(string_split(text, ' '),
      |      t -> t <> ''))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY 1),
      |seed AS (
      |  SELECT source, tokens,
      |    GREATEST(CAST(sqrt(CAST(tokens AS DOUBLE)) AS BIGINT), 1)
      |      AS s0
      |  FROM per),
      |w AS (
      |  SELECT source, tokens,
      |    CASE WHEN tokens <= 0 THEN 0
      |         WHEN s0 + 2 <= tokens // (s0 + 2) THEN s0 + 2
      |         WHEN s0 + 1 <= tokens // (s0 + 1) THEN s0 + 1
      |         WHEN s0 <= tokens // s0 THEN s0
      |         WHEN s0 - 1 <= tokens // (s0 - 1) THEN s0 - 1
      |         ELSE s0 - 2 END AS w
      |  FROM seed),
      |t AS (SELECT *, SUM(tokens) OVER () AS tot, SUM(w) OVER () AS wsum
      |      FROM w)
      |SELECT source, tokens, CAST(w AS BIGINT) AS w,
      |  CAST((CAST(tokens AS HUGEINT) * 1000000) // tot AS BIGINT)
      |    AS raw_ppm,
      |  CAST((CAST(w AS HUGEINT) * 1000000) // wsum AS BIGINT) AS temp_ppm,
      |  CAST(((CAST(w AS HUGEINT) * 1000000 // wsum) * 1000000)
      |    // GREATEST(CAST(tokens AS HUGEINT) * 1000000 // tot, 1)
      |    AS BIGINT) AS boost_ppm
      |FROM t ORDER BY source""".stripMargin)

  // ------------------------------------------------------------- q176
  // WEIGHTED sampling without replacement, deterministic: each doc gets
  // priority p = (h48 · 10⁶) div w (w = its token count) and the K
  // smallest priorities win — a doc's win probability grows ∝ its
  // weight (the integer-exact cousin of Efraimidis–Spirakis u^(1/w)
  // priority sampling, whose fractional power no two engines reproduce
  // bit-for-bit; this rule is division-only, so the SAMPLE ITSELF is
  // the oracle-checked output, not a distributional claim). The
  // length-weighted pull is the common "sample by token mass, not doc
  // count" curation step between q55's uniform hash sample and q168's
  // per-source rates.
  //
  // Scale shape: priority is one map-side expression on the corpus
  // scan; the global bottom-K is TakeOrdered (per-partition top-K
  // partials, K·partitions to the driver-side merge — never a full
  // sort). The priority stays h div w in PLAIN BIGINT — h < 2^48
  // already carries 48 bits of resolution past any realistic weight,
  // and not scaling it means no overflow at any weight (w = 1 would
  // push a 10⁶-scaled priority past Long.MaxValue).
  private val SampleK = 200
  private val q176 = QueryDef.of(
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        greatest(expr("size(filter(split(text, ' '), t -> t <> ''))")
          .cast("long"), lit(1L)).as("w"),
        expr("""cast(conv(substring(md5(cast(doc_id as string)), 1, 12),
              |  16, 10) as bigint)""".stripMargin).as("h"))
      .select(col("doc_id"), col("w"),
        expr("h div w").as("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(SampleK),
    s"""SELECT doc_id,
       |  GREATEST(CAST(len(list_filter(string_split(text, ' '),
       |    t -> t <> '')) AS BIGINT), 1) AS w,
       |  CAST('0x' ||
       |      substring(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)
       |    // GREATEST(len(list_filter(string_split(text, ' '),
       |      t -> t <> '')), 1) AS priority
       |FROM documents
       |ORDER BY priority, doc_id LIMIT $SampleK""".stripMargin)

  // ------------------------------------------------------------- q179
  // GREEDY COVERAGE selection — pick K documents that together cover
  // the most BIGRAMS, one greedy argmax at a time (the submodular
  // facility-location/set-cover selection CRAIG-style data-curation
  // uses to build a small "maximally informative" subset; the classic
  // (1−1/e) guarantee is exactly this loop). Distinct from every
  // sampling op here (q55/q168/q176 score docs INDEPENDENTLY; coverage
  // gain is conditional on what is already picked — that conditioning
  // is the whole operator). The covered unit is the BIGRAM, not the
  // unigram: the fixture vocabulary saturates at 31 words (one doc
  // would cover it and stop the loop at rank 1), while the ~900-bigram
  // domain exercises a full K-round trajectory of falling conditional
  // gains — and n-gram coverage is what curation teams actually
  // maximize. Ties break (gain DESC, doc_id ASC); a round with zero
  // achievable gain stops the selection early, so the output is the
  // true greedy prefix, never padding.
  //
  // Scale shape: the distinct (doc_id, bigram) frame materializes ONCE
  // behind a checkpoint barrier (one corpus scan); each of the K
  // rounds is exactly ONE job — a map-side InSet anti-filter (the
  // covered set lives in the DRIVER: it is bounded at K·max-doc-
  // bigrams, the q141 fixed-size-model class, NOT vocabulary- or
  // corpus-sized) into a map-side-combined count whose argmax row
  // carries the winner's uncovered bigrams back via collect_list (one
  // doc-sized row — the covered set and every prefix total update in
  // the driver for free, no covered-count job, no anti-JOIN stage).
  // First shape measured 4.1 s at sf0.1 (two jobs + a broadcast build
  // per round — all job floor); this one-job-per-round form is 2.0 s
  // with bit-identical output. The oracle unrolls the identical K
  // rounds as MATERIALIZED CTEs (the q125 greedy-chain pattern).
  private val CoverK = 8
  // candidate-pool size for q179's lazy-greedy certificate; test-
  // overridable (CoverageSelectionSpec shrinks it to force the
  // distributed-fallback path — output must be identical at any value)
  private[queries] var CoverPoolM = 256
  // tier-2 hard cap (gains only; sets bulk-fetched at most ONCE, on the
  // first certificate failure). Bounds q179's driver state at
  // M2·max-doc-bigrams — a cap, never corpus-sized; test-overridable
  private[queries] var CoverPoolM2 = 4096
  /** Last q179 run's pool telemetry — Bench embeds it in the artifact
    * (r14 VERDICT #2: record the pool hit-rate next to the timing). */
  @volatile private[graft] var lastCoverStats: Map[String, Long] = Map.empty
  /** Shared COVERAGE-POSTING artifact: the distinct (doc_id, bigram)
    * frame every greedy round scans. A production curation job
    * materializes the posting frame once per corpus and runs many
    * selections (different K, different seeds for ablations) over it —
    * the [[graft.queries.Dedup.clusterLabels]] lifecycle exactly. The
    * value is the compact-checkpointed frame plus its row count — the
    * count rides the memo (one job at build time) so each q179 run's
    * shuffle sizing doesn't pay a count job over the checkpoint. */
  private[graft] val coverTok = Artifact("coverTok", eager = true) {
    (s, d) =>
      // per-doc bigram dedup happens MAP-SIDE (array_distinct before
      // the explode) — (doc_id, w) distinctness is within-document by
      // construction, so a post-explode .distinct() shuffle of the
      // whole bigram stream would buy nothing
      val f = graft.Tuning.compactCheckpoint(
        Tables.documents(s, d)
          .select(col("doc_id"),
            expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
          .select(col("doc_id"), explode(expr(
            """array_distinct(CASE WHEN size(toks) >= 2 THEN
              |  transform(sequence(0, size(toks) - 2),
              |    i -> concat_ws(' ', toks[i], toks[i + 1]))
              |ELSE array() END)""".stripMargin)).as("w")))
      (f, f.count())
  } { case (f, _) => Seq(f) }
  /** The posting-frame body shared by the self-contained oracle (inline
    * CTE) and the bench pair's pre-materialized table ([[oraclePrelude]]). */
  private val coverTokSqlBody =
    """SELECT DISTINCT doc_id, w FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |      i -> toks[i] || ' ' || toks[i + 1])) AS w
      |    FROM (SELECT doc_id, list_filter(string_split(text, ' '),
      |            t -> t <> '') AS toks
      |          FROM documents))""".stripMargin

  /** q179 oracle SQL. With `tokRel` empty the posting frame is an inline
    * MATERIALIZED CTE (self-contained — the correctness gate's form);
    * otherwise rounds read the named pre-built table (the bench pair's
    * form, r14 VERDICT #3: the engine's coverTok is a warmed lifecycle
    * artifact, so the timed DuckDB twin gets the same amortization). */
  private def coverSql(k: Int, tokRel: String = ""): String = {
    val tok = if (tokRel.isEmpty) "tok" else tokRel
    val b = new StringBuilder
    b ++= (if (tokRel.isEmpty)
      s"""WITH tok AS MATERIALIZED (
         |  $coverTokSqlBody),
         |""".stripMargin
    else "WITH ")
    b ++= s"""s1 AS MATERIALIZED (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
      |  FROM $tok GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1),
      |c1 AS MATERIALIZED (
      |  SELECT DISTINCT w FROM $tok
      |  WHERE doc_id IN (SELECT doc_id FROM s1)),
      |""".stripMargin
    (2 to k).foreach { i =>
      val prev = (1 until i).map(j => s"SELECT doc_id FROM s$j")
        .mkString(" UNION ALL ")
      b ++= s"""s$i AS MATERIALIZED (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain FROM $tok
        |  WHERE w NOT IN (SELECT w FROM c${i - 1})
        |    AND doc_id NOT IN ($prev)
        |  GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1),
        |c$i AS MATERIALIZED (
        |  SELECT w FROM c${i - 1} UNION
        |  SELECT w FROM $tok WHERE doc_id IN (SELECT doc_id FROM s$i)),
        |""".stripMargin
    }
    val rows = (1 to k).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS sel_rank, doc_id, gain,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM c$i) AS covered_total
         |FROM s$i""".stripMargin).mkString("\nUNION ALL\n")
    b ++= s"sel AS (\n$rows)\nSELECT * FROM sel ORDER BY sel_rank"
    b.result()
  }
  /** Bench-pair oracle lifecycle twin (r14 VERDICT #3): the engine's
    * coverTok posting frame is a warmed deploy-time artifact, so the
    * timed DuckDB denominator gets the same pre-materialized table —
    * built once, UNTIMED, by oracle_time.py. The correctness gate is
    * untouched: it runs the self-contained [[coverSql]] verbatim, and
    * oracle_time.py asserts the override returns row-identical output
    * before timing it. */
  val oraclePrelude: Seq[String] =
    Seq(s"CREATE TEMP TABLE cover_tok AS\n  $coverTokSqlBody")
  def oracleOverride: Map[String, String] =
    Map("q179_coverage_selection" -> coverSql(CoverK, "cover_tok"))

  private val q179 = QueryDef.of(
    (s, d) => {
      import s.implicits._
      // size-matched pin (graft.Tuning): every round scans this frame —
      // an oversized checkpoint multiplies the per-round map-task fixed
      // cost; the loop's groupBy shuffles are sized to the same count.
      // Memoized per (session, corpus) — r12: the pin build was the
      // query's single most expensive stage, and it's selection-
      // independent (the posting frame a curation job materializes once
      // and runs every selection ablation over)
      val (tok, tokCount) = coverTok.get(s, d)
      var covered = Set.empty[String]
      var picked = Vector.empty[(Long, Long, Long, Long)]
      var stop = false
      var statPool = 0L; var statBulk = 0L; var statDist = 0L
      graft.Tuning.withSuperstepConf(s,
        graft.Tuning.partsFor(tokCount)) {
      // TWO-TIER candidate pool with a submodular certificate (the
      // lazy-greedy/CELF bound, Minoux '78):
      //   tier 2 — the top-M2 docs by INITIAL gain, gains only (one
      //     TakeOrdered job; 16 bytes/doc of driver state);
      //   tier 1 — the top-M1 of those with their full bigram sets
      //     (one bounded fetch job — M1·max-doc-bigrams rows, the q141
      //     fixed-size class).
      // The K greedy rounds run ENTIRELY in the driver over held sets.
      // A held pick is provably the global greedy pick when its
      // conditional gain strictly exceeds (a) every unheld tier-2 doc's
      // initial gain and (b) the tier-2 floor B: submodularity bounds
      // any doc's conditional gain by its initial gain, and TakeOrdered
      // order bounds every doc outside tier 2 by B. On the first (a)
      // failure the remaining tier-2 sets are fetched in ONE batched
      // job (CELF's re-evaluation, amortized — r14's single-tier shape
      // paid a ~2-job distributed round per uncertified pick, 23 jobs
      // at sf0.1; this shape is ≤5 jobs for any K the cap certifies).
      // Ties at either bound fall back to the distributed per-round
      // loop below (an outside doc with equal conditional gain and a
      // smaller doc_id could win the deterministic tiebreak) —
      // exactness never rests on the pool being "big enough". Driver
      // state is capped at M2·max-doc-bigrams, never corpus-sized.
      val PoolM = CoverPoolM
      val PoolM2 = math.max(CoverPoolM2, PoolM)
      val gains = tok.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("doc_id"))
        .limit(PoolM2).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // outside docs have initial gain ≤ the tier-2 floor (vacuous when
      // the tier holds the whole corpus)
      val tierWhole = gains.length < PoolM2
      val outsideBound = if (tierWhole) 0L else gains.map(_._2).min
      val held = scala.collection.mutable.Map.empty[Long, Set[String]]
      def fetchSets(ids: Seq[Long]): Unit = if (ids.nonEmpty) {
        tok.join(broadcast(ids.toDF("doc_id")), Seq("doc_id"))
          .collect().groupBy(_.getLong(0))
          .foreach { case (id, rows) =>
            held(id) = rows.map(_.getString(1)).toSet }
      }
      fetchSets(gains.take(PoolM).map(_._1).toSeq)
      // unheld tier-2 docs, kept in (gain DESC, doc_id ASC) order so
      // head carries the certificate bound (a)
      var unheld: List[(Long, Long)] = gains.drop(PoolM).toList
      while (picked.size < CoverK && !stop) {
        val pickedIds = picked.map(_._2).toSet
        // driver argmax over held sets: conditional gain, ties by id
        val best = held.iterator
          .filter { case (id, _) => !pickedIds.contains(id) }
          .map { case (id, ws) => (id, (ws -- covered).size.toLong) }
          .foldLeft(Option.empty[(Long, Long)]) {
            case (acc, (id, g)) => acc match {
              case Some((bid, bg)) if bg > g || (bg == g && bid < id) => acc
              case _ => Some((id, g))
            }
          }
        if (unheld.nonEmpty && best.forall(_._2 <= unheld.head._2)) {
          // certificate (a) failed — an unheld tier-2 doc's initial
          // gain reaches the best held conditional gain. One batched
          // CELF re-evaluation: fetch every remaining tier-2 set.
          fetchSets(unheld.map(_._1)); unheld = Nil; statBulk += 1
        } else best match {
          case Some((id, g)) if g > outsideBound ||
              (tierWhole && g > 0L) =>
            covered ++= held(id)
            picked :+= ((picked.size + 1L, id, g, covered.size.toLong))
            statPool += 1
          case Some((_, 0L)) if tierWhole =>
            // whole corpus in the tier and nothing uncovered remains
            stop = true
          case _ =>
            // certificate (b) failed (or empty tier): ONE distributed
            // round — the exact pre-pool form — then re-check
            statDist += 1
            val ids = picked.map(_._2)
            var rem = tok
            // covered grows to thousands of bigrams — as an isin() it
            // became a thousands-literal In expression; a broadcast
            // anti-join keeps the probe a hash lookup and the plan
            // constant-size. The ≤K picked ids stay an isin (bounded).
            if (covered.nonEmpty)
              rem = rem.join(
                broadcast(covered.toSeq.toDF("w")), Seq("w"), "left_anti")
            if (ids.nonEmpty)
              rem = rem.filter(!col("doc_id").isin(ids: _*))
            val top = rem.groupBy(col("doc_id"))
              .agg(count(lit(1)).as("gain"))
              .orderBy(col("gain").desc, col("doc_id"))
              .limit(1).collect()
            if (top.isEmpty || top(0).getLong(1) == 0L) stop = true
            else {
              val id = top(0).getLong(0)
              // a distributed-round winner usually sits in a tier
              // (high conditional gain ⇒ high initial gain) — a held
              // set skips the fetch job; only a genuinely outside
              // winner pays the single-doc scan
              val ws = held.getOrElse(id,
                tok.filter(col("doc_id") === id)
                  .collect().map(_.getString(1)).toSet)
              held(id) = ws
              unheld = unheld.filterNot(_._1 == id)
              covered ++= ws
              picked :+= ((picked.size + 1L, id,
                top(0).getLong(1), covered.size.toLong))
            }
        }
      }
      lastCoverStats = Map(
        "pool_picks" -> statPool, "bulk_fetches" -> statBulk,
        "dist_rounds" -> statDist, "tier2_n" -> gains.length.toLong,
        "pool_m" -> PoolM.toLong, "pool_m2" -> PoolM2.toLong)
      }
      picked.toDF("sel_rank", "doc_id", "gain", "covered_total")
        .orderBy(col("sel_rank"))
    },
    coverSql(CoverK))

  // ------------------------------------------------------------- q182
  // Deterministic MIXTURE INTERLEAVE schedule — the step after the
  // allocation solves (q165/q173 decide HOW MUCH of each source; this
  // decides in WHAT ORDER the training job consumes it): weighted fair
  // queueing by virtual finish time. Source s with weight w_s (its
  // token mass) emits its k-th block at virtual time
  //   v(s, k) = ((k+1)·10¹²) div w_s
  // and the schedule is the global (v, source, k) sort — the classic
  // WFQ/stride-scheduling closed form, which turns the inherently
  // sequential weighted-round-robin loop into ONE sort (every engine
  // computes the identical integer keys, so the slot sequence is
  // bit-reproducible across engines and runs — the property a
  // resumable training job needs). Over any window the emitted counts
  // track w_s/W proportionally with bounded lag; no RNG anywhere.
  //
  // Scale shape: one corpus scan for the per-source token masses; the
  // schedule itself is (|S| × K_MAX) rows — sources-bounded, never
  // corpus-sized (a real run schedules BLOCKS, constant count per
  // horizon) — and the global bottom-200 is TakeOrdered (per-partition
  // top-K partials), not a full sort.
  private val SlotsOut = 200
  private val q182 = QueryDef.of(
    (s, d) => {
      val w = Tables.documents(s, d)
        .select(col("source"),
          expr("size(filter(split(text, ' '), t -> t <> ''))")
            .cast("long").as("n"))
        .groupBy(col("source")).agg(sum(col("n")).as("w"))
      // GREATEST(w, 1): a source whose docs are all empty text carries
      // zero token mass — it schedules last instead of dividing by zero
      w.select(col("source"), col("w"),
          explode(expr(s"sequence(0L, ${SlotsOut - 1}L)")).as("k"))
        .select(col("source"), col("k"),
          expr("((k + 1) * 1000000000000L) div greatest(w, 1L)")
            .as("vtime"))
        .orderBy(col("vtime"), col("source"), col("k"))
        .limit(SlotsOut)
        .select(row_number().over(Window.orderBy(
            col("vtime"), col("source"), col("k")))
          .cast("long").as("slot"),
          col("source"), col("k"), col("vtime"))
        .orderBy(col("slot"))
    },
    s"""WITH w AS (
       |  SELECT source, CAST(SUM(len(list_filter(string_split(text, ' '),
       |      t -> t <> ''))) AS BIGINT) AS w
       |  FROM documents GROUP BY source),
       |slots AS (
       |  SELECT source, k,
       |    ((k + 1) * 1000000000000) // GREATEST(w, 1) AS vtime
       |  FROM w CROSS JOIN (
       |    SELECT CAST(unnest(range(0, $SlotsOut)) AS BIGINT) AS k)),
       |top AS (
       |  SELECT * FROM slots
       |  ORDER BY vtime, source, k LIMIT $SlotsOut)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY vtime, source, k)
       |    AS BIGINT) AS slot,
       |  source, k, CAST(vtime AS BIGINT) AS vtime
       |FROM top ORDER BY slot""".stripMargin)

  // ------------------------------------------------------------ q188
  // REPETITION-AWARE token-budget allocation (the data-constrained
  // scaling shape, Muennighoff et al. '23: repeated epochs of the same
  // data are worth less than fresh tokens) — given a training budget
  // B = 1.5× the corpus's unique token mass, plan how many epochs each
  // source runs and what the DECAYED effective yield is. The decay is
  // made integer-exact: epoch e of source s (unique mass w_s) yields
  // w_s div 2^e effective tokens (δ = ½ halving per repeat — the
  // qualitative diminishing-returns curve with bit-reproducible
  // arithmetic, the q173 isqrt precedent). Utility per budget token
  // within an epoch is the constant 2^-e, so the greedy optimum is
  // layer-by-layer: all sources' epoch 0, then epoch 1, … — with the
  // boundary epoch filled in source order and its yield prorated
  // ((alloc·u) div max(w,1) — the q182 zero-mass-source guard). This is the "do we repeat source X a third
  // time or stop" planning readout a data-constrained run consults
  // next to q165's water-filling and q173's temperature shares.
  //
  // Scale shape: one corpus scan for per-source unique masses; the
  // epoch ladder and the running-budget window run on the
  // sources-bounded |S|·E frame (rows = dozens — the single-partition
  // window is control-plane-sized by construction, the q165 rule).
  private val BudgetEpochs = 5
  private val q188 = QueryDef.of(
    (s, d) => {
      val w = Tables.documents(s, d)
        .select(col("source"),
          expr("size(filter(split(text, ' '), t -> t <> ''))")
            .cast("long").as("n"))
        .groupBy(col("source")).agg(sum(col("n")).as("w"))
      val tot = w.agg(sum(col("w")).as("total"))
      val units = w.crossJoin(broadcast(tot))
        .select(col("source"), col("w"),
          expr("(3L * total) div 2L").as("budget"),
          explode(expr(s"sequence(0, ${BudgetEpochs - 1})")).as("e"))
        .withColumn("u", expr("w div shiftleft(1L, e)"))
      val win = Window.orderBy(col("e"), col("source"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      units
        .withColumn("cum", sum(col("w")).over(win))
        .withColumn("alloc", expr(
          """CASE WHEN cum <= budget THEN w
            |     WHEN cum - w < budget THEN budget - (cum - w)
            |     ELSE 0L END""".stripMargin))
        .groupBy(col("source"))
        .agg(first(col("w")).as("w_tokens"),
          sum(col("alloc")).as("alloc_tokens"),
          sum(when(col("alloc") === col("w"), 1L).otherwise(0L))
            .as("full_epochs"),
          sum(expr("(alloc * u) div greatest(w, 1L)")).as("yield_tokens"))
        .orderBy(col("source"))
    },
    s"""WITH w AS (
       |  SELECT source, CAST(SUM(len(list_filter(string_split(text, ' '),
       |      t -> t <> ''))) AS BIGINT) AS w
       |  FROM documents GROUP BY source),
       |tot AS (SELECT (3 * CAST(SUM(w) AS BIGINT)) // 2 AS budget FROM w),
       |units AS (
       |  SELECT source, w, budget, e.e AS e, w // (1 << e.e) AS u
       |  FROM w CROSS JOIN tot
       |  CROSS JOIN generate_series(0, ${BudgetEpochs - 1}) e(e)),
       |r AS (
       |  SELECT source, w, e, u, budget,
       |    SUM(w) OVER (ORDER BY e, source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM units),
       |a AS (
       |  SELECT source, w, e, u,
       |    CASE WHEN cum <= budget THEN w
       |         WHEN cum - w < budget THEN budget - (cum - w)
       |         ELSE 0 END AS alloc
       |  FROM r)
       |SELECT source, ANY_VALUE(w) AS w_tokens,
       |  CAST(SUM(alloc) AS BIGINT) AS alloc_tokens,
       |  CAST(SUM(CASE WHEN alloc = w THEN 1 ELSE 0 END) AS BIGINT)
       |    AS full_epochs,
       |  CAST(SUM((alloc * u) // GREATEST(w, 1)) AS BIGINT) AS yield_tokens
       |FROM a GROUP BY source ORDER BY source""".stripMargin)

  val defs: Map[String, QueryDef] = Map(
    "q165_mixture_allocation" -> q165,
    "q168_budget_sample" -> q168,
    "q173_temperature_mixture" -> q173,
    "q176_weighted_sample" -> q176,
    "q179_coverage_selection" -> q179,
    "q182_mixture_schedule" -> q182,
    "q188_repetition_budget" -> q188)
}
