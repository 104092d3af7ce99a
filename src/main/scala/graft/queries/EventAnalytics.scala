package graft.queries

import graft.{Artifact, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product/event analytics over the `events` table — the OLAP surface a
  * warehouse fed by the reference's MQTT→ClickHouse pipeline is actually
  * queried with (the reference stores events and leaves analysis to the
  * database; SURVEY.md §2.2 makes the analysis layer part of the engine
  * surface): ordered funnel conversion, time-series resampling with
  * forward fill, and cohort retention.
  *
  * Scale design notes (100 TB events):
  *  - Every wide operator keys on `user_id` (or (user, bucket)) — never on
  *    payloads; events are filtered to the relevant types *before* any
  *    shuffle, so the funnel shuffles only the ~3 stage-event subsets.
  *  - Per-user stage frames (one row per user) are orders of magnitude
  *    smaller than the event log; Spark broadcasts them onto the filtered
  *    streams (AQE picks broadcast automatically at real scale when the
  *    user dimension fits; at fixture scale the plans show it).
  *  - The hourly grid (q91) explodes at most `hours-in-range` rows per
  *    user — bounded fan-out, same shape as q67's chunking explode.
  *
  * Determinism: timestamps are compared/bucketed in µs — Tables' canonical
  * events loader adapts to the fixture's physical encoding (ns-long or µs
  * timestamp) and always yields a µs-precision session-TZ `ts`, matching
  * DuckDB's `CAST(ts AS TIMESTAMP)`; outputs format time as strings per
  * QueryDef rules; `value` doubles are copied, never re-accumulated, so
  * float order cannot diverge.
  */
object EventAnalytics {

  private val fmt = "yyyy-MM-dd HH:mm:ss"

  /** Events scan WITHOUT the parallelism floor (Tables.raw rationale:
    * these queries' first wide op is a user-key shuffle over a filtered
    * projection). Delegates to the single schema-adaptive loader. */
  private def eventsRaw(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = Tables.eventsRaw(s, d)

  // ------------------------------------------------------------- q90
  // Ordered funnel: signup → click (≤7d after signup) → purchase (≤7d
  // after that click). Classic conversion analysis; the ordering
  // constraint is what makes it more than three filters — each stage's
  // timestamp must be the FIRST qualifying event after the previous
  // stage. Three user-keyed aggregates chained by broadcast-sized
  // per-user frames; the event log itself is scanned once per stage
  // subset and never joined to itself.
  private val q90 = QueryDef.of(
    (s, d) => {
      val ev = eventsRaw(s, d)
      def stage(t: String) = ev.filter(col("event_type") === t)
      val s1 = stage("signup").groupBy(col("user_id"))
        .agg(min(col("ts")).as("signup_ts"))
      val c1 = stage("click")
        .join(broadcast(s1), Seq("user_id"))
        .filter(col("ts") > col("signup_ts") &&
          col("ts") <= col("signup_ts") + expr("INTERVAL 7 DAYS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("click_ts"))
      val p1 = stage("purchase")
        .join(broadcast(c1), Seq("user_id"))
        .filter(col("ts") > col("click_ts") &&
          col("ts") <= col("click_ts") + expr("INTERVAL 7 DAYS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("purchase_ts"))
      s1.join(c1, Seq("user_id"), "left")
        .join(p1, Seq("user_id"), "left")
        .select(col("user_id"),
          date_format(col("signup_ts"), fmt).as("signup_at"),
          date_format(col("click_ts"), fmt).as("click_at"),
          date_format(col("purchase_ts"), fmt).as("purchase_at"),
          (lit(1) + when(col("click_ts").isNotNull, 1).otherwise(0) +
            when(col("purchase_ts").isNotNull, 1).otherwise(0))
            .as("stage"))
        .orderBy(col("user_id"))
    },
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |s1 AS (
      |  SELECT user_id, MIN(ts) AS signup_ts FROM e
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |c1 AS (
      |  SELECT e.user_id, MIN(e.ts) AS click_ts
      |  FROM e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > signup_ts
      |    AND e.ts <= signup_ts + INTERVAL 7 DAY
      |  GROUP BY e.user_id),
      |p1 AS (
      |  SELECT e.user_id, MIN(e.ts) AS purchase_ts
      |  FROM e JOIN c1 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > click_ts
      |    AND e.ts <= click_ts + INTERVAL 7 DAY
      |  GROUP BY e.user_id)
      |SELECT s1.user_id,
      |  strftime(signup_ts, '%Y-%m-%d %H:%M:%S') AS signup_at,
      |  strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS click_at,
      |  strftime(purchase_ts, '%Y-%m-%d %H:%M:%S') AS purchase_at,
      |  1 + CASE WHEN click_ts IS NOT NULL THEN 1 ELSE 0 END
      |    + CASE WHEN purchase_ts IS NOT NULL THEN 1 ELSE 0 END AS stage
      |FROM s1 LEFT JOIN c1 USING (user_id) LEFT JOIN p1 USING (user_id)
      |ORDER BY user_id""".stripMargin)

  // ------------------------------------------------------------- q91
  // Time-series resample to an hourly grid with forward fill: per user,
  // the last `value` seen in each hour; hours with no event carry the
  // previous hour's value (LOCF — the gauge/sensor downsampling every
  // metrics pipeline runs). The grid is generated per user between that
  // user's first and last event hour (bounded explode), left-joined to
  // the per-hour last-value frame, then gap-filled with an
  // ignore-nulls running `last` window.
  //
  // Scale shape — two structural choices, both measured at sf0.1:
  //  1. "last event per (user, hour)" is max(struct(ts, event_id,
  //     value)) — a HASH aggregate whose map-side partial collapses
  //     duplicates before the shuffle, so the wire carries one row per
  //     (user, hour), not every event sorted (the row_number window
  //     formulation shuffled+sorted the whole event stream).
  //  2. The filled grid is emitted by SEGMENT EXPLODE, not
  //     grid⋈hourly+window: each hourly row owns the half-open hour
  //     range up to the user's next event hour (lead over the hourly
  //     frame), carries its LOCF value (ignore-nulls running last,
  //     computed on the SAME small frame), and explodes its range
  //     directly into output rows. The window/sort/join machinery thus
  //     touches only |distinct (user, hour)| rows (~95k) and the full
  //     grid (~1M rows, 10-100× larger on sparse gauges) exists only
  //     as the final narrow explode — nothing wide ever moves it.
  //     (4.3 s → ~2 s; the remaining cost is the output-contract
  //     global sort of the 1M-row result.)
  private val q91 = QueryDef.of(
    (s, d) => {
      val ev = eventsRaw(s, d)
      val hourly = ev
        .withColumn("hour", date_trunc("hour", col("ts")))
        .groupBy(col("user_id"), col("hour"))
        .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"))
        .select(col("user_id"), col("hour"), col("m.value").as("value"))
      val wUser = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      val segs = hourly
        .withColumn("filled", last(col("value"), ignoreNulls = true)
          .over(wUser.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
        .withColumn("nxt", lead(col("hour"), 1).over(wUser))
      segs
        // AQE sizes the post-window stage on PRE-explode stats (~95k
        // narrow rows), coalesces it, and the 1M-row explode + the
        // range-sort map side inherit that near-serial parallelism —
        // AQE cannot see through explode fan-out. An explicit
        // numbered repartition (REPARTITION_BY_NUM — AQE leaves it
        // alone) spreads the segments cluster-wide before they
        // expand; the shuffle moves only the small segment frame.
        // (Measured: 1.8-2.7 s under AQE coalescing vs 0.8 s spread.)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("user_id"), col("value"), col("filled"),
          col("hour").as("h0"),
          explode(expr("sequence(hour, " +
            "coalesce(nxt - INTERVAL 1 HOUR, hour), INTERVAL 1 HOUR)"))
            .as("hour"))
        .select(col("user_id"), date_format(col("hour"), fmt).as("hour"),
          col("filled"),
          (col("hour") === col("h0") && col("value").isNotNull)
            .cast("int").as("had_event"))
        .orderBy(col("user_id"), col("hour"))
    },
    """WITH e AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, "value"
      |  FROM events),
      |hourly AS (
      |  SELECT user_id, hour, "value" FROM (
      |    SELECT user_id, date_trunc('hour', ts) AS hour, "value",
      |      ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
      |        ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM e) WHERE rn = 1),
      |grid AS (
      |  -- scalar (list) generate_series: the table-function form cannot
      |  -- take lateral column args in DuckDB
      |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
      |    AS hour
      |  FROM (SELECT user_id, date_trunc('hour', MIN(ts)) AS h0,
      |          date_trunc('hour', MAX(ts)) AS h1
      |        FROM e GROUP BY user_id))
      |SELECT grid.user_id,
      |  strftime(grid.hour, '%Y-%m-%d %H:%M:%S') AS hour,
      |  last_value("value" IGNORE NULLS) OVER (
      |    PARTITION BY grid.user_id ORDER BY grid.hour
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
      |  CAST("value" IS NOT NULL AS INT) AS had_event
      |FROM grid LEFT JOIN hourly ON grid.user_id = hourly.user_id
      |  AND grid.hour = hourly.hour
      |ORDER BY grid.user_id, hour""".stripMargin)

  // ------------------------------------------------------------- q95
  // Cohort retention: users grouped by first-seen week (cohort), counted
  // as retained in week N if they have any event N weeks after their
  // first. Week offset is pure integer date math ((event_date −
  // first_date) div 7) — no calendar-week truncation ambiguity in the
  // offset; the cohort label uses date_trunc('week') which is
  // Monday-based in both engines. Two user-keyed aggregates; the
  // retention matrix is (weeks × weeks) tiny.
  private val q95 = QueryDef.of(
    (s, d) => {
      val ev = eventsRaw(s, d)
      val first = ev.groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"))
      ev.join(broadcast(first), Seq("user_id"))
        .select(col("user_id"),
          date_format(date_trunc("week", col("first_ts")), "yyyy-MM-dd")
            .as("cohort_week"),
          expr("CAST(datediff(to_date(ts), to_date(first_ts)) AS BIGINT)" +
            " div 7").as("week_n"))
        .distinct()
        .groupBy(col("cohort_week"), col("week_n"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_week"), col("week_n"))
    },
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |first AS (
      |  SELECT user_id, MIN(ts) AS first_ts FROM e GROUP BY user_id),
      |marks AS (
      |  SELECT DISTINCT e.user_id,
      |    strftime(date_trunc('week', first_ts), '%Y-%m-%d') AS cohort_week,
      |    (CAST(e.ts AS DATE) - CAST(first_ts AS DATE)) // 7 AS week_n
      |  FROM e JOIN first USING (user_id))
      |SELECT cohort_week, week_n, COUNT(*) AS n_users
      |FROM marks
      |GROUP BY cohort_week, week_n
      |ORDER BY cohort_week, week_n""".stripMargin)

  // ------------------------------------------------------------- q96
  // Incremental aggregate maintenance (materialized-view upkeep): a
  // per-(user, event_type) state table built from the base window is
  // merged with a delta batch's partial aggregate, and the merge must
  // equal a full recompute — the invariant that lets a 100 TB warehouse
  // refresh an aggregate by touching only the delta. State here is the
  // classic mergeable triple (count, sum, max); sums are exact cents
  // (q01b pattern) so merge order cannot matter. The oracle IS the full
  // recompute — equality is what's checked.
  private val q96 = QueryDef.of(
    (s, d) => {
      val ev = eventsRaw(s, d)
        .withColumn("cents",
          expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
      val cutoff = "2024-01-21 00:00:00"
      def partial(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
            max(col("cents")).as("max_cents"))
      val base  = partial(ev.filter(col("ts") <  lit(cutoff).cast("timestamp")))
      val delta = partial(ev.filter(col("ts") >= lit(cutoff).cast("timestamp")))
      base.select(col("user_id"), col("event_type"), col("n"),
          col("sum_cents"), col("max_cents"))
        .join(delta.select(col("user_id"), col("event_type"),
          col("n").as("dn"), col("sum_cents").as("dsum"),
          col("max_cents").as("dmax")), Seq("user_id", "event_type"),
          "full_outer")
        .select(col("user_id"), col("event_type"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n"),
          (coalesce(col("sum_cents"), lit(0L)) +
            coalesce(col("dsum"), lit(0L))).as("sum_cents"),
          greatest(coalesce(col("max_cents"), lit(Long.MinValue)),
            coalesce(col("dmax"), lit(Long.MinValue))).as("max_cents"))
        .orderBy(col("user_id"), col("event_type"))
    },
    """SELECT user_id, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(CAST("value" AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  MAX(CAST(CAST("value" AS DECIMAL(12,2)) * 100 AS BIGINT)) AS max_cents
      |FROM events
      |GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin)

  // ------------------------------------------------------------- q97
  // Last-touch attribution: each purchase is credited to the most
  // recent prior engagement (click/view) by the same user within 24 h.
  // Composed as the q25 as-of pattern — tagged union + one user-keyed
  // sort + a running "last engagement" window — so the event log
  // shuffles ONCE and is never self-joined; the oracle uses a literal
  // correlated subquery (the semantics, stated naively).
  private val q97 = QueryDef.of(
    (s, d) => {
      val ev = eventsRaw(s, d)
      val tagged = ev
        .filter(col("event_type").isin("purchase", "click", "view"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"),
          when(col("event_type") === "purchase", 0).otherwise(1)
            .as("is_touch"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("is_touch").desc, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      // At the same µs, engagements sort BEFORE the purchase (is_touch
      // desc with purchase=0) so a same-timestamp touch is attributable;
      // the frame ends one row back so a purchase can't credit itself.
      val attributed = tagged
        .withColumn("last_touch_id", last(
          when(col("is_touch") === 1, col("event_id")), ignoreNulls = true)
          .over(w))
        .withColumn("last_touch_ts", last(
          when(col("is_touch") === 1, col("ts")), ignoreNulls = true)
          .over(w))
        .filter(col("event_type") === "purchase")
      attributed.select(col("event_id").as("purchase_id"), col("user_id"),
          date_format(col("ts"), fmt).as("purchase_at"),
          when(col("last_touch_ts") >=
            col("ts") - expr("INTERVAL 24 HOURS"), col("last_touch_id"))
            .as("touch_id"))
        .orderBy(col("purchase_id"))
    },
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events),
      |p AS (SELECT * FROM e WHERE event_type = 'purchase')
      |SELECT p.event_id AS purchase_id, p.user_id,
      |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_at,
      |  (SELECT t.event_id FROM e t
      |   WHERE t.user_id = p.user_id
      |     AND t.event_type IN ('click', 'view')
      |     AND t.ts <= p.ts AND t.ts >= p.ts - INTERVAL 24 HOUR
      |   ORDER BY t.ts DESC, t.event_id DESC LIMIT 1) AS touch_id
      |FROM p
      |ORDER BY purchase_id""".stripMargin)

  // ------------------------------------------------------------- q110
  // Per-entity ordered fold: EWMA-style decayed value per user (the
  // feature-engineering shape — decayed counters, session freshness,
  // fraud velocity features — where each step depends on the PREVIOUS
  // result, so no window frame expresses it). Recurrence in integer
  // micro-units, ewma' = (ewma + v_micro) div 2: the halving decay makes
  // every step exact integer arithmetic, so the oracle replays the fold
  // bit-for-bit (a float alpha is the production one-liner; ln/pow-free
  // per the q77 precedent). Scale shape: ONE user-keyed aggregate;
  // collect_list is bounded by per-user event counts (feature pipelines
  // window the lookback for exactly this reason — documented cap), and
  // the fold runs over the sorted (ts, event_id) sequence so input
  // partitioning can't reorder it.
  private val q110 = QueryDef.of(
    (s, d) => {
      val ev = eventsRaw(s, d).select(
        col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsus"),
        (col("value").cast("decimal(18,6)") * 1000000).cast("long")
          .as("vm"))
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("vm")).as("sum_micro"),
          expr(
            """aggregate(
              |  transform(sort_array(collect_list(struct(tsus, event_id, vm))),
              |    x -> x.vm),
              |  0L, (acc, v) -> (acc + v) div 2)""".stripMargin)
            .as("ewma_micro"))
        .orderBy(col("user_id"))
    },
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsus,
      |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vm
      |  FROM events)
      |SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(vm) AS BIGINT) AS sum_micro,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT), list(vm ORDER BY tsus, event_id)),
      |    (acc, v) -> (acc + v) // 2) AS ewma_micro
      |FROM ev
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin)

  // ------------------------------------------------------------- q156
  // Holt linear-trend forecast (double exponential smoothing) over the
  // per-type hourly event-count series — the capacity-planning /
  // anomaly-baseline readout ("what does next hour look like") that a
  // single EWMA (q110) can't produce because it has no trend term. The
  // recurrence, α = β = 1/2 so every step is exact integer halving
  // (the q110 discipline, two coupled registers instead of one):
  //
  //   l' = (y·1e6 + l + t) div 2          (level)
  //   t' = ((l' − l) + t) div 2           (trend)
  //   forecast(h) = l' + h·t'
  //
  // Scale shape: ONE (type, hour) count aggregate (map-side combined
  // over the event scan), then one per-type fold over the sorted
  // hourly series — series length is bounded by the time range, not
  // the event count, and the fold runs inside the row (no window, no
  // second shuffle). The oracle replays the fold via list_reduce with
  // a struct accumulator, l' duplicated inline exactly as the engine
  // lambda does, so both engines truncate identically.
  private val q156 = QueryDef.of(
    (s, d) => {
      val hourly = eventsRaw(s, d)
        .select(col("event_type"),
          expr("unix_micros(ts) div 3600000000L").as("hr"))
        .groupBy(col("event_type"), col("hr"))
        .agg(count(lit(1)).as("y"))
      hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          expr("sort_array(collect_list(struct(hr, y)))").as("s"))
        .withColumn("m", expr(
          """aggregate(
            |  slice(s, 2, greatest(size(s) - 1, 0)),
            |  struct(s[0].y * 1000000L AS l, 0L AS t),
            |  (acc, x) -> struct(
            |    (x.y * 1000000L + acc.l + acc.t) div 2 AS l,
            |    (((x.y * 1000000L + acc.l + acc.t) div 2 - acc.l)
            |      + acc.t) div 2 AS t))""".stripMargin))
        .select(col("event_type"), col("n_hours"),
          col("m.l").as("level_micro"), col("m.t").as("trend_micro"),
          (col("m.l") + col("m.t")).as("fc1_micro"),
          (col("m.l") + lit(2) * col("m.t")).as("fc2_micro"),
          (col("m.l") + lit(3) * col("m.t")).as("fc3_micro"))
        .orderBy(col("event_type"))
    },
    """WITH RECURSIVE hourly AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |series AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
      |    list(y ORDER BY hr) AS ys
      |  FROM hourly GROUP BY event_type),
      |-- step-indexed recursion, NOT list_reduce: DuckDB 1.0's
      |-- list_reduce mis-evaluates STRUCT accumulators past the first
      |-- step (isolated steps are correct, chained ones drift — the
      |-- second field sees a stale register), so the coupled (l, t)
      |-- fold recurses explicitly instead
      |steps AS (
      |  SELECT event_type, n_hours, ys, CAST(1 AS BIGINT) AS i,
      |    ys[1] * 1000000 AS l, CAST(0 AS BIGINT) AS t
      |  FROM series
      |  UNION ALL
      |  SELECT event_type, n_hours, ys, i + 1,
      |    (ys[i + 1] * 1000000 + l + t) // 2,
      |    (((ys[i + 1] * 1000000 + l + t) // 2 - l) + t) // 2
      |  FROM steps WHERE i < n_hours),
      |folded AS (
      |  SELECT event_type, n_hours, l, t FROM steps WHERE i = n_hours)
      |SELECT event_type, n_hours,
      |  l AS level_micro, t AS trend_micro,
      |  l + t AS fc1_micro,
      |  l + 2 * t AS fc2_micro,
      |  l + 3 * t AS fc3_micro
      |FROM folded ORDER BY event_type""".stripMargin)

  // ------------------------------------------------------------- q157
  // Grouped closed-form OLS (per-type linear trend of the hourly
  // event-count series) — the "is this metric drifting, and how fast"
  // readout, and the distributed-regression shape that needs NO
  // iteration: slope and intercept come from the five sufficient
  // statistics (n, Σx, Σy, Σxy, Σx²), i.e. ONE map-side-combined
  // aggregate per group — contrast q136 (iterative GD, D+1 longs per
  // STEP) and q156 (sequential fold). Hours are re-based to x = hr −
  // min(hr) per type (slope-invariant, keeps Σx² small: with raw
  // epoch-hours the n·Σx² term is ~10¹⁶ at 180 points and grows with
  // the square of the epoch offset; re-based it is bounded by the
  // series LENGTH³ ~ 6·10⁶).
  //
  //   slope_micro = (1e6·(n·Σxy − Σx·Σy)) div (n·Σx² − Σx²)
  //   ic_micro    = (1e6·Σy − slope_micro·Σx) div n
  //   fc_micro    = ic_micro + slope_micro·(x_max + 1)   (next hour)
  //
  // ic/fc deliberately reuse the already-truncated slope_micro (OUR
  // documented fixed-point semantics — both engines stack the same
  // truncations). The min(hr) re-base is a tiny per-type frame
  // broadcast back; everything else is the single statistics
  // aggregate.
  //
  // Degenerate-group guard: a type seen in exactly ONE hour has
  // n = 1, sx = sxx = 0, so the denominator n·Σx² − Σx² is 0 — under
  // Spark's ANSI mode `div` would throw DIVIDE_BY_ZERO and kill the
  // whole query on a perfectly plausible input (a brand-new event
  // type). A one-point series has no defined trend, so both engines
  // require n ≥ 2 distinct hours BEFORE fitting (with ≥2 distinct x
  // the denominator is n·Var(x) > 0, strictly). OlsTrendSpec pins the
  // single-hour case.
  private val q157 = QueryDef.of(
    (s, d) => {
      val hourly = eventsRaw(s, d)
        .select(col("event_type"),
          expr("unix_micros(ts) div 3600000000L").as("hr"))
        .groupBy(col("event_type"), col("hr"))
        .agg(count(lit(1)).as("y"))
      val minh = hourly.groupBy(col("event_type"))
        .agg(min(col("hr")).as("h0"))
      hourly.join(broadcast(minh), "event_type")
        .withColumn("x", col("hr") - col("h0"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          max(col("x")).as("xmax"))
        .filter(col("n") >= 2)
        .withColumn("slope_micro", expr(
          "(1000000L * (n * sxy - sx * sy)) div (n * sxx - sx * sx)"))
        .withColumn("ic_micro",
          expr("(1000000L * sy - slope_micro * sx) div n"))
        .select(col("event_type"), col("n").as("n_hours"),
          col("slope_micro"), col("ic_micro"),
          (col("ic_micro") +
            col("slope_micro") * (col("xmax") + 1)).as("fc_micro"))
        .orderBy(col("event_type"))
    },
    """WITH hourly AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |minh AS (
      |  SELECT event_type, MIN(hr) AS h0 FROM hourly GROUP BY 1),
      |st AS (
      |  SELECT h.event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(hr - h0) AS BIGINT) AS sx,
      |    CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM((hr - h0) * y) AS BIGINT) AS sxy,
      |    CAST(SUM((hr - h0) * (hr - h0)) AS BIGINT) AS sxx,
      |    CAST(MAX(hr - h0) AS BIGINT) AS xmax
      |  FROM hourly h JOIN minh USING (event_type)
      |  GROUP BY h.event_type
      |  HAVING COUNT(*) >= 2),
      |fit AS (
      |  SELECT *,
      |    (1000000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx)
      |      AS slope_micro
      |  FROM st),
      |fit2 AS (
      |  SELECT *,
      |    (1000000 * sy - slope_micro * sx) // n AS ic_micro
      |  FROM fit)
      |SELECT event_type, n AS n_hours, slope_micro, ic_micro,
      |  ic_micro + slope_micro * (xmax + 1) AS fc_micro
      |FROM fit2 ORDER BY event_type""".stripMargin)

  // ------------------------------------------------------------- q128
  // Markov next-event transition matrix (session path analysis — the
  // "where do users go after X" product query, and the transition model
  // a session-simulation or anomaly scorer trains on): per-user
  // time-ordered event pairs via ONE user-keyed lead window (the q27
  // ordering contract: (ts, event_id) is the deterministic total order
  // within a user), then vocab²-bounded pair counts and integer
  // transition probabilities p_micro = (1e6·n) div n_from (q107's
  // log-free fixed-point precedent). Scale shape: the only event-sized
  // shuffle is the user_id window; both aggregates collapse to
  // event-type vocabulary size (here 5×5), and the from-totals join is
  // a broadcast. No self-join of the log anywhere.
  private val q128 = QueryDef.of(
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, d)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .select(col("event_type").as("from_ev"),
          col("next_type").as("to_ev"))
      val fromTot = pairs.groupBy(col("from_ev"))
        .agg(count(lit(1)).as("n_from"))
      pairs.groupBy(col("from_ev"), col("to_ev"))
        .agg(count(lit(1)).as("n"))
        .join(broadcast(fromTot), Seq("from_ev"))
        .select(col("from_ev"), col("to_ev"), col("n"),
          expr("(1000000L * n) div n_from").as("p_micro"))
        .orderBy(col("from_ev"), col("to_ev"))
    },
    """WITH seq AS (
      |  SELECT event_type AS from_ev,
      |    LEAD(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_ev
      |  FROM events),
      |pairs AS (SELECT from_ev, to_ev FROM seq WHERE to_ev IS NOT NULL),
      |ft AS (SELECT from_ev, COUNT(*) AS n_from FROM pairs GROUP BY 1),
      |tr AS (SELECT from_ev, to_ev, COUNT(*) AS n FROM pairs GROUP BY 1, 2)
      |SELECT tr.from_ev, tr.to_ev, tr.n,
      |  CAST((1000000 * tr.n) // ft.n_from AS BIGINT) AS p_micro
      |FROM tr JOIN ft USING (from_ev)
      |ORDER BY from_ev, to_ev""".stripMargin)

  // ------------------------------------------------------------- q137
  // Event-sequence pattern mining (MATCH_RECOGNIZE-lite): each user's
  // time-ordered event types collapse to a compact symbol string
  // (s/v/c/p/e initials — distinct across the vocabulary), and behavior
  // patterns become plain regexes over that string: "signup eventually
  // purchases", "3+ consecutive views", "click converts with only
  // errors between", "view-click loop ends in purchase". The per-
  // pattern user counts are the product/path-analysis query sequence
  // databases answer with MATCH_RECOGNIZE and Spark lacks as an
  // operator — composed here from one user-keyed aggregate.
  //
  // Scale shape: ONE user-keyed shuffle (the collect_list agg); the
  // per-user sequence is bounded by per-user event counts (production
  // windows the lookback, q110's documented cap); the regex pass is
  // map-side over one compact string per user, and the final count is
  // patterns×users collapsed to |patterns| rows. Both engines run RE2/
  // Java-regex-compatible patterns (no lookaround), so counts match.
  private val q137 = QueryDef.of(
    (s, d) => {
      val pats = Seq(
        "signup_then_purchase" -> "s.*p",
        "three_views_in_a_row" -> "vvv",
        "click_errors_purchase" -> "ce*p",
        "view_click_loop_purchase" -> "(vc)+p")
      val seqs = eventsRaw(s, d)
        .groupBy(col("user_id"))
        .agg(expr(
          """array_join(transform(
            |  sort_array(collect_list(struct(ts, event_id,
            |    substring(event_type, 1, 1) AS c))),
            |  x -> x.c), '')""".stripMargin).as("seq"))
      seqs
        .select(explode(array(pats.map { case (name, re) =>
          struct(lit(name).as("pattern"),
            col("seq").rlike(re).cast("long").as("m"))
        }: _*)).as("pm"))
        .groupBy(col("pm.pattern").as("pattern"))
        .agg(sum(col("pm.m")).as("n_users"))
        .orderBy(col("pattern"))
    },
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
      |    substring(event_type, 1, 1) AS c
      |  FROM events),
      |seqs AS (
      |  SELECT user_id, string_agg(c, '' ORDER BY ts, event_id) AS seq
      |  FROM e GROUP BY user_id),
      |pats(pattern, re) AS (VALUES
      |  ('signup_then_purchase', 's.*p'),
      |  ('three_views_in_a_row', 'vvv'),
      |  ('click_errors_purchase', 'ce*p'),
      |  ('view_click_loop_purchase', '(vc)+p'))
      |SELECT pattern,
      |  CAST(SUM(CASE WHEN regexp_matches(seq, re) THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_users
      |FROM seqs CROSS JOIN pats
      |GROUP BY pattern
      |ORDER BY pattern""".stripMargin)

  // ------------------------------------------------------------- q166
  // Exact heavy hitters (power users) via the two-pass Misra–Gries
  // recipe — the deterministic-memory path to "which keys exceed 1/K of
  // all traffic" that a full COUNT/HAVING can answer only by shuffling
  // EVERY key. Pass 1: one global aggregate folds the stream into a
  // ≤ K−1-counter mergeable MG summary ([[graft.functions.MisraGriesAgg]]
  // — superset guarantee: every id with frequency > N/K is present no
  // matter how partials merge) plus the total count; the candidate list
  // is a BOUNDED driver read (≤ 127 ids). Pass 2: re-count ONLY the
  // candidates exactly (the isin filter pushes to the scan) and keep
  // count·K > N — by the superset property this equals the true
  // heavy-hitter set, independent of partitioning, so the oracle is the
  // plain exact HAVING. At 100 TB pass 1 shuffles 127 counters per
  // partition (not 10⁹ user keys) and pass 2's shuffle carries only
  // candidate rows.
  private val q166 = QueryDef.of(
    (s, d) => {
      val ev = eventsRaw(s, d)
      val mg = udaf(graft.functions.MisraGriesAgg)
      val sk = ev.agg(mg(col("user_id")).as("cand"),
        count(lit(1)).as("n")).head()
      val cand = sk.getSeq[Long](0)
      val n = sk.getLong(1)
      ev.filter(col("user_id").isin(cand: _*))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .filter(col("n_events") * graft.functions.MisraGriesAgg.K > n)
        // decimal(38,0) intermediate: same silent-wrap-vs-raise hazard
        // as Mixing's weight_ppm once a single key passes ~9.2e12 events
        .withColumn("share_ppm",
          expr(s"(cast(n_events as decimal(38,0)) * 1000000) div ${n}L"))
        .orderBy(col("user_id"))
    },
    """WITH tot AS (SELECT COUNT(*) AS n FROM events)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST((CAST(COUNT(*) AS HUGEINT) * 1000000) // tot.n AS BIGINT)
      |    AS share_ppm
      |FROM events, tot
      |GROUP BY user_id, tot.n
      |HAVING COUNT(*) * 128 > tot.n
      |ORDER BY user_id""".stripMargin)

  // ------------------------------------------------------------- q181
  // CUSUM changepoint detection over the per-type hourly count series —
  // the sequential drift monitor (Page's test) next to q122's pointwise
  // MAD outliers and q156's Holt baseline: MAD flags a single weird
  // hour, CUSUM accumulates SUSTAINED small shifts that no single point
  // trips. The textbook recurrence S_k = max(0, S_{k−1} + x_k) is a
  // non-associative left fold, but it has an exact DISTRIBUTED rewrite:
  //   S_k = P_k − min(0, min_{j≤k} P_j),   P_k = Σ_{i≤k} x_i
  // (the running max-with-floor is the prefix sum minus its own running
  // minimum — the q109/q148 distributed-prefix family's third member).
  // x_k = y_k·10⁶ − mean_micro (deviation from the per-type hourly
  // mean, exact integer µ-units), alarm where S_k > 2·mean_micro.
  //
  // Scale shape: ONE (type, hour) count aggregate over the event scan
  // (map-side partials); both windows (prefix sum, prefix min) run per
  // type over the HOURS-bounded series — the window input is time-
  // range-sized, never event-count-sized. The oracle replays the same
  // two windows; an independent Scala replay of the sequential
  // recurrence pins the rewrite in CusumSpec.
  private val q181 = QueryDef.of(
    (s, d) => {
      val hourly = eventsRaw(s, d)
        .select(col("event_type"),
          expr("unix_micros(ts) div 3600000000L").as("hr"))
        .groupBy(col("event_type"), col("hr"))
        .agg(count(lit(1)).as("y"))
      val stats = hourly.groupBy(col("event_type"))
        .agg(sum(col("y")).as("tot"), count(lit(1)).as("n_hours"))
        .select(col("event_type"),
          expr("(tot * 1000000L) div n_hours").as("mean_micro"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hourly.join(broadcast(stats), "event_type")
        .withColumn("x", col("y") * lit(1000000L) - col("mean_micro"))
        .withColumn("p", sum(col("x")).over(w))
        .withColumn("s_micro",
          col("p") - least(min(col("p")).over(w), lit(0L)))
        .filter(col("s_micro") > lit(2L) * col("mean_micro"))
        .select(col("event_type"), col("hr"), col("y"),
          col("s_micro"), col("mean_micro"))
        .orderBy(col("event_type"), col("hr"))
    },
    """WITH hourly AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type,
      |    (CAST(SUM(y) AS BIGINT) * 1000000) // COUNT(*) AS mean_micro
      |  FROM hourly GROUP BY event_type),
      |px AS (
      |  SELECT h.event_type, hr, y, mean_micro,
      |    SUM(y * 1000000 - mean_micro) OVER (
      |      PARTITION BY h.event_type ORDER BY hr
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      |  FROM hourly h JOIN st ON h.event_type = st.event_type),
      |cs AS (
      |  SELECT event_type, hr, y, mean_micro,
      |    CAST(p - LEAST(MIN(p) OVER (
      |      PARTITION BY event_type ORDER BY hr
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
      |      AS BIGINT) AS s_micro
      |  FROM px)
      |SELECT event_type, hr, y, s_micro, mean_micro
      |FROM cs WHERE s_micro > 2 * mean_micro
      |ORDER BY event_type, hr""".stripMargin)

  // ------------------------------------------------------------- q186
  // SLIDING-WINDOW distinct users via per-hour KMV sketch REUSE — the
  // sketch-algebra answer to "distinct users in every trailing 6-hour
  // window": a KMV sketch of a union equals the k-min of the union of
  // the per-part k-mins (k smallest of A∪B survive inside
  // kmin(A)∪kmin(B) by construction), so per-HOUR sketches are
  // computed once and every overlapping window merges 6 of them —
  // work ∝ hours × window, never rows × windows. At 100 TB/day this
  // is THE way trailing-window distinct is served (the naive form
  // re-scans every row |window|/|slide| times); the exact distinct
  // rides along gate-only so sketch error is measured, not asserted.
  //
  // Scale shape: one event scan → (hour)-keyed KMV aggregate (O(K)
  // map-side partials, the q105 contract); the hour↔window range join
  // and the flatten-distinct-sort merges run on the HOURS-bounded
  // sketch frame (checkpoint-pinned so the window self-join can't
  // recompute the corpus agg). Estimates are the q105 integer formula,
  // so the oracle rebuilds every value bit-for-bit (q175's merge
  // algebra, on the time axis instead of the source axis).
  /** The per-event (hour, 48-bit user hash) stream behind the hourly
    * KMV sketches — shared by the sketch build and q186's gate-only
    * exact leg. */
  private def hourUserHashes(s: SparkSession, d: String): DataFrame =
    eventsRaw(s, d).select(
      expr("unix_micros(ts) div 3600000000L").as("hr"),
      expr("""cast(conv(substring(md5(cast(user_id as string)), 1, 12),
            |  16, 10) as bigint)""".stripMargin).as("h"))

  /** Per-hour KMV sketch artifact — the checkpoint-pinned hours-row
    * frame every trailing-window merge reads. Memoized per (session,
    * corpus) so the gated (q186) and production sketch-only (q186b)
    * entry points share ONE event scan per session. */
  private val hourlyUserSketches =
    Artifact.frame("hourlySketches", eager = true) { (s, d) =>
      val kmv = udaf(graft.functions.KmvAgg)
      hourUserHashes(s, d).groupBy(col("hr"))
        .agg(kmv(col("h")).as("sk")).localCheckpoint()
    }

  /** Trailing 6-hour window merges over the pinned hourly sketch frame
    * — work ∝ hours × window, never rows × windows. */
  private def slidingDistinctEstimates(hourly: DataFrame): DataFrame =
    hourly.select(col("hr").as("w"))
      .join(hourly, col("hr").between(col("w") - 5, col("w")))
      .groupBy(col("w"))
      .agg(expr(
        """slice(array_sort(array_distinct(flatten(collect_list(sk)))),
          |  1, 64)""".stripMargin).as("mu"))
      .select(col("w"), expr(
        """CASE WHEN size(mu) < 64 THEN cast(size(mu) AS bigint)
          |ELSE (63L * 281474976710656L) div element_at(mu, 64) END"""
          .stripMargin).as("est_distinct"))

  private val q186 = QueryDef.of(
    (s, d) => {
      val hourly = hourlyUserSketches.get(s, d)
      val merged = slidingDistinctEstimates(hourly)
      // exact gate leg by EXPLODE, not range join: hour hr contributes
      // to windows w ∈ [hr, hr+5] ⟺ window w covers hours [w-5, w], so
      // exploding each row into its ≤6 windows and equi-joining
      // the (broadcast, hours-sized) real-window list computes the
      // identical (w, user) multiset LINEARLY — the between-join
      // planned as a nested loop doing |windows| predicate evals per
      // row (~50M at sf0.1; at corpus scale the nested loop is the
      // first thing to die). The sketch-side merge (slidingDistinct
      // estimates) keeps its between-join: it runs on the hours-row
      // sketch frame where work ∝ hours × window by construction.
      // The gate counts RAW user_ids, not 48-bit hashes (r14 VERDICT
      // #1 exact-leg width): the md5→conv→substring string pipeline
      // per event row was pure gate overhead, and distinct-users is
      // what the sketch estimate is FOR — a hash collision would have
      // made the gate measure hash-space, not users.
      val exact = eventsRaw(s, d)
        .select(expr("unix_micros(ts) div 3600000000L").as("hr"),
          col("user_id"))
        .select(explode(expr("sequence(hr, hr + 5L)")).as("w"),
          col("user_id"))
        .join(broadcast(hourly.select(col("hr").as("w"))), Seq("w"))
        .groupBy(col("w"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      merged.join(exact, "w")
        .select(col("w").as("w_hr"), col("est_distinct"),
          col("exact_distinct"))
        .orderBy(col("w_hr"))
    },
    """WITH e AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
      |    CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12)
      |      AS BIGINT) AS h
      |  FROM events),
      |hd AS MATERIALIZED (SELECT DISTINCT hr, h FROM e),
      |hs AS MATERIALIZED (
      |  SELECT hr, list_slice(list(h ORDER BY h), 1, 64) AS mins
      |  FROM hd GROUP BY hr),
      |merged AS (
      |  SELECT w.hr AS w,
      |    list_slice(list_sort(list_distinct(flatten(list(s.mins)))),
      |      1, 64) AS mu
      |  FROM hs w JOIN hs s ON s.hr BETWEEN w.hr - 5 AND w.hr
      |  GROUP BY w.hr),
      |est AS (
      |  SELECT w,
      |    CASE WHEN len(mu) < 64 THEN CAST(len(mu) AS BIGINT)
      |         ELSE (63 * 281474976710656) // mu[64] END AS est_distinct
      |  FROM merged),
      |ex AS (
      |  SELECT w.hr AS w, CAST(COUNT(DISTINCT u.user_id) AS BIGINT)
      |      AS exact_distinct
      |  FROM hs w JOIN (
      |    SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
      |      user_id
      |    FROM events) u ON u.hr BETWEEN w.hr - 5 AND w.hr
      |  GROUP BY w.hr)
      |SELECT est.w AS w_hr, est_distinct, exact_distinct
      |FROM est JOIN ex USING (w)
      |ORDER BY w_hr""".stripMargin)

  // ------------------------------------------------------------ q186b
  // The PRODUCTION entry point of q186: per-window estimates from the
  // pinned hourly sketch frame ONLY. The gated variant's exact leg
  // re-scans every event row |window| times through the range join —
  // exactly the rows × windows blow-up the per-hour sketch reuse
  // exists to avoid — so the 100 TB/day trailing-window dashboard runs
  // THIS query (r10 VERDICT #3). Zero event scans beyond the sketch
  // build, which the session shares with q186 via the memo; same
  // estimates bit-for-bit.
  private val q186b = QueryDef.of(
    (s, d) => slidingDistinctEstimates(hourlyUserSketches.get(s, d))
      .select(col("w").as("w_hr"), col("est_distinct"))
      .orderBy(col("w_hr")),
    """WITH e AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
      |    CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12)
      |      AS BIGINT) AS h
      |  FROM events),
      |hd AS MATERIALIZED (SELECT DISTINCT hr, h FROM e),
      |hs AS MATERIALIZED (
      |  SELECT hr, list_slice(list(h ORDER BY h), 1, 64) AS mins
      |  FROM hd GROUP BY hr),
      |merged AS (
      |  SELECT w.hr AS w,
      |    list_slice(list_sort(list_distinct(flatten(list(s.mins)))),
      |      1, 64) AS mu
      |  FROM hs w JOIN hs s ON s.hr BETWEEN w.hr - 5 AND w.hr
      |  GROUP BY w.hr)
      |SELECT w AS w_hr,
      |  CASE WHEN len(mu) < 64 THEN CAST(len(mu) AS BIGINT)
      |       ELSE (63 * 281474976710656) // mu[64] END AS est_distinct
      |FROM merged
      |ORDER BY w_hr""".stripMargin)

  val defs: Map[String, QueryDef] = Map(
    "q186_sliding_distinct" -> q186,
    "q186b_sliding_distinct_sketch" -> q186b,
    "q181_cusum_changepoints" -> q181,
    "q110_ewma_fold" -> q110,
    "q166_heavy_hitters" -> q166,
    "q156_holt_forecast" -> q156,
    "q157_ols_trend" -> q157,
    "q137_event_patterns" -> q137,
    "q90_funnel" -> q90,
    "q91_resample_ffill" -> q91,
    "q95_retention_cohorts" -> q95,
    "q96_incremental_agg" -> q96,
    "q97_attribution" -> q97,
    "q128_markov_transitions" -> q128)
}
