package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Remaining scalar-function coverage: structured JSON parsing
  * (`from_json`), array higher-order functions over embeddings, and date
  * arithmetic — each oracle-checked. */
object Extras {

  // ------------------------------------------------------------- q57
  // from_json with an explicit schema (vs q20's get_json_object path):
  // Catalyst prunes unaccessed fields from the parse, the structured
  // analog of the reference's manual extract-only-"value" pruning
  // (/root/reference/message/message.go:72-83).
  private val q57 = QueryDef.of(
    (s, d) => Tables.events(s, d)
      .withColumn("parsed", from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT")))
      .groupBy(col("event_type"))
      .agg(
        count(col("parsed.k")).as("n"),
        sum(col("parsed.k")).cast("bigint").as("sum_k"),
        min(col("parsed.k")).as("min_k"),
        max(col("parsed.k")).as("max_k"))
      .orderBy(col("event_type")),
    """SELECT event_type,
      |  COUNT(CAST(json_extract_string(props, '$.k') AS INT)) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin)

  // ------------------------------------------------------------- q58
  // Array scalar functions over the embedding column (size, min/max,
  // reverse, prefix fold) — scalar outputs only (float→double casts are
  // exact, so values hash-match).
  private val q58 = QueryDef.of(
    (s, d) => Tables.embeddings(s, d)
      .filter(col("vec_id") < 100)
      .select(
        col("vec_id"),
        size(col("embedding")).cast("bigint").as("n_dims"),
        array_max(col("embedding")).cast("double").as("arr_max"),
        array_min(col("embedding")).cast("double").as("arr_min"),
        element_at(reverse(col("embedding")), 1).cast("double").as("last_val"),
        expr("aggregate(slice(embedding, 1, 3), 0D, (acc, x) -> acc + cast(x as double))")
          .as("head3_sum"))
      .orderBy(col("vec_id")),
    """SELECT vec_id,
      |  len(embedding) AS n_dims,
      |  CAST(list_max(embedding) AS DOUBLE) AS arr_max,
      |  CAST(list_min(embedding) AS DOUBLE) AS arr_min,
      |  CAST(list_reverse(embedding)[1] AS DOUBLE) AS last_val,
      |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(list_slice(embedding, 1, 3),
      |      x -> CAST(x AS DOUBLE))), (a, b) -> a + b) AS head3_sum
      |FROM embeddings
      |WHERE vec_id < 100
      |ORDER BY vec_id""".stripMargin)

  // ------------------------------------------------------------- q59
  // Date arithmetic: ship-delay (days between order and ship date)
  // bucketed by 30-day windows.
  private val q59 = QueryDef.of(
    // raw loads: first wide op is the key shuffle (see Tables.raw)
    (s, d) => Tables.raw(s, d, "lineitem")
      .join(Tables.raw(s, d, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay_days",
        datediff(col("l_shipdate"), col("o_orderdate")))
      // explicit DIV: a double-divide + cast would TRUNCATE in Spark but
      // ROUND in DuckDB — integer division agrees in both
      .groupBy(expr("CAST(delay_days DIV 30 AS INT)").as("delay_bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("delay_days")).as("min_delay"),
        max(col("delay_days")).as("max_delay"))
      .orderBy(col("delay_bucket")),
    """SELECT CAST(date_diff('day', o_orderdate, l_shipdate) // 30 AS INT) AS delay_bucket,
      |  COUNT(*) AS n,
      |  MIN(date_diff('day', o_orderdate, l_shipdate)) AS min_delay,
      |  MAX(date_diff('day', o_orderdate, l_shipdate)) AS max_delay
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1
      |ORDER BY delay_bucket""".stripMargin)

  // ------------------------------------------------------------- q72
  // Unpivot (wide→long): melt the lineitem measure columns into
  // (metric, value) rows — Spark's Dataset.unpivot (Expand under the
  // hood, no shuffle until the aggregate) vs DuckDB's UNPIVOT. Values go
  // through DECIMAL so the re-aggregated totals are order-independent.
  private val q72 = QueryDef.of(
    (s, d) => {
      val m = Tables.raw(s, d, "lineitem").select(
        col("l_orderkey"),
        col("l_quantity").cast("decimal(12,2)").as("quantity"),
        col("l_extendedprice").cast("decimal(12,2)").as("extendedprice"),
        col("l_discount").cast("decimal(12,2)").as("discount"))
      m.unpivot(
        Array(col("l_orderkey")),
        Array(col("quantity"), col("extendedprice"), col("discount")),
        "metric", "value")
        .groupBy(col("metric"))
        .agg(sum(col("value")).cast("double").as("total"),
          count(lit(1)).as("n"))
        .orderBy(col("metric"))
    },
    """WITH m AS (
      |  SELECT l_orderkey,
      |    CAST(l_quantity AS DECIMAL(12,2)) AS quantity,
      |    CAST(l_extendedprice AS DECIMAL(12,2)) AS extendedprice,
      |    CAST(l_discount AS DECIMAL(12,2)) AS discount
      |  FROM lineitem),
      |u AS (
      |  FROM m UNPIVOT (value FOR metric IN (quantity, extendedprice, discount)))
      |SELECT metric, CAST(SUM(value) AS DOUBLE) AS total, COUNT(*) AS n
      |FROM u
      |GROUP BY metric
      |ORDER BY metric""".stripMargin)

  // ------------------------------------------------------------- q109
  // Exact equi-depth histogram (the optimizer-statistics op: ANALYZE
  // computes these) WITHOUT a single-partition sort. A bare
  // `row_number() OVER (ORDER BY …)` collapses the table onto one task —
  // the classic global-rank scale killer. The distributed-ranking pattern
  // instead: range-repartition on the sort key, rank WITHIN each
  // partition (window partitioned by partition id — fully parallel), and
  // add per-partition prefix offsets computed from a bounded driver read
  // (one row per shuffle partition). The frame is pinned with an eager
  // `localCheckpoint` because `repartitionByRange` SAMPLES its bounds per
  // execution — the offsets must describe the same partitioning the
  // ranking pass reads (two executions may split differently). At 100 TB
  // the checkpoint holds only the 16-byte (key, value) projection.
  private val q109 = QueryDef.of(
    (s, d) => {
      val buckets = 16
      val o = graft.Resources.retain(Tables.raw(s, d, "orders")
        .select(col("o_orderkey").as("k"),
          (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
            .as("pc"))
        .repartitionByRange(col("pc"), col("k"))
        .withColumn("pid", spark_partition_id())
        .localCheckpoint())
      // bounded control-plane read: one row per range partition
      val counts = o.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      val n = counts.map(_._2).sum
      var acc = 0L
      val offsets = counts.map { case (p, c) =>
        val start = acc; acc += c; (p, start)
      }.toMap
      val w = Window.partitionBy(col("pid")).orderBy(col("pc"), col("k"))
      o.withColumn("r", row_number().over(w).cast("long") +
          element_at(typedLit(offsets), col("pid")))
        .groupBy(expr(s"CAST((r - 1) * $buckets DIV ${n}L AS INT)")
          .as("bucket"))
        .agg(count(lit(1)).as("n_rows"), min(col("pc")).as("lo"),
          max(col("pc")).as("hi"))
        .orderBy(col("bucket"))
    },
    """WITH o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS pc
      |  FROM orders),
      |r AS (
      |  SELECT pc, ROW_NUMBER() OVER (ORDER BY pc, k) AS r,
      |    COUNT(*) OVER () AS n
      |  FROM o)
      |SELECT CAST((r - 1) * 16 // n AS INT) AS bucket,
      |  COUNT(*) AS n_rows, MIN(pc) AS lo, MAX(pc) AS hi
      |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin)

  // ------------------------------------------------------------- q113
  // One-pass table statistics profile (the ANALYZE TABLE shape a CBO
  // feeds on): per-column NDV estimates for four orders columns from
  // ONE scan and ONE Aggregate, via four independent KMV sketches
  // ([[graft.functions.KmvAgg]]). The naive form — four COUNT(DISTINCT)
  // in one Aggregate — triggers Catalyst's Expand rewrite (row count ×
  // #distinct-aggs: the q18 lesson at ×4); four sketches are regular
  // mergeable aggs, so the scan stays single-pass and the shuffle
  // carries four ≤512-byte buffers. The oracle rebuilds each sketch
  // from exact data, pinning every estimate bit-for-bit.
  private val q113 = QueryDef.of(
    (s, d) => {
      val kmv = udaf(graft.functions.KmvAgg)
      def h(c: String) = expr(
        s"cast(conv(substring(md5(cast($c as string)), 1, 12), 16, 10) as bigint)")
      val est = (sk: String) =>
        expr(s"""CASE WHEN size($sk) < 64 THEN cast(size($sk) AS bigint)
                |ELSE (63L * 281474976710656L) div get($sk, 63) END"""
          .stripMargin)
      Tables.raw(s, d, "orders")
        .select(h("o_custkey").as("hc"), h("o_orderstatus").as("hs"),
          h("o_orderpriority").as("hp"), h("o_orderdate").as("hk"))
        .agg(count(lit(1)).as("n_rows"),
          kmv(col("hc")).as("skc"), kmv(col("hs")).as("sks"),
          kmv(col("hp")).as("skp"), kmv(col("hk")).as("skk"))
        .select(col("n_rows"),
          est("skc").as("ndv_custkey"), est("sks").as("ndv_status"),
          est("skp").as("ndv_priority"), est("skk").as("ndv_orderdate"))
    },
    """WITH
      |sk AS (
      |  SELECT c, list_slice(list(h ORDER BY h), 1, 64) AS mins,
      |    COUNT(*) AS cnt
      |  FROM (
      |    SELECT DISTINCT c, h FROM (
      |      SELECT 'custkey' AS c,
      |        CAST('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 12)
      |          AS BIGINT) AS h FROM orders
      |      UNION ALL
      |      SELECT 'status',
      |        CAST('0x' || substring(md5(o_orderstatus), 1, 12) AS BIGINT)
      |      FROM orders
      |      UNION ALL
      |      SELECT 'priority',
      |        CAST('0x' || substring(md5(o_orderpriority), 1, 12) AS BIGINT)
      |      FROM orders
      |      UNION ALL
      |      SELECT 'orderdate',
      |        CAST('0x' || substring(md5(CAST(o_orderdate AS VARCHAR)), 1, 12)
      |          AS BIGINT)
      |      FROM orders))
      |  GROUP BY c),
      |est AS (
      |  SELECT c,
      |    CASE WHEN cnt < 64 THEN cnt
      |         ELSE (63 * 281474976710656) // mins[64] END AS ndv
      |  FROM sk)
      |SELECT (SELECT COUNT(*) FROM orders) AS n_rows,
      |  (SELECT ndv FROM est WHERE c = 'custkey') AS ndv_custkey,
      |  (SELECT ndv FROM est WHERE c = 'status') AS ndv_status,
      |  (SELECT ndv FROM est WHERE c = 'priority') AS ndv_priority,
      |  (SELECT ndv FROM est WHERE c = 'orderdate') AS ndv_orderdate""".stripMargin)

  // ------------------------------------------------------------- q123
  // The SQL-text entry path: fixture tables registered as temp views and
  // the query expressed entirely as `spark.sql(...)` — including a
  // native codegen'd expression (cosine_sim) resolved through the
  // function registry — because SQL strings are how many engine users
  // actually arrive (BI tools, notebooks). Same Catalyst plan as the
  // DataFrame API; the 1-row probe subquery broadcasts.
  private val q123 = QueryDef.of(
    (s, d) => {
      graft.Tables.All.foreach(t =>
        graft.Tables.table(s, d, t).createOrReplaceTempView(t))
      s.sql("""
        SELECT e.label, COUNT(*) AS n,
          CAST(SUM(CASE WHEN cosine_sim(e.embedding, p.embedding) >= 0.3
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_similar
        FROM embeddings e
        CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) p
        GROUP BY e.label
        ORDER BY e.label""")
    },
    s"""SELECT e.label, COUNT(*) AS n,
       |  CAST(SUM(CASE WHEN ${Similarity.sqlCos(
            "e.embedding", "p.embedding")} >= 0.3
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_similar
       |FROM embeddings e
       |CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) p
       |GROUP BY e.label
       |ORDER BY e.label""".stripMargin)

  // ------------------------------------------------------------- q130
  // Data-quality audit: referential-integrity and domain checks as ONE
  // unioned metrics frame — the post-load validation pass a warehouse
  // runs before publishing a batch (dbt-test / Deequ shape). Each check
  // is a single anti-join or filtered count against its relation (AQE
  // broadcasts the key side where it fits), with the violation rate in
  // integer micro-units; a production deploy runs the same checks
  // incrementally on each ingested batch, so cost tracks the delta,
  // not the table. Mixed expectations by design: the FK checks hold
  // (0 violations) while the coverage checks are non-zero — both
  // directions exercise the machinery.
  private val q130 = QueryDef.of(
    (s, d) => {
      // r16 fusion (§1.2/§2.4): the original ran each check as its own
      // anti-join + count crossJoin broadcast(total count) — six
      // independent two-job chains, 34 scans / 58 Exchanges, the
      // audited tables re-read up to 5× each. Checks against the SAME
      // fact table now share ONE pass: existence rides a left join
      // against the (distinct) key set — `marker IS NULL` counts
      // exactly what the anti-join counted, including NULL-key rows
      // (a NULL key matches nothing under either form) — and the
      // per-table violation/total counts fold into one conditional
      // aggregate. The distinct key frames keep the left joins
      // bijective, so no row ever multiplies; join strategy stays
      // AQE's call (broadcast where the key side fits), same as the
      // anti-joins had. Four table passes, one `stack` reshape,
      // byte-identical rows.
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val ev = Tables.events(s, d)
      def keys(df: org.apache.spark.sql.DataFrame, kc: String,
          marker: String) =
        df.select(col(kc)).distinct().withColumn(marker, lit(1))
      val cKeys = keys(c, "c_custkey", "is_cust")
      val badNull = (m: String) =>
        coalesce(sum(when(col(m).isNull, 1L).otherwise(0L)), lit(0L))
      val cu = c
        .join(keys(ev, "user_id", "has_ev"),
          col("c_custkey") === col("user_id"), "left")
        .join(keys(o, "o_custkey", "has_ord"),
          col("c_custkey") === col("o_custkey"), "left")
        .agg(count(lit(1)).as("cu_n"), badNull("has_ev").as("cu_noev"),
          badNull("has_ord").as("cu_noord"))
      val or = o
        .join(cKeys, col("o_custkey") === col("c_custkey"), "left")
        .agg(count(lit(1)).as("or_n"),
          badNull("is_cust").as("or_orphan"),
          coalesce(sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)),
            lit(0L)).as("or_nonpos"))
      val evA = ev
        .join(cKeys, col("user_id") === col("c_custkey"), "left")
        .agg(count(lit(1)).as("ev_n"), badNull("is_cust").as("ev_bad"))
      val liA = li
        .join(keys(o, "o_orderkey", "has_okey"),
          col("l_orderkey") === col("o_orderkey"), "left")
        .agg(count(lit(1)).as("li_n"), badNull("has_okey").as("li_bad"))
      cu.crossJoin(or).crossJoin(evA).crossJoin(liA)
        .select(expr(
          """stack(6,
            |  'customer_no_events',       cu_noev,   cu_n,
            |  'customer_no_orders',       cu_noord,  cu_n,
            |  'events_user_not_customer', ev_bad,    ev_n,
            |  'lineitem_orphan_order',    li_bad,    li_n,
            |  'orders_nonpositive_total', or_nonpos, or_n,
            |  'orders_orphan_customer',   or_orphan, or_n)
            |  AS (check_name, n_bad, n_total)""".stripMargin))
        .withColumn("bad_micro", expr("(1000000L * n_bad) div n_total"))
        .orderBy(col("check_name"))
    },
    """WITH checks AS (
      |  SELECT 'customer_no_events' AS check_name,
      |    (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
      |      (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey))
      |      AS n_bad,
      |    (SELECT COUNT(*) FROM customer) AS n_total
      |  UNION ALL
      |  SELECT 'customer_no_orders',
      |    (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
      |      (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)),
      |    (SELECT COUNT(*) FROM customer)
      |  UNION ALL
      |  SELECT 'events_user_not_customer',
      |    (SELECT COUNT(*) FROM events e WHERE NOT EXISTS
      |      (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)),
      |    (SELECT COUNT(*) FROM events)
      |  UNION ALL
      |  SELECT 'lineitem_orphan_order',
      |    (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
      |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
      |    (SELECT COUNT(*) FROM lineitem)
      |  UNION ALL
      |  SELECT 'orders_nonpositive_total',
      |    (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0),
      |    (SELECT COUNT(*) FROM orders)
      |  UNION ALL
      |  SELECT 'orders_orphan_customer',
      |    (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
      |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
      |    (SELECT COUNT(*) FROM orders))
      |SELECT check_name, n_bad, n_total,
      |  CAST((1000000 * n_bad) // n_total AS BIGINT) AS bad_micro
      |FROM checks
      |ORDER BY check_name""".stripMargin)

  // ------------------------------------------------------------ q158
  // Skyline / Pareto-frontier query (Börzsönyi et al. '01): the orders
  // that no other order dominates on (totalprice max, orderdate max) —
  // multi-objective selection, the dominance primitive behind
  // "best trade-off" curation picks (quality vs length, score vs
  // cost). The naive form is the O(n²) NOT-EXISTS self-join (that IS
  // the oracle); the engine computes the 2-D skyline with NO pairwise
  // join at all:
  //
  //   1. collapse to one row per price: maxd(p) = max date at p
  //      (map-side-combined agg, output ≤ #distinct prices);
  //   2. M(p) = max maxd over all p' > p — a PREFIX MAX over the
  //      price-descending order, computed with the q109/q148
  //      distributed-prefix pattern (range repartition DESC +
  //      per-partition window + one bounded driver read of
  //      per-partition maxima — prefix MAX this time, not SUM);
  //   3. p's group is on the frontier iff maxd(p) > M(p); join the
  //      (p, maxd) survivors back to recover the rows (ties on both
  //      dims all qualify, matching the dominance definition).
  //
  // 2-D only — the sort-based trick doesn't extend past two
  // dimensions (d-dim skylines need block-nested-loop/partition
  // algorithms); documented limit, not a gap.
  private val q158 = QueryDef.of(
    (s, d) => {
      val o = Tables.raw(s, d, "orders")
        .select(col("o_orderkey").as("k"),
          (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
            .as("p"),
          // NTZ → date is calendar-based (no session-TZ shift — the
          // adaptEventTs lesson); unix_date is then exact day count
          expr("cast(unix_date(cast(o_orderdate as date)) as bigint)")
            .as("dd"))
      val g = graft.Resources.retain(o.groupBy(col("p"))
        .agg(max(col("dd")).as("maxd"))
        .repartitionByRange(col("p").desc)
        .withColumn("pid", spark_partition_id())
        .localCheckpoint())
      // bounded control-plane read: one (pid, max) row per partition
      val parts = g.groupBy(col("pid")).agg(max(col("maxd")).as("m"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      var acc = Long.MinValue
      val offsets = parts.map { case (pidx, m) =>
        val before = acc; acc = math.max(acc, m); (pidx, before)
      }.toMap
      val w = Window.partitionBy(col("pid")).orderBy(col("p").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val sky = g.withColumn("mprev", greatest(
          coalesce(max(col("maxd")).over(w), lit(Long.MinValue)),
          element_at(typedLit(offsets), col("pid"))))
        .filter(col("maxd") > col("mprev"))
        .select(col("p").as("sp"), col("maxd"))
      o.join(sky, col("p") === col("sp") && col("dd") === col("maxd"))
        .select(col("k").as("o_orderkey"), col("p").as("price_cents"),
          col("dd").as("order_day"))
        .orderBy(col("o_orderkey"))
    },
    // oracle = the natural single-window SQL skyline (the q132
    // precedent: the oracle may share the algorithmic idea when the
    // NAIVE form is quadratic — the naive NOT-EXISTS took 312 s at
    // sf0.1 and the per-SF gate shouldn't carry that; SkylineSpec
    // still proves the engine against local pairwise dominance)
    """WITH o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS p,
      |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
      |      AS dd
      |  FROM orders),
      |g AS (SELECT p, MAX(dd) AS maxd FROM o GROUP BY p),
      |m AS (
      |  SELECT p, maxd,
      |    COALESCE(MAX(maxd) OVER (ORDER BY p DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      -9223372036854775808) AS mprev
      |  FROM g),
      |sky AS (SELECT p, maxd FROM m WHERE maxd > mprev)
      |SELECT r.k AS o_orderkey, r.p AS price_cents, r.dd AS order_day
      |FROM o r JOIN sky s ON r.p = s.p AND r.dd = s.maxd
      |ORDER BY o_orderkey""".stripMargin)

  // ------------------------------------------------------------ q160
  // d-DIMENSIONAL skyline (3-D here: price ↑, recency ↑, priority ↓) —
  // completes the dominance family past q158's documented 2-D limit
  // via the general block-partitioned BNL operator
  // ([[graft.operators.Skyline]]): per-partition block-nested-loops
  // frontier, then a broadcast-bounded global filter over the
  // candidate union. "Most valuable, most recent, most urgent" orders
  // no other order beats on all three axes — the multi-objective
  // selection shape (quality × recency × licence-tier corpus curation
  // is the LLM-pipeline analogue).
  //
  // Lossless pre-reduction (the q158 collapse, one dim deeper): within
  // a (day, priority) cell only the max price can survive (same-cell
  // rows are dominated on price alone), so the operator runs on
  // ≤ |days|·|priorities| points regardless of order count; the
  // join-back ships ALL rows tied on the winning triple. Minimized
  // dims enter the operator negated (it maximizes uniformly).
  //
  // Oracle: the reduction in SQL, then the candidate-bounded pairwise
  // NOT EXISTS — quadratic only in the cell count (≤ 12k at sf0.1),
  // never in rows, so the gate stays cheap while staying
  // algorithm-independent of the engine's BNL. SkylineNdSpec
  // additionally proves the operator against full row-level pairwise
  // dominance on the fixture and on crafted anti-correlated inputs.
  private val q160 = QueryDef.of(
    (s, d) => {
      val o = Tables.raw(s, d, "orders")
        .select(col("o_orderkey").as("k"),
          (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
            .as("p"),
          expr("cast(unix_date(cast(o_orderdate as date)) as bigint)")
            .as("dd"),
          expr("cast(substring(o_orderpriority, 1, 1) as bigint)")
            .as("r"))
      val g = o.groupBy(col("dd"), col("r")).agg(max(col("p")).as("maxp"))
      val pts = g.select(
        array(col("maxp"), col("dd"), -col("r")).as("dims"))
      val sky = graft.operators.Skyline.skyline(pts)
        .select(col("dims").getItem(0).as("sp"),
          col("dims").getItem(1).as("sdd"),
          (-col("dims").getItem(2)).as("sr"))
      o.join(sky, col("p") === col("sp") && col("dd") === col("sdd") &&
          col("r") === col("sr"))
        .select(col("k").as("o_orderkey"), col("p").as("price_cents"),
          col("dd").as("order_day"), col("r").as("priority"))
        .orderBy(col("o_orderkey"))
    },
    """WITH o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS p,
      |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
      |      AS dd,
      |    CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS r
      |  FROM orders),
      |g AS MATERIALIZED (
      |  SELECT dd, r, MAX(p) AS maxp FROM o GROUP BY dd, r),
      |sky AS (
      |  SELECT g.maxp, g.dd, g.r FROM g
      |  WHERE NOT EXISTS (SELECT 1 FROM g h
      |    WHERE h.maxp >= g.maxp AND h.dd >= g.dd AND h.r <= g.r
      |      AND (h.maxp > g.maxp OR h.dd > g.dd OR h.r < g.r)))
      |SELECT o.k AS o_orderkey, o.p AS price_cents, o.dd AS order_day,
      |  o.r AS priority
      |FROM o JOIN sky ON o.p = sky.maxp AND o.dd = sky.dd
      |  AND o.r = sky.r
      |ORDER BY o_orderkey""".stripMargin)

  val defs: Map[String, QueryDef] = Map(
    "q158_skyline" -> q158,
    "q160_skyline_3d" -> q160,
    "q130_dq_audit" -> q130,
    "q123_sql_text" -> q123,
    "q57_json_struct" -> q57,
    "q58_array_funcs" -> q58,
    "q59_date_arith" -> q59,
    "q72_unpivot" -> q72,
    "q109_equidepth_histogram" -> q109,
    "q113_stats_profile" -> q113)
}
