package graft.queries

import graft.{Artifact, Tables}
import org.apache.spark.sql.functions._

/** Data-layout operators — the table-maintenance side of the engine
  * (companion to [[graft.operators.ZOrderLayout]], the OPTIMIZE ZORDER
  * job). The oracled query surface pins the z-value bit math and the
  * zone-map tightness statistics that justify the layout at 100 TB:
  * files clustered by z-interleave have small min/max spans on BOTH
  * dimensions, so scans with a predicate on either column prune most
  * files. The layout job itself (sampled range boundaries) is
  * spec-tested in ZOrderSpec; this query uses deterministic fixed-width
  * z-ranges as stand-ins for files so both engines replay the binning
  * bit-for-bit.
  */
object Layout {

  // ------------------------------------------------------------- q94
  // Z-order zone-map statistics over lineitem clustered on
  // (l_orderkey, l_partkey): interleave → 64 fixed-width z-ranges →
  // per-range row count and min/max of each dimension. The per-range
  // spans (max − min) are the zone-map widths a pruning scan would see.
  // Scale shape: one narrow pass computes z (codegen'd static call), a
  // 1-row global bounds frame is broadcast back, and the only wide op
  // is the 64-key aggregate with map-side partials.
  private val sqlZ =
    """CAST(list_sum(list_transform(range(0, 21),
      |  i -> (((l_orderkey >> i) & 1) << (2*i))
      |     + (((l_partkey >> i) & 1) << (2*i+1)))) AS BIGINT)""".stripMargin

  private val q94 = QueryDef.of(
    (s, d) => {
      val z = Tables.raw(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"),
          expr("z_value(cast(l_orderkey as bigint), cast(l_partkey as bigint))")
            .as("z"))
      val bounds = z.agg(min(col("z")).as("zmin"), max(col("z")).as("zmax"))
      z.crossJoin(broadcast(bounds))
        .withColumn("bucket",
          expr("(z - zmin) div ((zmax - zmin) div 64 + 1)"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"),
          min(col("l_partkey")).as("min_pk"),
          max(col("l_partkey")).as("max_pk"))
        .withColumn("span_ok", col("max_ok") - col("min_ok"))
        .withColumn("span_pk", col("max_pk") - col("min_pk"))
        .orderBy(col("bucket"))
    },
    s"""WITH z AS (
       |  SELECT l_orderkey, l_partkey, $sqlZ AS z FROM lineitem),
       |bounds AS (SELECT MIN(z) AS zmin, MAX(z) AS zmax FROM z),
       |binned AS (
       |  SELECT l_orderkey, l_partkey,
       |    (z.z - zmin) // ((zmax - zmin) // 64 + 1) AS bucket
       |  FROM z CROSS JOIN bounds)
       |SELECT bucket, COUNT(*) AS n_rows,
       |  MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok,
       |  MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk,
       |  MAX(l_orderkey) - MIN(l_orderkey) AS span_ok,
       |  MAX(l_partkey) - MIN(l_partkey) AS span_pk
       |FROM binned
       |GROUP BY bucket
       |ORDER BY bucket""".stripMargin)

  // ------------------------------------------------------------- q101
  // Bucketed co-located join ([[graft.operators.BucketedLayout]]): both
  // sides are written bucketBy(8, custkey) + sortBy offline, so the join
  // needs NO exchange at query time — the shuffle was paid once at
  // layout time, the scale answer to "this fact table joins on this key
  // in every query". BucketedJoinSpec asserts the zero-shuffle plan; the
  // driver gate checks RESULT INVARIANCE: the oracle is the PLAIN join
  // SQL (q85 salted-join precedent — layout must never change answers).
  private val Buckets = 8

  /** Per-sf bucketed table names, identifier-safe. */
  def bucketedNames(sfDir: String): (String, String) = {
    val key = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    (s"orders_bkt$key", s"customer_bkt$key")
  }

  /** Offline layout build (idempotent; Bench setup calls this). */
  def ensureBucketed(s: org.apache.spark.sql.SparkSession,
      d: String): (String, String) = {
    val dir = Artifact.dir(d, "bkt")
    val (ordersT, custT) = bucketedNames(d)
    graft.operators.BucketedLayout.ensure(s, ordersT, s"$dir/orders",
      "custkey", Buckets) {
      Tables.raw(s, d, "orders").select(
        col("o_custkey").as("custkey"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
          .as("pc"))
    }
    graft.operators.BucketedLayout.ensure(s, custT, s"$dir/customer",
      "custkey", Buckets) {
      Tables.raw(s, d, "customer").select(
        col("c_custkey").as("custkey"),
        col("c_mktsegment").as("mktsegment"))
    }
    (ordersT, custT)
  }

  private val q101 = QueryDef.of(
    (s, d) => {
      val (ordersT, custT) = ensureBucketed(s, d)
      graft.operators.BucketedLayout
        .colocatedJoin(s, ordersT, custT, Seq("custkey"))
        .groupBy(col("mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("pc")).as("sum_price_cents"))
        .orderBy(col("mktsegment"))
    },
    """SELECT c_mktsegment AS mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_price_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  // ------------------------------------------------------------- q127
  // Dynamic partition pruning: the fact table is laid out
  // partitionBy(prio) (the standard date/tenant-partitioned 100 TB
  // fact layout) and joined to a FILTERED dimension on the partition
  // column — Catalyst's DPP rule turns the dim-side filter into a
  // runtime `dynamicpruningexpression` on the fact scan, so only the
  // partitions the dim selects are ever read (here 2 of 5). Nothing is
  // hand-scheduled: declaring the join IS the optimization; PlanAudit
  // asserts the pruning subquery landed in PartitionFilters. The
  // oracle is the PLAIN join on the unpartitioned table — layout must
  // never change answers (q101/q85 precedent).
  private val DppDim = Seq(
    ("1-URGENT", "rush"), ("2-HIGH", "rush"), ("3-MEDIUM", "normal"),
    ("4-NOT SPECIFIED", "normal"), ("5-LOW", "normal"))

  /** Offline layout build (idempotent; Bench setup calls this): orders
    * partitioned by priority + a file-based priority dimension (a file
    * scan on the dim side is what the DPP rule reuses as the pruning
    * subquery). Returns the (fact, dim) directories. */
  def ensureDpp(s: org.apache.spark.sql.SparkSession,
      d: String): (String, String) = {
    val dir = Artifact.publish(Artifact.dir(d, "dpp")) { stage =>
      Tables.raw(s, d, "orders").select(
        col("o_orderkey").as("k"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
          .as("pc"),
        col("o_orderpriority").as("prio"))
        .write.mode("overwrite").partitionBy("prio").parquet(s"$stage/orders")
      import s.implicits._
      DppDim.toDF("prio", "cls").repartition(1)
        .write.mode("overwrite").parquet(s"$stage/prio")
    }
    (s"$dir/orders", s"$dir/prio")
  }

  private val q127 = QueryDef.of(
    (s, d) => {
      val (factDir, dimDir) = ensureDpp(s, d)
      val fact = s.read.parquet(factDir)
      val dim = s.read.parquet(dimDir).filter(col("cls") === "rush")
      fact.join(dim, Seq("prio"))
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n"), sum(col("pc")).as("sum_cents"))
        .orderBy(col("prio"))
    },
    s"""WITH dim AS (SELECT * FROM (VALUES ${DppDim.map {
        case (p, c) => s"('$p', '$c')"
      }.mkString(", ")}) AS t(prio, cls))
       |SELECT o_orderpriority AS prio, COUNT(*) AS n,
       |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
       |    AS BIGINT)) AS BIGINT) AS sum_cents
       |FROM orders JOIN dim ON o_orderpriority = dim.prio
       |WHERE cls = 'rush'
       |GROUP BY 1 ORDER BY 1""".stripMargin)

  val defs: Map[String, QueryDef] = Map(
    "q94_zorder_zonemap" -> q94,
    "q101_bucketed_join" -> q101,
    "q127_dpp_join" -> q127)
}
