package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Z-order layout job — the `OPTIMIZE ZORDER BY (c1, c2)` table-
  * maintenance operation: recluster a table so files are tight in BOTH
  * clustering dimensions and scans with a predicate on either column can
  * prune most files from their min/max zone maps.
  *
  * This is a deploy-time layout pass (same offline lifecycle as the IVF
  * and LSH index builds): one range shuffle on the z-value, then a
  * within-partition sort — no global sort. `repartitionByRange` samples
  * partition bounds, which is fine for a layout job (file boundaries
  * need not be reproducible, only the CONTENT order within the table,
  * and zone-map tightness holds for any boundary sample).
  *
  * The oracled query surface for the z-value math itself is
  * [[graft.queries.Layout]] q94, which bins on deterministic fixed-width
  * ranges instead of sampled bounds.
  */
object ZOrderLayout {

  /** Recluster `df` on the z-interleave of two non-negative integral
    * columns into `nFiles` output partitions (→ files when written). */
  def layout(df: DataFrame, c1: String, c2: String,
      nFiles: Int): DataFrame = {
    df.withColumn("_z",
        expr(s"z_value(cast($c1 as bigint), cast($c2 as bigint))"))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
  }

  /** Layout + write: the actual maintenance job. */
  def write(df: DataFrame, c1: String, c2: String, nFiles: Int,
      path: String): Unit =
    layout(df, c1, c2, nFiles).write.mode("overwrite").parquet(path)
}
