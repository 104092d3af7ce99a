package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** A DataFrame over an RDD of internal rows (`internalCreateDataFrame` is
  * `private[sql]`), for tasks that produce the rows of a frame
  * themselves. Each row must hold `schema`'s fields at its first
  * ordinals; fields past them are never read. */
object InternalFrames {
  def of(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    classic.ClassicConversions.castToImpl(spark)
      .internalCreateDataFrame(rows, schema)
}
