package org.apache.spark

import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** The schema checks a DataFrame parquet write runs before its job starts
  * (`SchemaUtils` is `private[spark]`), for writers that run their own
  * job: every type is one parquet holds, and no column name repeats. */
object WriteChecks {
  def parquet(schema: StructType, caseSensitive: Boolean): Unit = {
    DataSourceUtils.verifySchema(new ParquetFileFormat, schema)
    SchemaUtils.checkColumnNameDuplication(schema.fieldNames.toSeq,
      caseSensitive)
  }
}
