package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex,
  FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A file index over a list of parquet files its caller already knows,
  * such as the files a table's commit log lists. `spark.read.parquet`
  * over the same paths globs each one and builds an `InMemoryFileIndex`,
  * which lists them in a Spark job of one task per file once there are
  * more than `parallelPartitionDiscovery.threshold`. This index stats
  * each file once, on the driver, runs no job, and reports the files as
  * one partition, unpruned. */
final class ManifestFileIndex private (statuses: Seq[FileStatus])
    extends FileIndex {
  def rootPaths: Seq[Path] = statuses.map(_.getPath)

  def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty,
      statuses.map(FileStatusWithMetadata(_))))

  def inputFiles: Array[String] = statuses.map(_.getPath.toString).toArray

  def refresh(): Unit = ()

  def sizeInBytes: Long = statuses.map(_.getLen).sum

  def partitionSchema: StructType = new StructType()
}

object ManifestFileIndex {
  /** A DataFrame over exactly the parquet files `paths`, in `schema`, or,
    * without one, in the schema parquet infers from their footers (which
    * runs a job). As with `spark.read`, every column reads as nullable.
    * A listed file missing from disk fails here, with a
    * `FileNotFoundException` naming it. */
  def read(spark: SparkSession, paths: Seq[String],
      schema: Option[StructType]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val statuses = paths.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      fs.getFileStatus(fs.makeQualified(path))
    }
    val format = new ParquetFileFormat
    val dataSchema = schema
      .orElse(format.inferSchema(spark, Map.empty, statuses))
      .getOrElse(throw new AnalysisException(
        errorClass = "UNABLE_TO_INFER_SCHEMA",
        messageParameters = Map("format" -> "Parquet")))
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new ManifestFileIndex(statuses), new StructType(),
      dataSchema.asNullable, None, format, Map.empty)(spark))
  }
}
