package graft.sinks

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapred.JobID
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext, TaskAttemptID,
  TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{TaskContext, TaskOutput, WriteChecks}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Parquet part files written by Spark tasks themselves, with no commit
  * protocol: the one way the sink layer lands a parquet file.
  *
  * A DataFrame write (`FileFormatWriter`) pays for Hadoop's commit
  * protocol: a `_temporary` tree, a rename per task commit and per job
  * commit, a `_SUCCESS` marker. The sinks need none of it. A part file
  * of a [[ManifestCatalog]] table becomes visible through a manifest
  * commit, and a rejected-row file through the one rename that ends its
  * task. So each task opens its files itself, through the
  * `OutputWriterFactory` a DataFrame write uses:
  * `ParquetFileFormat.prepareWrite` over the session's Hadoop conf, with
  * the session's SQL confs propagated to the tasks ([[withSqlConfs]]).
  * Codec, footer schema and Spark's row metadata are those of a
  * DataFrame parquet write. [[write]] lands any frame, [[writeRouted]]
  * the routed ingest frame.
  *
  * A writer is built once per SparkContext and schema and broadcast once
  * ([[PartWriter.apply]]); a task opens one `TaskAttemptContext` per
  * writer it uses ([[PartWriter.inTask]]). A file is written under its
  * final name, or (`hidden`) under that name with a leading `.`, which
  * readers skip, and renamed when its task ends. A task that fails
  * deletes the files it has open. Files that tasks of a failed job had
  * already closed stay behind unreferenced: [[ManifestCatalog.vacuum]]
  * reclaims them from table directories. Files go through Hadoop's raw
  * local filesystem, so no `.crc` sidecar is left beside them.
  */
final class PartWriter private (val schema: StructType,
    spec: Broadcast[PartWriter.Spec]) extends Serializable {

  private def factory: OutputWriterFactory = spec.value.factory

  /** A task attempt context for the running task, set up as
    * `FileFormatWriter.executeTask` sets up its own, over a copy of the
    * broadcast conf (tasks of one executor share the broadcast value). */
  private def newContext(tc: TaskContext): TaskAttemptContext = {
    val conf = new org.apache.hadoop.conf.Configuration(spec.value.conf.value)
    val jobId = new JobID("graft", tc.stageId())
    val attempt = new TaskAttemptID(
      new TaskID(jobId, TaskType.MAP, tc.partitionId()), tc.attemptNumber())
    conf.set("mapreduce.job.id", jobId.toString)
    conf.set("mapreduce.task.id", attempt.getTaskID.toString)
    conf.set("mapreduce.task.attempt.id", attempt.toString)
    conf.setBoolean("mapreduce.task.ismap", true)
    conf.setInt("mapreduce.task.partition", 0)
    new TaskAttemptContextImpl(conf, attempt)
  }
}

object PartWriter {
  /** What a task needs to write one schema. */
  final class Spec(val factory: OutputWriterFactory,
      val conf: SerializableConfiguration) extends Serializable

  // keyed by the SparkContext (application id and start time, so no
  // stopped context is kept reachable) and the schema: a broadcast dies
  // with its context, so entries of any other context are dropped
  private val writers = new ConcurrentHashMap[(String, StructType), PartWriter]

  /** The writer of `schema` for `spark`'s SparkContext, built and
    * broadcast on first use. The session's confs are read then: a later
    * change of a parquet conf is not seen by this writer. */
  def apply(spark: SparkSession, schema: StructType): PartWriter = {
    val sc = spark.sparkContext
    val app = s"${sc.applicationId}@${sc.startTime}"
    writers.keySet.removeIf(_._1 != app)
    writers.computeIfAbsent((app, schema),
      _ => new PartWriter(schema, sc.broadcast(prepare(spark, schema))))
  }

  private def prepare(spark: SparkSession, schema: StructType): Spec = {
    // what FileFormatWriter.write does before it starts its job
    val job = Job.getInstance(
      spark.sessionState.newHadoopConfWithOptions(Map.empty))
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    val conf = job.getConfiguration
    // the raw filesystem writes no .crc sidecar; uncached, because the
    // cached `file:` filesystem is the checksummed one
    conf.set("fs.file.impl", classOf[graft.io.NioRawLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    new Spec(factory, new SerializableConfiguration(conf))
  }

  /** Run `body`, which runs Spark jobs that write through part writers,
    * with the session's SQL confs visible to their tasks, as a DataFrame
    * write runs its job. */
  def withSqlConfs[T](spark: SparkSession)(body: => T): T =
    SQLExecution.withSQLConfPropagated(
      org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark))(body)

  /** One open file of a task. */
  final class Part private[PartWriter] (
      writer: org.apache.spark.sql.execution.datasources.OutputWriter,
      fs: FileSystem, dir: Path, val name: String, hidden: Boolean) {
    private var rows = 0L

    def write(row: InternalRow): Unit = { writer.write(row); rows += 1 }

    /** Close, publish a hidden file under its name, and add what was
      * written to the task's output metrics. */
    private[PartWriter] def commit(): Unit = {
      writer.close()
      val at = new Path(dir, name)
      if (hidden && !fs.rename(new Path(dir, "." + name), at))
        throw new java.io.IOException(s"cannot publish $at")
      TaskOutput.add(fs.getFileStatus(at).getLen, rows)
    }

    private[PartWriter] def abort(): Unit = {
      try writer.close()
      finally {
        fs.delete(new Path(dir, if (hidden) "." + name else name), false)
        ()
      }
    }
  }

  /** The files one task writes. */
  final class Task private[PartWriter] (writeId: String) {
    private val tc = TaskContext.get()
    private val contexts = mutable.HashMap.empty[PartWriter, TaskAttemptContext]
    private val parts = mutable.ArrayBuffer.empty[Part]

    /** Open a new file of `w`'s schema in `dir`. Its name is unique to
      * this write and task attempt: a retried task never meets the
      * files of an earlier attempt. */
    def open(w: PartWriter, dir: String, hidden: Boolean): Part = {
      val ctx = contexts.getOrElseUpdate(w, w.newContext(tc))
      val name = f"part-${tc.partitionId()}%05d-$writeId-" +
        s"${tc.taskAttemptId()}-c000${w.factory.getFileExtension(ctx)}"
      val d = new Path(dir)
      val at = new Path(d, if (hidden) "." + name else name)
      val part = new Part(w.factory.newInstance(at.toString, w.schema, ctx),
        d.getFileSystem(ctx.getConfiguration), d, name, hidden)
      parts += part
      part
    }

    private[PartWriter] def commit(): Unit = {
      var i = 0
      try while (i < parts.size) { parts(i).commit(); i += 1 }
      catch { case NonFatal(e) => abort(parts.drop(i)); throw e }
    }

    private[PartWriter] def abort(ps: Iterable[Part] = parts): Unit =
      ps.foreach { p => try p.abort() catch { case NonFatal(_) => () } }
  }

  /** Run one task's writes: `body` opens and fills files through the
    * [[Task]]. When the task ends every file is closed and published, and
    * when it (or publishing) fails the files still open are deleted — by
    * a task completion listener, so `body` may return a lazy iterator
    * that writes as the task's consumer reads it. Call inside a Spark
    * task, with a `writeId` the driver drew for the job (a random UUID):
    * file names must not repeat across jobs or runs. */
  def inTask[T](writeId: String)(body: Task => T): T = {
    val task = new Task(writeId)
    TaskContext.get().addTaskCompletionListener[Unit] { tc =>
      if (tc.isFailed()) task.abort() else task.commit()
    }
    body(task)
  }

  /** Write `df` into `dir` in ONE job, one part file per task, by
    * `FileFormatWriter`'s rules: partition 0 always writes a file, so an
    * empty frame still leaves one that carries its schema; any other
    * partition writes one only once it meets a row; a frame of no
    * partitions is written as one empty partition. A schema a DataFrame
    * write refuses is refused, the same way, before the job starts.
    * Returns the names of the files written. */
  def write(df: DataFrame, dir: String): Seq[String] = {
    val spark = df.sparkSession
    WriteChecks.parquet(df.schema,
      spark.sessionState.conf.caseSensitiveAnalysis)
    val w = PartWriter(spark, df.schema)
    val writeId = UUID.randomUUID().toString
    withSqlConfs(spark) {
      val rdd = df.queryExecution.toRdd
      val rows = if (rdd.getNumPartitions > 0) rdd
        else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
      rows.mapPartitionsWithIndex { (i, it) =>
        if (i > 0 && !it.hasNext) Iterator.empty
        else inTask(writeId) { task =>
          val part = task.open(w, dir, hidden = false)
          it.foreach(part.write)
          Iterator.single(part.name)
        }
      }.collect().toSeq
    }
  }

  private val StringVt = UTF8String.fromString("String")
  private val Float64Vt = UTF8String.fromString("Float64")

  /** Write a routed frame `(tableName, client, device, value_type,
    * value_d, value_s)` in ONE job: each task writes one part file
    * `(client, device, value)` per table it meets into `<root>/<table>/`,
    * `value` being `value_d` for Float64 rows and `value_s` for String
    * rows. A table's rows must share one value type. Returns the files
    * written per table. */
  def writeRouted(df: DataFrame, root: String): Map[String, Seq[String]] = {
    val spark = df.sparkSession
    val s = df.schema
    val Seq(iTable, iClient, iDevice, iType, iD, iS) =
      Seq("tableName", "client", "device", "value_type", "value_d",
        "value_s").map(s.fieldIndex)
    def fileSchema(value: String) = StructType(Seq(s("client"), s("device"),
      s(value).copy(name = "value")))
    val doubles = PartWriter(spark, fileSchema("value_d"))
    val strings = PartWriter(spark, fileSchema("value_s"))
    val writeId = UUID.randomUUID().toString
    val written = withSqlConfs(spark) {
      df.queryExecution.toRdd.mapPartitions { rows =>
        inTask(writeId) { task =>
          // table → (file, reads value_s)
          val open = mutable.HashMap.empty[UTF8String, (Part, Boolean)]
          val out = new GenericInternalRow(3)
          def copy(from: InternalRow, i: Int, to: Int): Unit =
            if (from.isNullAt(i)) out.setNullAt(to)
            else out.update(to, from.getUTF8String(i))
          rows.foreach { r =>
            val table = r.getUTF8String(iTable)
            val vt = r.getUTF8String(iType)
            val (part, isString) = open.getOrElse(table, {
              val isString = vt == StringVt
              require(isString || vt == Float64Vt,
                s"table $table: no part file for value type $vt")
              val p = task.open(if (isString) strings else doubles,
                s"$root/$table", hidden = false)
              open(table.clone()) = (p, isString)
              (p, isString)
            })
            require((vt == StringVt) == isString,
              s"table $table: rows of more than one value type")
            copy(r, iClient, 0)
            copy(r, iDevice, 1)
            if (isString) copy(r, iS, 2)
            else if (r.isNullAt(iD)) out.setNullAt(2)
            else out.setDouble(2, r.getDouble(iD))
            part.write(out)
          }
          open.iterator.map { case (t, (p, _)) => (t.toString, p.name) }
            .toSeq
        }.iterator
      }.collect()
    }
    written.toSeq.groupMap(_._1)(_._2)
  }
}
