package org.apache.spark

/** Adds bytes and records to the running task's output metrics (their
  * setters are `private[spark]`), as `FileFormatWriter`'s stats tracker
  * does for a DataFrame write, so listeners see what a task wrote with
  * its own file writer. No-op outside a task. */
object TaskOutput {
  def add(bytes: Long, records: Long): Unit =
    Option(TaskContext.get()).foreach { tc =>
      val m = tc.taskMetrics().outputMetrics
      m.setBytesWritten(m.bytesWritten + bytes)
      m.setRecordsWritten(m.recordsWritten + records)
    }
}
