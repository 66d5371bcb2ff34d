package org.apache.spark.sql

import org.apache.spark.TaskContext

/** Reports what a task wrote to its `OutputMetrics`, as Spark's own file
  * writers do — the setters are private[spark], so the helper lives under
  * the spark package (like GraftColumnShim). A no-op outside a task.
  */
object GraftOutputMetrics {
  def add(records: Long, bytes: Long): Unit =
    Option(TaskContext.get()).foreach { ctx =>
      val m = ctx.taskMetrics().outputMetrics
      m.setRecordsWritten(m.recordsWritten + records)
      m.setBytesWritten(m.bytesWritten + bytes)
    }
}
