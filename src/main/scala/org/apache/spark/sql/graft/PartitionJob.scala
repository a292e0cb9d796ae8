package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.util.SerializableConfiguration

/** One Spark job over a Dataset's internal rows, run inside ONE SQL
  * execution — the write-side twin of [[Bridge.drainToDriver]]: the
  * execution ends after the last task, so metrics `observe`d on the
  * plan complete with the rows the job actually saw. Each task gets the
  * driver's Hadoop configuration (`SerializableConfiguration` is
  * private[spark], hence here), its TaskContext and its partition's
  * rows — reused buffers, as [[Bridge.toInternalRdd]] documents — and
  * returns one result; results come back in partition order. */
object PartitionJob {
  def run[U: scala.reflect.ClassTag](ds: org.apache.spark.sql.Dataset[_], name: String)(
      task: (Configuration, TaskContext, Iterator[InternalRow]) => U): Array[U] = {
    val qe = ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    val sc = ds.sparkSession.sparkContext
    val conf = new SerializableConfiguration(sc.hadoopConfiguration)
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some(name)) {
      sc.runJob(qe.executedPlan.execute(),
        (ctx: TaskContext, rows: Iterator[InternalRow]) => task(conf.value, ctx, rows))
    }
  }

  /** Count `bytes` and `records` the running task wrote in its output
    * metrics, as Spark's own file writers do (the setters are
    * private[spark]). */
  def addOutput(ctx: TaskContext, bytes: Long, records: Long): Unit = {
    val m = ctx.taskMetrics().outputMetrics
    m.setBytesWritten(m.bytesWritten + bytes)
    m.setRecordsWritten(m.recordsWritten + records)
  }
}
