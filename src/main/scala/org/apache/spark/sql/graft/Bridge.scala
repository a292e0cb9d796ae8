package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst Expression bridge.
  *
  * Spark 4 made `ExpressionUtils` private[sql]; custom-Expression
  * libraries conventionally expose it via a shim in the sql package
  * tree. Used by graft.etl.expressions call sites only.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a shutdown hook through Spark's ordered
    * ShutdownHookManager (private[spark]) instead of the raw JVM API:
    * JVM shutdown hooks run CONCURRENTLY in unspecified order, so a
    * raw hook draining streaming queries races Spark's own hook
    * stopping the SparkContext. Priorities run highest-first;
    * SparkContext stops at priority 50, so a drain registered above
    * that completes before context teardown begins. Returns a handle
    * accepted by [[removeShutdownHook]]. */
  val SparkContextShutdownPriority: Int =
    org.apache.spark.util.ShutdownHookManager.SPARK_CONTEXT_SHUTDOWN_PRIORITY
  def addShutdownHook(priority: Int)(f: () => Unit): AnyRef =
    org.apache.spark.util.ShutdownHookManager.addShutdownHook(priority)(f)
  def removeShutdownHook(handle: AnyRef): Boolean =
    org.apache.spark.util.ShutdownHookManager.removeShutdownHook(handle)

  /** Unpersist the storage blocks behind a `localCheckpoint()`ed
    * Dataset (the `LogicalRDD` leaf's RDD — private[sql], hence here).
    * A local checkpoint truncates lineage, so after this the Dataset
    * can NEVER be recomputed: callers free only frames whose consumers
    * have fully materialized (an iterative algorithm's previous round,
    * or a finished query's result). Without it every round of an
    * iterative job leaks its blocks for the session lifetime —
    * `Dataset.unpersist`/`catalog.clearCache` only cover CacheManager
    * entries, not checkpoint blocks. */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.Dataset[_],
      blocking: Boolean = false): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.foreach(_.unpersist(blocking))

  /** The Dataset's physical result as an RDD[InternalRow] — the
    * engine's own row format, with NO Row deserialization
    * (`Dataset.rdd` converts every row to external objects and back;
    * measured as corpus-sized CPU per suffix doubling round, r19).
    * CONTRACT: rows may be REUSED buffers — copy any value retained
    * across `next()` (UTF8String.copy, ArrayData.copy, row.copy). */
  def toInternalRdd(df: org.apache.spark.sql.Dataset[_])
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.toRdd

  /** Stream `df`'s rows to the driver partition by partition (no
    * collect) and hand each one to `f`, inside ONE SQL execution that
    * ends after the last row. `Dataset.toLocalIterator` ends its
    * execution as soon as the iterator exists, before any partition
    * ran, so `observe`d metrics on the plan complete with zeros; here
    * they complete with the rows actually drained. Rows are
    * deserialized with the schema's `RowEncoder`. */
  def drainToDriver(df: org.apache.spark.sql.Dataset[_])(
      f: org.apache.spark.sql.Row => Unit): Unit = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(
        qe, Some("toLocalIterator")) {
      val fromRow = org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
      qe.executedPlan.executeToIterator().foreach(r => f(fromRow(r)))
    }
  }

  /** DataFrame over an RDD[InternalRow] with a known schema —
    * `SparkSession.internalCreateDataFrame` is private[sql], hence
    * here. The inverse of [[toInternalRdd]]: together they let a
    * two-pass partition algorithm (Ranking.denseRank) run entirely in
    * the internal format. The physical scan re-projects rows to
    * unsafe, so emitting reused/joined rows is safe under the
    * standard operator contract. */
  def internalCreateDataFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}
