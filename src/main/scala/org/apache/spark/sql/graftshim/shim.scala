package org.apache.spark.sql.graftshim

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.arrow.ArrowConverters
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.ArrowUtils

/** Bridge into Spark's `private[sql]` Column<->Expression converters (Spark 4
 *  moved Column onto ColumnNode; extensions conventionally shim into the sql
 *  package for this), the Arrow row<->batch converters Spark's own Python
 *  path runs on, InternalRow-level collect / LocalRelation construction, and
 *  the `private[spark]` listener bus.
 *  Keep this the ONLY file outside the graft namespace. */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def post(spark: SparkSession, e: SparkListenerEvent): Unit =
    spark.sparkContext.listenerBus.post(e)

  /** Rows → encapsulated Arrow IPC RecordBatch messages (the byte format
   *  pyspark's toPandas/mapInArrow consume). errorOnDuplicatedFieldNames on,
   *  largeVarTypes off — Spark's defaults for the Python path. */
  def toArrowBatchIterator(rows: Iterator[InternalRow], schema: StructType,
      maxRecordsPerBatch: Long, timeZoneId: String,
      ctx: TaskContext): Iterator[Array[Byte]] =
    ArrowConverters.toBatchIterator(rows, schema, maxRecordsPerBatch,
      timeZoneId, true, false, ctx)

  /** Inverse of [[toArrowBatchIterator]]. */
  def fromArrowBatchIterator(batches: Iterator[Array[Byte]], schema: StructType,
      timeZoneId: String, ctx: TaskContext): Iterator[InternalRow] =
    ArrowConverters.fromBatchIterator(batches, schema, timeZoneId, true, false, ctx)

  /** Spark schema → Arrow schema (same flags as the batch converters). */
  def toArrowSchema(schema: StructType,
      timeZoneId: String): org.apache.arrow.vector.types.pojo.Schema =
    ArrowUtils.toArrowSchema(schema, timeZoneId, true, false)

  /** InternalRow RDD + schema → DataFrame (no Row re-encoding round trip). */
  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** The rows of `df` as InternalRows, under its own SQL execution (what
   *  `Dataset.collect` runs, without decoding each row into a `Row`). */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** InternalRows + schema → DataFrame over a LocalRelation, the plan
   *  `createDataFrame(java.util.List[Row], schema)` builds: consumers plan
   *  a LocalTableScan and collecting it launches no job. */
  def localRelation(spark: SparkSession, rows: Seq[InternalRow],
      schema: StructType): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
