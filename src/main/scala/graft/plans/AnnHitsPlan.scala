package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Predicate,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}

/** The rows of a top-k the rewrite answered on the driver: collected
 *  or taken with no job, like `LocalTableScanExec`, but one partition when
 *  an operator above executes them (a `count()` then runs one task, not a
 *  partial aggregate per core and a shuffle). */
case class FetchedRowsExec(output: Seq[Attribute], @transient rows: Seq[InternalRow])
    extends LeafExecNode {
  override def outputPartitioning: Partitioning = SinglePartition

  @transient private lazy val unsafeRows: Array[InternalRow] = {
    val proj = UnsafeProjection.create(output, output)
    rows.map(r => proj(r).copy()).toArray
  }

  override def executeCollect(): Array[InternalRow] = unsafeRows
  override def executeTake(n: Int): Array[InternalRow] = unsafeRows.take(n)
  protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(unsafeRows.toIndexedSeq, 1)
}

object AnnHitsStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    // a top-k the rewrite answered on the driver: its rows, scanned
    // with no job (the condition is the marker, plus any filter merged in)
    case Filter(cond, LocalRelation(out, data, false, None))
        if cond.exists(_.isInstanceOf[AnnRewrittenMarker]) =>
      val keep = Predicate.createInterpreted(BindReferences.bindReference(cond, out))
      FetchedRowsExec(out, data.filter(keep.eval)) :: Nil
    case CommandTvfNode(fn, out, body) => CommandTvfExec(fn, out, body) :: Nil
    case _ => Nil
  }
}
