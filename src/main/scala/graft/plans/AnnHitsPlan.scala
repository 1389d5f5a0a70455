package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Predicate,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LocalRelation,
  LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import graft.index.{Ann, IndexCatalog}

/**
 * Lazy ANN search as a plan node — the "AnnTopKScanExec" shape: the rewrite
 * (AnnTopKRule in `spark.graft.ann.rewriteMode=lazy`) grafts a LeftSemi
 * join between the base relation and this node instead of searching inside
 * the optimizer. The search then runs at EXECUTION time (the reference
 * executes inside its scan operator, src/ann_optimizer.cpp:62-93), so
 * EXPLAIN / plan caching / AQE re-optimization never launch index I/O.
 *
 * Trade-off vs the default eager mode: the hit-id predicate is no longer a
 * literal `In` at scan-planning time, so parquet row-group skipping on the
 * id column is lost — the semi join (broadcast: [[computeStats]] reports
 * ~fetchK·16 bytes) filters after the scan instead. Eager mode keeps the
 * skip and remains the default; lazy mode is for cached-plan / repeated-
 * EXPLAIN / AQE-heavy workflows.
 */
case class AnnHitsNode(indexName: String, query: Seq[Float], fetchK: Int,
    output: Seq[Attribute], searchComplexity: Int = 0) extends LeafNode {
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = math.max(fetchK, 1).toLong * 16L)
}

case class AnnHitsExec(indexName: String, query: Seq[Float], fetchK: Int,
    output: Seq[Attribute], searchComplexity: Int = 0) extends LeafExecNode {

  private def computeRows(): Array[InternalRow] = {
    val spark = SparkSession.active
    val rootDir = Ann.root(spark)
    val metaPath = s"${IndexCatalog.indexDir(rootDir, indexName)}/metadata.json"
    val meta = IndexCatalog.load(rootDir, indexName)
    val hits = AnnTopKRule.cachedHits(metaPath, AnnTopKRule.metaHashOf(metaPath), meta,
        query.toArray, fetchK, searchComplexity) {
      Ann.collectHits(spark, meta, IndexCatalog.readTombstones(rootDir, indexName),
        query.toArray, fetchK, searchComplexity, oversample = 1)
    }
    val proj = UnsafeProjection.create(schema)
    // 1 attr: hit ids (the rewrite's LeftSemi shape); 2 attrs: (id, distance)
    // for the lazy ann_search table-function plan
    if (output.length >= 2)
      hits.map(h => proj(InternalRow(h._1, h._2)).copy().asInstanceOf[InternalRow])
    else
      hits.map(h => proj(InternalRow(h._1)).copy().asInstanceOf[InternalRow])
  }

  override def executeCollect(): Array[InternalRow] = computeRows()

  protected def doExecute(): RDD[InternalRow] = {
    val rows = computeRows()
    sparkContext.parallelize(rows.toIndexedSeq, 1)
  }
}

/** The rows of a top-k the eager rewrite answered on the driver: collected
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
    case AnnHitsNode(name, q, k, out, sc) => AnnHitsExec(name, q, k, out, sc) :: Nil
    // a top-k the eager rewrite answered on the driver: its rows, scanned
    // with no job (the condition is the marker, plus any filter merged in)
    case Filter(cond, LocalRelation(out, data, false, None))
        if cond.exists(_.isInstanceOf[AnnRewrittenMarker]) =>
      val keep = Predicate.createInterpreted(BindReferences.bindReference(cond, out))
      FetchedRowsExec(out, data.filter(keep.eval)) :: Nil
    case CommandTvfNode(fn, out, body) => CommandTvfExec(fn, out, body) :: Nil
    case _ => Nil
  }
}
