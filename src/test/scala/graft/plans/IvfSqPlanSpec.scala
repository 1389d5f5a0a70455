package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.index.{Ann, IndexCatalog}

/** Plan-shape pin for the `IVF<n>,SQ8` scan (the ivfpq precedent): the
 *  probe set must reach the parquet source as PARTITION pruning (cluster is
 *  the partition column — probes prune whole files, not rows), and the
 *  codes-only projection must not read a vector column. */
class IvfSqPlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.graft.ann.root", s"/tmp/graft-test-isqplan-${System.nanoTime()}")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("ERROR") }

  private val sf = "/root/testdata/sf0.001"
  lazy val emb: DataFrame = spark.read.parquet(s"$sf/embeddings.parquet")
  private lazy val q0: Array[Float] = emb.orderBy("vec_id")
    .select("embedding").head().getSeq[Float](0).toArray

  test("probe set prunes cluster PARTITIONS; scan projects codes only") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "isq_plan", "IVF8,SQ8",
      Ann.BuildParams(nprobe = 2))
    // force the distributed scan (ExactServe would hide the plan)
    spark.conf.set("spark.graft.localMaxBytes", "0")
    try {
      val df = Ann.searchHits(spark, "isq_plan", q0, 5)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        plan.matches("(?s).*PartitionFilters: \\[.*cluster.*IN.*\\].*"),
        s"probe set did not reach PartitionFilters:\n$plan")
      // ReadSchema must be the two-column (id, code) projection
      val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(read.contains("id") && read.contains("code") && !read.contains("vec"),
        s"scan reads more than (id, code): $read")
    } finally spark.conf.unset("spark.graft.localMaxBytes")
  }
}
