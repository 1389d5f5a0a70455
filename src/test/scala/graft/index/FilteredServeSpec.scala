package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the job-free filtered serving route (Ann.searchFilteredHits →
 *  TableEngine.searchFilteredHits): bit-parity with the distributed
 *  searchFiltered on every eligible engine, including the ivf nprobe
 *  saturation retry, tombstones under a filter, and the LocalRelation
 *  (job-free) plan shape. */
class FilteredServeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.graft.ann.root", s"/tmp/graft-test-fserve-${System.nanoTime()}")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("ERROR") }

  private val sf = "/root/testdata/sf0.001"
  lazy val emb: DataFrame = spark.read.parquet(s"$sf/embeddings.parquet")

  private lazy val q0: Array[Float] = {
    val r = emb.orderBy("vec_id").limit(1).collect()(0)
    r.getSeq[Float](r.fieldIndex("embedding")).toArray
  }

  private def rows(df: DataFrame): Seq[(Long, Float)] =
    df.collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq

  test("local filtered route == distributed, every eligible engine") {
    val configs = Seq(
      "fs_flat" -> Ann.BuildParams(engine = "flat"),
      "fs_ivf" -> Ann.BuildParams(engine = "ivfflat", nlist = 8, nprobe = 8),
      "fs_pq" -> Ann.BuildParams(engine = "pq", pqM = 8),
      "fs_ivfpq" -> Ann.BuildParams(engine = "ivfpq", nlist = 4, nprobe = 4,
        pqM = 8, refine = true, refineK = 4),
      "fs_ivfsq" -> Ann.BuildParams(engine = "ivfsq", nlist = 4, nprobe = 2),
      "fs_lsh" -> Ann.BuildParams(engine = "lsh"))
    val filt = Ann.IdFilter.modEq(3, 1)
    configs.foreach { case (name, p) =>
      Ann.buildIndex(emb, "embedding", "vec_id", name, p)
      val dist = rows(Ann.searchFiltered(spark, name, q0, 10, filt))
      val local = rows(Ann.searchFilteredHits(spark, name, q0, 10, filt))
      assert(local == dist, s"$name: local $local != distributed $dist")
      assert(local.forall(_._1 % 3 == 1))
    }
  }

  test("nprobe saturation retry fires on the local route too") {
    // nprobe=1 with a ~1/50 filter under-fills k=10 from one cluster
    Ann.buildIndex(emb, "embedding", "vec_id", "fs_ivf_esc",
      Ann.BuildParams(engine = "ivfflat", nlist = 8, nprobe = 1))
    val filt = Ann.IdFilter.modEq(50, 1)
    val dist = rows(Ann.searchFiltered(spark, "fs_ivf_esc", q0, 10, filt))
    val local = rows(Ann.searchFilteredHits(spark, "fs_ivf_esc", q0, 10, filt))
    assert(local == dist && local.length == 10)
  }

  test("tombstones excluded under a filter on the local route") {
    Ann.buildIndex(emb, "embedding", "vec_id", "fs_tomb",
      Ann.BuildParams(engine = "flat"))
    val filt = Ann.IdFilter.modEq(2, 0)
    val before = rows(Ann.searchFilteredHits(spark, "fs_tomb", q0, 5, filt))
    Ann.delete(spark, "fs_tomb", Seq(before.head._1))
    val after = rows(Ann.searchFilteredHits(spark, "fs_tomb", q0, 5, filt))
    assert(!after.exists(_._1 == before.head._1))
    assert(after == rows(Ann.searchFiltered(spark, "fs_tomb", q0, 5, filt)))
  }

  test("job-free: the local route plans as a LocalRelation") {
    Ann.buildIndex(emb, "embedding", "vec_id", "fs_plan",
      Ann.BuildParams(engine = "flat"))
    val df = Ann.searchFilteredHits(spark, "fs_plan", q0, 5,
      Ann.IdFilter.modEq(2, 0))
    val isLocal = df.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case _ => false
    }
    assert(isLocal, df.queryExecution.optimizedPlan.treeString)
  }

  test("graph engines fall back to the distributed filtered route") {
    Ann.buildIndex(emb, "embedding", "vec_id", "fs_graph",
      Ann.BuildParams(engine = "diskann", numShards = 2))
    val filt = Ann.IdFilter.modEq(3, 1)
    val dist = rows(Ann.searchFiltered(spark, "fs_graph", q0, 10, filt))
    val local = rows(Ann.searchFilteredHits(spark, "fs_graph", q0, 10, filt))
    assert(local == dist)
  }
}
