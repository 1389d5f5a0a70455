package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.RouteParity

/** Pins the routing of filtered search (Ann.searchFiltered): the driver
 *  search and the distributed plan return the same (id, distance) list on
 *  every engine family ([[RouteParity.both]]), including the ivf nprobe
 *  saturation retry and tombstones under a filter, and the driver route
 *  plans as a LocalRelation (job-free). */
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

  /** `searchFiltered` on both routes: asserts they agree and returns the
   *  answer. */
  private def parity(name: String, k: Int, filt: Ann.IdFilter): Seq[(Long, Float)] = {
    val (local, dist) =
      RouteParity.both(spark)(rows(Ann.searchFiltered(spark, name, q0, k, filt)))
    assert(local == dist, s"$name: local $local != distributed $dist")
    local
  }

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
      assert(parity(name, 10, filt).forall(_._1 % 3 == 1), name)
    }
  }

  test("nprobe saturation retry fires on the local route too") {
    // nprobe=1 with a ~1/50 filter under-fills k=10 from one cluster
    Ann.buildIndex(emb, "embedding", "vec_id", "fs_ivf_esc",
      Ann.BuildParams(engine = "ivfflat", nlist = 8, nprobe = 1))
    assert(parity("fs_ivf_esc", 10, Ann.IdFilter.modEq(50, 1)).length == 10)
  }

  test("tombstones excluded under a filter on the local route") {
    Ann.buildIndex(emb, "embedding", "vec_id", "fs_tomb",
      Ann.BuildParams(engine = "flat"))
    val filt = Ann.IdFilter.modEq(2, 0)
    val before = parity("fs_tomb", 5, filt)
    Ann.delete(spark, "fs_tomb", Seq(before.head._1))
    val after = parity("fs_tomb", 5, filt)
    assert(!after.exists(_._1 == before.head._1))
    assert(after.length == 5)
  }

  test("job-free: the local route plans as a LocalRelation") {
    for ((name, engine) <- Seq("fs_plan" -> "flat", "fs_plan_graph" -> "diskann")) {
      Ann.buildIndex(emb, "embedding", "vec_id", name, Ann.BuildParams(engine = engine))
      val df = Ann.searchFiltered(spark, name, q0, 5, Ann.IdFilter.modEq(2, 0))
      val isLocal = df.queryExecution.optimizedPlan match {
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
        case _ => false
      }
      assert(isLocal, df.queryExecution.optimizedPlan.treeString)
    }
  }

  test("graph engines: filtered search on both routes, diskann and hnsw") {
    for (engine <- Seq("diskann", "hnsw")) {
      val name = s"fs_$engine"
      Ann.buildIndex(emb, "embedding", "vec_id", name,
        Ann.BuildParams(engine = engine, numShards = 2))
      for (filt <- Seq(Ann.IdFilter.modEq(3, 1), Ann.IdFilter.modEq(50, 1))) {
        val got = parity(name, 10, filt)
        assert(got.length == 10 && got.forall(h => filt.fn(h._1)), s"$engine: $got")
      }
    }
  }
}
