package graft.index

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.index.Ann

/** Edge cases mirrored from the reference's test/sql/edge_cases.test:
 *  dim=1, duplicate vectors, k > N, empty input, bad names. */
class EdgeCasesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.ann.root", s"/tmp/graft-edge-indexes-${System.nanoTime()}")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("dim=1 vectors index and search correctly") {
    import spark.implicits._
    val df = (0L until 20L).map(i => (i, Array(i.toFloat))).toDF("id", "v")
    for (engine <- Seq("diskann", "hnsw", "flat")) {
      Ann.buildIndex(df, "v", "id", s"e1_$engine",
        Ann.BuildParams(engine = engine, numShards = 1))
      val hits = Ann.search(df, "id", s"e1_$engine", Array(7.2f), 3,
        searchComplexity = 32).collect().map(_.getLong(0))
      assert(hits.head == 7L, s"$engine: nearest to 7.2 is 7, got ${hits.toSeq}")
    }
  }

  test("duplicate vectors all retrievable; ties broken by id") {
    import spark.implicits._
    val v = Array(1f, 2f, 3f)
    val df = Seq((1L, v), (2L, v), (3L, v), (4L, Array(9f, 9f, 9f)))
      .toDF("id", "v")
    Ann.buildIndex(df, "v", "id", "e_dup", Ann.BuildParams(engine = "flat"))
    val hits = Ann.search(df, "id", "e_dup", v, 3).collect().map(_.getLong(0))
    assert(hits.toSeq == Seq(1L, 2L, 3L))
  }

  test("k > N returns all N rows") {
    import spark.implicits._
    val df = (0L until 5L).map(i => (i, Array(i.toFloat, 0f))).toDF("id", "v")
    for (engine <- Seq("diskann", "flat")) {
      Ann.buildIndex(df, "v", "id", s"e_small_$engine",
        Ann.BuildParams(engine = engine, numShards = 1))
      val n = Ann.search(df, "id", s"e_small_$engine", Array(0f, 0f), 100,
        searchComplexity = 16).count()
      assert(n == 5, s"$engine returned $n")
    }
  }

  test("empty input build fails with a clear error") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      Ann.buildIndex(empty, "v", "id", "e_empty", Ann.BuildParams(engine = "diskann"))
    }
    assert(e.getMessage.contains("empty"))
  }

  test("searchBatch with empty query list returns empty result with schema") {
    import spark.implicits._
    val df = (0L until 5L).map(i => (i, Array(i.toFloat))).toDF("id", "v")
    Ann.buildIndex(df, "v", "id", "e_b0", Ann.BuildParams(engine = "flat"))
    val res = Ann.searchBatch(df, "id", "e_b0", Seq.empty, 3)
    assert(res.count() == 0)
    assert(res.columns.contains("query_idx") && res.columns.contains("_distance"))
  }

  test("index_factory strings parse to the right engines") {
    import spark.implicits._
    assert(Ann.parseFactory("Flat").engine == "flat")
    assert(Ann.parseFactory("IVF256,Flat") ==
      Ann.BuildParams(engine = "ivfflat", nlist = 256))
    assert(Ann.parseFactory("HNSW16").hnswM == 16)
    assert(Ann.parseFactory("HNSW").engine == "hnsw")
    val d = Ann.parseFactory("DiskANN32,SQ8")
    assert(d.engine == "diskann" && d.maxDegree == 32 && d.quantization == "sq8")
    assert(Ann.parseFactory("PQ8").engine == "pq")
    intercept[IllegalArgumentException](Ann.parseFactory("PQ8,IVF4"))
    intercept[IllegalArgumentException](Ann.parseFactory("HNSW16,SQ8"))
    // end-to-end through the factory entry point
    val df = (0L until 30L).map(i => (i, Array(i.toFloat, (i % 7).toFloat))).toDF("id", "v")
    Ann.buildIndexFactory(df, "v", "id", "e_factory", "IVF4,Flat")
    assert(Ann.search(df, "id", "e_factory", Array(5f, 5f), 3).count() == 3)
  }

  test("ivfflat probe scan prunes parquet partitions to the probed clusters") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, Array((i % 10).toFloat, (i / 10).toFloat)))
      .toDF("id", "v")
    Ann.buildIndex(df, "v", "id", "e_ivf_prune",
      Ann.BuildParams(engine = "ivfflat", nlist = 5, nprobe = 2))
    // the distributed plan: below the gate the search runs on the driver
    val p = graft.core.RouteParity.distributed(spark)(
      Ann.searchHits(spark, "e_ivf_prune", Array(1f, 1f), 5).queryExecution.executedPlan.toString)
    assert(p.contains("PartitionFilters") && p.contains("cluster"),
      s"expected cluster partition filters:\n$p")
  }
}
