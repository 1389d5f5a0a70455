package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Route

/** Driver-local serving for small exact/quantized indexes must be
 *  bit-identical to the distributed scan, job-free once warm, and
 *  invalidate on append/delete. */
class ExactServeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.graft.ann.root", s"/tmp/graft-test-exactserve-${System.nanoTime()}")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("ERROR") }

  private val sf = "/root/testdata/sf0.001"
  lazy val emb: DataFrame = spark.read.parquet(s"$sf/embeddings.parquet")
  private lazy val q0: Array[Float] = {
    val r = emb.orderBy("vec_id").limit(1).collect()(0)
    r.getSeq[Float](r.fieldIndex("embedding")).toArray
  }

  private def hits(name: String, k: Int, over: Int = 1): Seq[(Long, Float)] =
    Ann.collectHits(spark, name, q0, k, 0, over).toSeq

  test("flat + ivfflat + pq + pq,RFlat: local route == forced distributed route") {
    for ((engine, refine, name) <- Seq(
        ("flat", false, "t_srv_flat"), ("ivfflat", false, "t_srv_ivf"),
        ("pq", false, "t_srv_pq"), ("pq", true, "t_srv_pq_rf"),
        ("ivfpq", true, "t_srv_ipq_rf"))) {
      Ann.buildIndex(emb, "embedding", "vec_id", name,
        Ann.BuildParams(engine = engine, nlist = 4, nprobe = 4, pqM = 8,
          refine = refine))
      spark.conf.set("spark.graft.localMaxBytes", "0") // force job path
      val viaJob = hits(name, 7, over = 2)
      spark.conf.unset("spark.graft.localMaxBytes")
      val local = hits(name, 7, over = 2)
      assert(local == viaJob,
        s"$engine refine=$refine: local route diverged from the scan")
    }
  }

  test("warm cache serves with no Spark job") {
    hits("t_srv_flat", 5) // warm
    val sc = spark.sparkContext
    val stats = new graft.tools.StageStats
    sc.addSparkListener(stats)
    try {
      // the listener bus is async: drain the warm search's events first
      stats.drain(sc)
      stats.clear()
      val r = hits("t_srv_flat", 5)
      stats.drain(sc)
      assert(r.length == 5)
      assert(stats.routes.map(_.route) == Seq(Route.Local), "must use the local route")
      assert(stats.jobs == 0, s"warm local serving launched ${stats.jobs} Spark job(s)")
    } finally sc.removeSparkListener(stats)
  }

  test("delete is visible immediately; append invalidates the cache") {
    import spark.implicits._
    val first = hits("t_srv_flat", 3).head._1
    Ann.delete(spark, "t_srv_flat", Seq(first))
    assert(!hits("t_srv_flat", 3).exists(_._1 == first), "tombstone not applied")
    // append a vector identical to the query → it must surface at distance 0
    val extra = Seq((777777L, q0.toSeq)).toDF("vec_id", "embedding")
    Ann.append(extra, "embedding", "vec_id", "t_srv_flat")
    val top = hits("t_srv_flat", 3)
    assert(top.exists(t => t._1 == 777777L && t._2 == 0.0f),
      s"appended row missing from warm cache: $top")
  }

  test("searchTable grid: empty query table and all-tombstoned hits") {
    import spark.implicits._
    Ann.buildIndex(emb, "embedding", "vec_id", "t_edge",
      Ann.BuildParams(engine = "diskann", numShards = 2, maxDegree = 16,
        buildComplexity = 32))
    val empty = Seq.empty[(Long, Seq[Float])].toDF("qid", "qvec")
    assert(Ann.searchTable(empty, "qvec", emb, "vec_id", "t_edge", 3).count() == 0)
    // tombstone the top hits; over-fetch must still return k live rows
    val top = Ann.search(emb, "vec_id", "t_edge", q0, 3, searchComplexity = 100)
      .collect().map(_.getLong(0))
    Ann.delete(spark, "t_edge", top.toSeq)
    val after = Ann.search(emb, "vec_id", "t_edge", q0, 3, searchComplexity = 100)
      .collect().map(_.getLong(0))
    assert(after.length == 3 && after.intersect(top).isEmpty)
  }

  test("compactExact on ivfflat keeps partition pruning intact") {
    Ann.buildIndex(emb, "embedding", "vec_id", "t_cmp_ivf",
      Ann.BuildParams(engine = "ivfflat", nlist = 4, nprobe = 4))
    val before = hits("t_cmp_ivf", 5)
    Ann.compactExact(spark, "t_cmp_ivf")
    assert(hits("t_cmp_ivf", 5) == before)
    val meta = IndexCatalog.load(Ann.root(spark), "t_cmp_ivf")
    // cluster partition dirs must survive the rewrite (pruning depends on them)
    val dirs = new java.io.File(meta.sourcePath).listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("cluster=")) > 0, s"got ${dirs.mkString(",")}")
  }

  test("compactExact folds micro-batch append files; results unchanged") {
    import spark.implicits._
    Ann.buildIndex(emb, "embedding", "vec_id", "t_cmp",
      Ann.BuildParams(engine = "flat"))
    for (i <- 0 until 6) {
      val extra = Seq((900000L + i, Array.fill(64)(0.5f + i * 0.01f).toSeq))
        .toDF("vec_id", "embedding")
      Ann.append(extra, "embedding", "vec_id", "t_cmp")
    }
    def dataFiles(): Int = {
      val dir = new java.io.File(IndexCatalog.load(Ann.root(spark), "t_cmp").sourcePath)
      def walk(f: java.io.File): Int = {
        val kids = f.listFiles(); if (kids == null) 0
        else kids.map(c => if (c.isDirectory) walk(c)
          else if (c.getName.endsWith(".parquet")) 1 else 0).sum
      }
      walk(dir)
    }
    val before = hits("t_cmp", 10)
    assert(dataFiles() >= 7, s"expected one file per append, got ${dataFiles()}")
    val meta = Ann.compactExact(spark, "t_cmp")
    assert(meta.numVectors == 506L)
    assert(dataFiles() == 1, s"expected 1 compacted file, got ${dataFiles()}")
    assert(hits("t_cmp", 10) == before, "compaction changed search results")
  }
}
