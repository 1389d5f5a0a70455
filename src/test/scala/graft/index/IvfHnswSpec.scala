package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the `IVF<n>_HNSW<m>` HNSW coarse quantizer (FAISS
 *  quantizer=IndexHNSWFlat analog): factory grammar, saturation bypass
 *  (nprobe = nlist answers bit-identically to plain IVF on every serve
 *  surface), graph-probe recall vs exact selection, ExactServe parity at a
 *  graph-probed operating point, persistence (coarse.hnsw + metadata
 *  round-trip), and the append contract (exact assignment against frozen
 *  centroids — the graph never goes stale because centroids never move). */
class IvfHnswSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.graft.ann.root", s"/tmp/graft-test-ivfhnsw-${System.nanoTime()}")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("ERROR") }

  private val sf = "/root/testdata/sf0.001"
  lazy val emb: DataFrame = spark.read.parquet(s"$sf/embeddings.parquet")
  private lazy val q0: Array[Float] = {
    val r = emb.orderBy("vec_id").limit(1).collect()(0)
    r.getSeq[Float](r.fieldIndex("embedding")).toArray
  }

  private def dirOf(name: String): String =
    IndexCatalog.indexDir(Ann.root(spark), name)

  test("factory grammar: IVF<n>_HNSW<m> forms parse; bad degree rejects") {
    val p = Ann.parseFactory("IVF1024_HNSW32,Flat")
    assert(p.engine == "ivfflat" && p.nlist == 1024 && p.coarseHnswM == 32)
    val pd = Ann.parseFactory("IVF64_HNSW") // empty degree = HNSW default
    assert(pd.engine == "ivfflat" && pd.coarseHnswM == graft.core.HnswIndex.DefaultM)
    val ppq = Ann.parseFactory("IVF256_HNSW16,PQ8")
    assert(ppq.engine == "ivfpq" && ppq.nlist == 256 && ppq.pqM == 8 &&
      ppq.coarseHnswM == 16)
    val psq = Ann.parseFactory("IVF64_HNSW16,SQ8")
    assert(psq.engine == "ivfsq" && psq.coarseHnswM == 16 &&
      psq.quantization == "sq8")
    intercept[IllegalArgumentException](Ann.parseFactory("IVF64_HNSW1,Flat"))
  }

  test("saturation: IVF_HNSW at nprobe=nlist answers bit-identically to plain IVF") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "ivfh_sat",
      "IVF8_HNSW16,Flat", Ann.BuildParams(nprobe = 8))
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "ivf_plain",
      "IVF8,Flat", Ann.BuildParams(nprobe = 8))
    val a = Ann.search(emb, "vec_id", "ivfh_sat", q0, 10)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val b = Ann.search(emb, "vec_id", "ivf_plain", q0, 10)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(a == b)
    // the graph artifact exists and survives a catalog round-trip
    assert(new java.io.File(s"${dirOf("ivfh_sat")}/coarse.hnsw").isFile)
    val meta = IndexCatalog.load(Ann.root(spark), "ivfh_sat")
    assert(meta.coarseHnswM == 16)
  }

  test("graph probe selection: same-set recall >= 0.9 vs exact top-nprobe") {
    // centroids are the unit of selection — measure the graph directly
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "ivfh_sel",
      "IVF32_HNSW16,Flat", Ann.BuildParams(nprobe = 4))
    val meta = IndexCatalog.load(Ann.root(spark), "ivfh_sel")
    val cents = IndexCatalog.readCentroids(s"${dirOf("ivfh_sel")}/centroids.bin")
    val coarse = Coarse.of(spark, meta)
    assert(coarse.cents.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
    val loads0 = ShardCache.loads
    val rnd = new java.util.Random(7L)
    val nq = 50
    var hit = 0; var tot = 0
    for (_ <- 0 until nq) {
      val q = Array.fill(cents(0).length)(rnd.nextGaussian().toFloat * 0.3f)
      val exact = KMeansLite.nearestP(cents, q, 4).toSet
      val graph = coarse.probes(q, 4).toSet
      assert(graph.size == 4)
      hit += graph.intersect(exact).size; tot += 4
    }
    assert(hit.toDouble / tot >= 0.9, s"graph probe recall ${hit.toDouble / tot}")
    // 50 selections decode the graph once
    assert(ShardCache.loads - loads0 == 1)
  }

  test("graph-probed search == manual scan over the graph's own probe set; ExactServe parity") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "ivfh_probe",
      "IVF16_HNSW8,Flat", Ann.BuildParams(nprobe = 4))
    val meta = IndexCatalog.load(Ann.root(spark), "ivfh_probe")
    val probes = Coarse.of(spark, meta).probes(q0, 4).toSet
    assert(probes.size == 4)
    // distributed route
    spark.conf.set("spark.graft.localMaxBytes", "0")
    val dist = Ann.search(emb, "vec_id", "ivfh_probe", q0, 10)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    // manual oracle: exact top-10 WITHIN the graph's probe set
    val stored = spark.read.parquet(meta.sourcePath)
      .where(col("cluster").isin(probes.toSeq.map(Integer.valueOf): _*))
      .select("id", "vec").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val want = stored.map { case (id, v) =>
      var s = 0.0; var i = 0
      while (i < v.length) {
        val d = v(i).toDouble - q0(i).toDouble; s += d * d; i += 1
      }
      (id, s)
    }.sortBy(t => (t._2, t._1)).take(10).map(t => (t._1, t._2.toFloat)).toSeq
    assert(dist == want)
    // job-free route answers identically (same Coarse probe selection)
    spark.conf.set("spark.graft.localMaxBytes", (64L << 20).toString)
    val local = Ann.search(emb, "vec_id", "ivfh_probe", q0, 10)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(local == dist)
    spark.conf.unset("spark.graft.localMaxBytes")
  }

  test("append assigns against frozen centroids; graph keeps serving the union") {
    val half1 = emb.where(col("vec_id") % 2 === 0)
    val half2 = emb.where(col("vec_id") % 2 === 1)
    Ann.buildIndexFactory(half1, "embedding", "vec_id", "ivfh_app",
      "IVF8_HNSW8,Flat", Ann.BuildParams(nprobe = 8))
    Ann.append(half2, "embedding", "vec_id", "ivfh_app")
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "ivfh_app_full",
      "IVF8,Flat", Ann.BuildParams(nprobe = 8))
    // saturation on both ⇒ identical exact answers regardless of assignment
    val a = Ann.search(emb, "vec_id", "ivfh_app", q0, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val b = Ann.search(emb, "vec_id", "ivfh_app_full", q0, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(a == b)
  }

  test("rebuild loops do not strand decoded coarse graphs (generation eviction)") {
    // a streaming maintain loop rebuilds the same index name repeatedly;
    // each rebuild changes the coarse.hnsw generation. The one cache must
    // REPLACE per path, not accumulate a graph per generation for the JVM
    // lifetime (tens of MB each at design-point nlist), and the single-query
    // and batch serves of one generation share one decode of each file (the
    // build already decoded the centroid table to assign its rows).
    val dir = dirOf("ivfh_evict")
    for (round <- 1 to 3) {
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "ivfh_evict",
        "IVF8_HNSW8,Flat", Ann.BuildParams(nprobe = 2))
      val loads0 = ShardCache.loads
      Ann.search(emb, "vec_id", "ivfh_evict", q0, 5).count()
      Ann.searchBatch(emb, "vec_id", "ivfh_evict", Seq(q0), 5).count()
      assert(ShardCache.loads - loads0 == 1, s"round $round: coarse graph decodes")
      assert(ShardCache.cachedPaths.filter(_.startsWith(s"$dir/")) ==
        Set(s"$dir/centroids.bin", s"$dir/coarse.hnsw"), s"round $round: ${ShardCache.cachedPaths}")
    }
  }
}
