package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.PcaCodec

/** Pins the transform-chain factory forms over the ivfpq terminal —
 *  `OPQ<m>,IVF<n>,PQ<m>` (FAISS's canonical billion-scale recipe) and
 *  `PCA<d>,IVF<n>,PQ<m>`: grammar, the seeded chain's bit-parity with a
 *  manually rotated plain ivfpq, the stored rotation's orthonormality and
 *  inverse round-trip, reconstruct through the inverse fold, and append
 *  through the frozen rotation. */
class OpqChainSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.graft.ann.root", s"/tmp/graft-test-opqchain-${System.nanoTime()}")
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

  test("factory grammar: chain forms parse; mismatched m and bad chains reject") {
    val p = Ann.parseFactory("OPQ8,IVF64,PQ8")
    assert(p.engine == "ivfpq" && p.nlist == 64 && p.pqM == 8 && p.opqChain)
    val pp = Ann.parseFactory("PCA32,IVF64,PQ8")
    assert(pp.engine == "ivfpq" && pp.pcaDim == 32 && pp.pqM == 8 && !pp.opqChain)
    val pr = Ann.parseFactory("PCAR32,IVF64,PQ8")
    assert(pr.pcaVariant == "r")
    intercept[IllegalArgumentException](Ann.parseFactory("OPQ8,IVF64,PQ4"))
    intercept[IllegalArgumentException](Ann.parseFactory("OPQ8,IVF64"))
    intercept[IllegalArgumentException](Ann.parseFactory("OPQ8,IVF64,SQ8"))
    // chain x HNSW coarse quantizer composition
    val ph = Ann.parseFactory("OPQ8,IVF64_HNSW16,PQ8")
    assert(ph.engine == "ivfpq" && ph.nlist == 64 && ph.pqM == 8 &&
      ph.opqChain && ph.coarseHnswM == 16)
    assert(Ann.parseFactory("OPQ8,IVF64_HNSW,PQ8").coarseHnswM ==
      graft.core.HnswIndex.DefaultM)
    intercept[IllegalArgumentException](Ann.parseFactory("OPQ8,IVF64_HNSW0,PQ8"))
  }

  test("OPQ chain over an HNSW coarse quantizer == the plain chain at saturation") {
    // identical stored contents (assignment is the exact scan either way);
    // at nprobe = nlist the graph is bypassed, so results must bit-match
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "oc_hnsw",
      "OPQ8,IVF4_HNSW8,PQ8", Ann.BuildParams(seedK = 16, nprobe = 4))
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "oc_plain",
      "OPQ8,IVF4,PQ8", Ann.BuildParams(seedK = 16, nprobe = 4))
    val a = Ann.search(emb, "vec_id", "oc_hnsw", q0, 10)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val b = Ann.search(emb, "vec_id", "oc_plain", q0, 10)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(a == b && a.length == 10)
    // the coarse graph exists and graph-probed operating points serve
    val meta = IndexCatalog.load(Ann.root(spark), "oc_hnsw")
    assert(meta.coarseHnswM == 8 &&
      new java.io.File(s"${dirOf("oc_hnsw")}/coarse.hnsw").exists())
    Ann.setNprobe(spark, "oc_hnsw", 1)
    assert(Ann.search(emb, "vec_id", "oc_hnsw", q0, 5).count() == 5)
  }

  test("seeded OPQ chain == plain seeded ivfpq over manually reversed vectors") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "oc_chain",
      "OPQ8,IVF4,PQ8", Ann.BuildParams(seedK = 16, nprobe = 4))
    // manual reference: reverse every embedding (the seeded rotation) and
    // build a plain seeded ivfpq over it; search with the reversed query
    val rev = emb.withColumn("embedding",
      reverse(col("embedding")).cast("array<float>"))
    Ann.buildIndex(rev, "embedding", "vec_id", "oc_manual",
      Ann.BuildParams(engine = "ivfpq", nlist = 4, nprobe = 4, pqM = 8,
        seedK = 16))
    val a = Ann.search(emb, "vec_id", "oc_chain", q0, 10)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val b = Ann.search(rev, "vec_id", "oc_manual", q0.reverse, 10)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(a == b)
    val meta = IndexCatalog.load(Ann.root(spark), "oc_chain")
    assert(meta.pcaVariant == "q" && meta.pcaFile.nonEmpty &&
      meta.inputDim == meta.dim)
  }

  test("seeded OPQ,IMI chain == plain IMI2x2,PQ8 over manually reversed vectors") {
    // the last grammar corner: the chain composes with the multi-index
    // coarse quantizer — parse-arm-only, the rotation folds into pca.bin
    // and the ivfpq terminal already handles IMI product cells
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "oc_imi_chain",
      "OPQ8,IMI2x2,PQ8", Ann.BuildParams(seedK = 16, nprobe = 16))
    val rev = emb.withColumn("embedding",
      reverse(col("embedding")).cast("array<float>"))
    Ann.buildIndexFactory(rev, "embedding", "vec_id", "oc_imi_manual",
      "IMI2x2,PQ8", Ann.BuildParams(seedK = 16, nprobe = 16))
    val a = Ann.search(emb, "vec_id", "oc_imi_chain", q0, 10)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val b = Ann.search(rev, "vec_id", "oc_imi_manual", q0.reverse, 10)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(a == b && a.length == 10)
    val meta = IndexCatalog.load(Ann.root(spark), "oc_imi_chain")
    assert(meta.imiB == 2 && meta.pcaVariant == "q" && meta.pcaFile.nonEmpty)
    // grammar edges: mismatched m and a missing PQ terminal reject
    intercept[IllegalArgumentException](Ann.parseFactory("OPQ8,IMI2x2,PQ4"))
    intercept[IllegalArgumentException](Ann.parseFactory("OPQ8,IMI2x2"))
    intercept[IllegalArgumentException](Ann.parseFactory("OPQ8,IMI2x9,PQ8"))
  }

  test("trained OPQ chain: stored rotation is orthonormal, mean zero; inverse round-trips") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "oc_train",
      "OPQ8,IVF4,PQ8", Ann.BuildParams(nprobe = 4))
    val pca = PcaCodec.read(s"${dirOf("oc_train")}/pca.bin")
    assert(pca.mean.forall(_ == 0f))
    val r = pca.rotation
    for (i <- r.indices; j <- r.indices) {
      val dot = r(i).zip(r(j)).map { case (a, b) => a.toDouble * b }.sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-4,
        s"rotation rows $i,$j dot=$dot")
    }
    val x = q0
    val back = pca.inverseTransform(pca.transform(x))
    val err = x.zip(back).map { case (a, b) => math.abs(a - b) }.max
    assert(err < 1e-4, s"inverse round-trip err $err")
  }

  test("reconstruct on the chain applies the inverse fold (centroid+residual, then R^T)") {
    val meta = IndexCatalog.load(Ann.root(spark), "oc_chain")
    val pca = PcaCodec.read(s"${dirOf("oc_chain")}/pca.bin")
    val cb = PqCodec.read(s"${dirOf("oc_chain")}/pq.bin")
    val cents = IndexCatalog.readCentroids(s"${dirOf("oc_chain")}/centroids.bin")
    val row = spark.read.parquet(meta.sourcePath)
      .where(col("id") === 5L).select("code", "cluster").collect()(0)
    val res = PqCodec.decode(cb, row.getAs[Array[Byte]](0))
    val c = cents(row.getInt(1))
    val yhat = res.indices.map(i => c(i) + res(i)).toArray
    val want = pca.inverseTransform(yhat)
    val got = Ann.reconstruct(spark, "oc_chain", Seq(5L)).collect()(0)
      .getSeq[Float](1).toArray
    assert(got.toSeq == want.toSeq)
  }

  test("plain OPQ serves job-free: ExactServe == distributed scan (ADC rotated, refine unrotated)") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "oc_srv", "OPQ8,PQ8",
      Ann.BuildParams(seedK = 16))
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "oc_srv_r",
      "OPQ8,PQ8,RFlat", Ann.BuildParams(seedK = 16, refineK = 4))
    for (nm <- Seq("oc_srv", "oc_srv_r")) {
      spark.conf.set("spark.graft.localMaxBytes", "0")
      val dist = Ann.search(emb, "vec_id", nm, q0, 10)
        .select("vec_id", "_distance").collect()
        .map(r => (r.getLong(0), r.getFloat(1))).toSeq
      spark.conf.set("spark.graft.localMaxBytes", (64L << 20).toString)
      val meta = IndexCatalog.load(Ann.root(spark), nm)
      assert(ExactServe.table(spark, meta).nonEmpty, s"$nm should be job-free eligible")
      val local = Ann.search(emb, "vec_id", nm, q0, 10)
        .select("vec_id", "_distance").collect()
        .map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(local == dist, s"$nm job-free route diverged")
    }
    spark.conf.unset("spark.graft.localMaxBytes")
  }

  test("cosine OPQ chain: append encodes identically to the build (rotate THEN normalize)") {
    // same rows, half built / half appended, must land with identical
    // cluster+code to a one-shot build — the frozen-transform bit-parity
    // convention (append used to normalize before rotating, an ulp-level
    // float-order divergence)
    val half1 = emb.where(col("vec_id") < 100)
    val half2 = emb.where(col("vec_id") >= 100 && col("vec_id") < 200)
    Ann.buildIndexFactory(half1, "embedding", "vec_id", "oc_cos",
      "OPQ8,IVF4,PQ8", Ann.BuildParams(metric = "cosine", seedK = 16, nprobe = 4))
    Ann.append(half2, "embedding", "vec_id", "oc_cos")
    Ann.buildIndexFactory(emb.where(col("vec_id") < 200), "embedding",
      "vec_id", "oc_cos_full", "OPQ8,IVF4,PQ8",
      Ann.BuildParams(metric = "cosine", seedK = 16, nprobe = 4))
    val m1 = IndexCatalog.load(Ann.root(spark), "oc_cos")
    val m2 = IndexCatalog.load(Ann.root(spark), "oc_cos_full")
    def rows(m: IndexMeta) = spark.read.parquet(m.sourcePath)
      .select("id", "cluster", "code").collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getAs[Array[Byte]](2).toSeq)))
      .toMap
    assert(rows(m1) == rows(m2))
  }

  test("cosine OPQ chain: TABLE paths normalize AFTER the stored rotation " +
      "(parity with the single-query prepQuery order)") {
    // OPQ-chain ivfpq stores its rotation as pca.bin and allows cosine, so
    // the table paths' pcaFile branch MUST normalize after the transform —
    // un-normalized queries (scaled 3x here) would otherwise select probes
    // and score distances against 3x-scaled vectors, diverging from the
    // single-query path for both top-k and range.
    val base = emb.where(col("vec_id") < 200)
    Ann.buildIndexFactory(base, "embedding", "vec_id", "oc_cos_tbl",
      "OPQ8,IVF4,PQ8", Ann.BuildParams(metric = "cosine", seedK = 16, nprobe = 2))
    val queries = emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"),
        transform(col("embedding"), x => x * lit(3.0f)).as("embedding"))
    val qArr = queries.select("qid", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // ids must agree exactly; distances to an ulp (the table path
    // normalizes via the SQL double-division normalizeCol, the single-query
    // path via the float VectorOps.normalize — the same established
    // ulp-class divergence the non-pca cosine table path has)
    val got = Ann.searchTable(queries, "embedding", base, "vec_id",
        "oc_cos_tbl", 5)
      .select(col("qid"), col("vec_id"), col("_distance")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getFloat(2))).toMap
    val want = qArr.flatMap { case (qid, q) =>
      Ann.search(base, "vec_id", "oc_cos_tbl", q, 5)
        .select("vec_id", "_distance").collect()
        .map(x => ((qid, x.getLong(0)), x.getFloat(1)))
    }.toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, d) => assert(math.abs(d - want(k)) < 1e-5f, k) }
    // range TABLE parity: same ball per query as single-query rangeSearch
    val radius = -0.05f // cosine surface: −cos ≤ radius ⇔ cos ≥ 0.05
    val gotR = Ann.rangeSearchTable(queries, "embedding", base, "vec_id",
        "oc_cos_tbl", radius)
      .select(col("qid"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantR = qArr.flatMap { case (qid, q) =>
      Ann.rangeSearch(base, "vec_id", "oc_cos_tbl", q, radius)
        .select("vec_id").collect().map(x => (qid, x.getLong(0)))
    }.toSet
    assert(gotR.nonEmpty && gotR == wantR)
  }

  test("coarseProbe and its decoded graph are process-cached per file generation") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "oc_cp",
      "IVF16_HNSW8,Flat", Ann.BuildParams(nprobe = 4))
    val meta = IndexCatalog.load(Ann.root(spark), "oc_cp")
    val path = s"${dirOf("oc_cp")}/coarse.hnsw"
    ShardCache.forget(_ == path)
    val loads0 = ShardCache.loads
    val a = Ann.coarseProbe(spark, meta)
    val b = Ann.coarseProbe(spark, meta)
    assert(a.select(q0, 4).toSeq == b.select(q0, 4).toSeq)
    // two probes of one generation cost one decode: no per-query file read
    assert(ShardCache.loads - loads0 == 1 && ShardCache.cachedPaths.contains(path))
    assert(KMeansLite.nearestPImi(
      Array.fill(4)(Array.fill(4)(0f)), 1, Array.fill(4)(0f), 0).isEmpty)
  }

  test("PCA32,IVF8,PQ8 reduction chain builds and serves; append rides the frozen fold") {
    Ann.buildIndexFactory(emb.where(col("vec_id") < 150), "embedding",
      "vec_id", "oc_pca", "PCA32,IVF8,PQ8", Ann.BuildParams(nprobe = 8))
    val meta = IndexCatalog.load(Ann.root(spark), "oc_pca")
    assert(meta.dim == 32 && meta.inputDim == 64)
    Ann.append(emb.where(col("vec_id") >= 150 && col("vec_id") < 200),
      "embedding", "vec_id", "oc_pca")
    val hits = Ann.search(emb, "vec_id", "oc_pca", q0, 10)
      .select("vec_id").collect().map(_.getLong(0))
    assert(hits.length == 10)
    // appended ids are servable (full corpus present in the code table)
    val n = spark.read.parquet(meta.sourcePath).count()
    assert(n == 200)
  }
}
