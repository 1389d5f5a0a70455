package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the IMI2x<b> coarse quantizer (FAISS multi-index analog): factory
 *  parse, product-centroid geometry (serving reuses the ivfflat stack
 *  verbatim), seeded assignment ≡ brute half-argmins, saturating-probe
 *  exactness, filtered under-fill escalation, and grammar bounds. */
class ImiSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.graft.ann.root", s"/tmp/graft-test-imi-${System.nanoTime()}")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("ERROR") }

  private val sf = "/root/testdata/sf0.001"
  lazy val emb: DataFrame = spark.read.parquet(s"$sf/embeddings.parquet")

  private lazy val all: Array[(Long, Array[Float])] = emb
    .select("vec_id", "embedding").collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
  private lazy val q0: Array[Float] = all.minBy(_._1)._2

  test("factory: IMI2x2 parses to ivfflat with 16 product cells") {
    val m = Ann.buildIndexFactory(emb, "embedding", "vec_id", "imi_f", "IMI2x2")
    assert(m.engine == "ivfflat" && m.nlist == 16)
    // product centroids materialized: serving machinery sees a plain IVF
    val cents = IndexCatalog.readCentroids(
      s"${IndexCatalog.indexDir(Ann.root(spark), "imi_f")}/centroids.bin")
    assert(cents.length == 16 && cents(0).length == 64)
    val mf = Ann.buildIndexFactory(emb, "embedding", "vec_id", "imi_ff", "IMI2x3,Flat")
    assert(mf.engine == "ivfflat" && mf.nlist == 64)
  }

  test("seeded assignment == brute half-argmins; product centroid = concat") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "imi_s", "IMI2x2",
      Ann.BuildParams(seedK = 4))
    val dirPath = IndexCatalog.indexDir(Ann.root(spark), "imi_s")
    val cents = IndexCatalog.readCentroids(s"$dirPath/centroids.bin")
    val seeds = all.sortBy(_._1).take(4).map(_._2)
    // cell (i, j)'s centroid is [seed_i.firstHalf ; seed_j.secondHalf]
    for (i <- 0 until 4; j <- 0 until 4)
      assert(cents(i * 4 + j).toSeq ==
        (seeds(i).take(32) ++ seeds(j).drop(32)).toSeq, s"cell ($i,$j)")
    // stored cluster column equals the half-argmin assignment
    val meta = IndexCatalog.load(Ann.root(spark), "imi_s")
    val assigned = spark.read.parquet(meta.sourcePath)
      .select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    def halfArgmin(v: Array[Float], off: Int): Int =
      (0 until 4).minBy { c =>
        val s = seeds(c)
        var d = 0.0f; var k = 0
        while (k < 32) { val x = v(off + k) - s(off + k); d += x * x; k += 1 }
        (d, c)
      }
    all.foreach { case (id, v) =>
      val want = halfArgmin(v, 0) * 4 + halfArgmin(v, 32)
      assert(assigned(id) == want, s"row $id assigned ${assigned(id)}, want $want")
    }
  }

  test("saturating probe (nprobe = nlist) == exact top-k") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "imi_x", "IMI2x2",
      Ann.BuildParams(nprobe = 16))
    val got = Ann.search(emb, "vec_id", "imi_x", q0, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = all.map { case (id, v) =>
      (graft.core.VectorOps.l2SqDoubleAcc(v, q0), id)
    }.sortBy(t => (t._1, t._2)).take(10).map(_._2).toSet
    assert(got == exact)
  }

  test("filtered search under-fill escalates to a full-cell scan") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "imi_flt", "IMI2x2",
      Ann.BuildParams(nprobe = 1))
    // a filter matching few rows: nprobe=1 under-fills, escalation makes
    // the answer exact for any selectivity (the ivfflat saturation path)
    val filt = Ann.IdFilter.modEq(11, 3)
    val got = Ann.searchFiltered(spark, "imi_flt", q0, 5, filt)
      .collect().map(_.getLong(0)).toSeq
    val exact = all.filter(t => filt.fn(t._1)).map { case (id, v) =>
      (graft.core.VectorOps.l2SqDoubleAcc(v, q0), id)
    }.sortBy(t => (t._1, t._2)).take(5).map(_._2).toSeq
    assert(got == exact)
  }

  test("grammar: b out of range errors; IMI with an unknown terminal errors") {
    val e = intercept[IllegalArgumentException] {
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "imi_e", "IMI2x9")
    }
    assert(e.getMessage.contains("IMI2x<b>"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "imi_e2", "IMI2x4,HNSW16")
    }
    assert(e2.getMessage.contains("supported:"), e2.getMessage)
  }

  test("IMI2x<b>,PQ<m>: ivfpq engine over product cells; assignment decomposes") {
    val m = Ann.buildIndexFactory(emb, "embedding", "vec_id", "imipq",
      "IMI2x2,PQ8", Ann.BuildParams(seedK = 16, nprobe = 16))
    assert(m.engine == "ivfpq" && m.nlist == 16 && m.maxDegree == 8)
    val dirPath = IndexCatalog.indexDir(Ann.root(spark), "imipq")
    val cents = IndexCatalog.readCentroids(s"$dirPath/centroids.bin")
    assert(cents.length == 16)
    // stored cluster = the DECOMPOSED per-half argmin (what the build UDF
    // and the oracle compute; a full-product float scan agrees up to float
    // near-ties, so the spec replays the engine's own arithmetic)
    val meta = IndexCatalog.load(Ann.root(spark), "imipq")
    val byId = all.toMap
    val seeds = all.sortBy(_._1).take(4).map(_._2)
    val (cb1, cb2) = (seeds.map(_.take(32)), seeds.map(_.drop(32)))
    spark.read.parquet(meta.sourcePath).select("id", "cluster").collect()
      .foreach { r =>
        val id = r.getLong(0)
        val v = byId(id)
        val want = KMeansLite.nearest(cb1, v.take(32)) * 4 +
          KMeansLite.nearest(cb2, v.drop(32))
        assert(r.getInt(1) == want, s"row $id cluster != decomposed argmin")
      }
    // full probe returns k rows ranked by non-decreasing ADC distance
    val got = Ann.search(emb, "vec_id", "imipq", q0, 10)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1)))
    assert(got.length == 10)
    assert(got.map(_._2).sliding(2).forall(a => a.length < 2 || a(0) <= a(1)))
    // distributed scan and the job-free local serve rank identically
    val local = ExactServe.search(spark, meta, ExactServe.table(spark, meta).get,
      Set.empty, q0, 10).toSeq
    assert(local.map(_._1).toSeq == got.map(_._1).toSeq,
      s"ExactServe order differs: $local vs ${got.toSeq}")
  }

  test("IMI2x<b>,PQ<m>,RFlat: exact re-rank over IMI-celled ADC candidates") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "imipqr",
      "IMI2x2,PQ8,RFlat", Ann.BuildParams(seedK = 16, nprobe = 16, refineK = 4))
    val got = Ann.search(emb, "vec_id", "imipqr", q0, 5)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1)))
    assert(got.length == 5)
    // refined distances are the EXACT metric distances of the candidates
    val byId = all.toMap
    got.foreach { case (id, d) =>
      val exact = graft.core.VectorOps.l2SqDoubleAcc(byId(id), q0).toFloat
      assert(math.abs(d - exact) <= math.ulp(exact) * 4,
        s"refined distance for $id not exact: $d vs $exact")
    }
  }
}
