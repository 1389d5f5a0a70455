package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.PcaCodec

/** Pins the PCA transform chain (factory `PCA<d>,Flat` / `PCA<d>,IVF<n>` —
 *  FAISS PCAMatrix + IndexPreTransform analog): fitted-basis orthogonality
 *  and variance ordering, full-dim rotation == exact top-k, reduced-dim
 *  recall sanity, frozen-transform append, batch-surface parity, grammar
 *  errors, and the rewrite-rule exclusion. */
class PcaSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.graft.ann.root", s"/tmp/graft-test-pca-${System.nanoTime()}")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("ERROR") }

  private val sf = "/root/testdata/sf0.001"
  lazy val emb: DataFrame = spark.read.parquet(s"$sf/embeddings.parquet")

  private lazy val all: Array[(Long, Array[Float])] = emb
    .select("vec_id", "embedding").collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  private lazy val q0: Array[Float] = all.minBy(_._1)._2

  private def exactTop(k: Int, q: Array[Float]): Seq[Long] =
    all.map { case (id, v) =>
      (graft.core.VectorOps.l2SqDoubleAcc(v, q), id)
    }.sortBy(t => (t._1, t._2)).take(k).map(_._2).toSeq

  test("fit: rotation rows are orthonormal, eigenvalues descend") {
    val sample = all.take(300).map(_._2)
    val pca = PcaCodec.fit(sample, sample(0).length)
    val rot = pca.rotation
    for (a <- rot.indices; b <- a until rot.length) {
      var s = 0.0
      rot(a).indices.foreach(i => s += rot(a)(i).toDouble * rot(b)(i).toDouble)
      val want = if (a == b) 1.0 else 0.0
      assert(math.abs(s - want) < 1e-4, s"rot[$a]·rot[$b] = $s, want $want")
    }
    // component variances over the sample must descend
    val vars = rot.map { row =>
      val ys = sample.map { v =>
        var s = 0.0
        row.indices.foreach(i => s += row(i).toDouble * (v(i) - pca.mean(i)))
        s
      }
      val m = ys.sum / ys.length
      ys.map(y => (y - m) * (y - m)).sum / (ys.length - 1)
    }
    vars.sliding(2).foreach { case Array(a, b) =>
      assert(a >= b - 1e-9, s"variance not descending: $a < $b") }
  }

  test("full-dim PCA chain == exact top-k (rotation preserves L2)") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "pca_full", "PCA64,Flat")
    val meta = IndexCatalog.load(Ann.root(spark), "pca_full")
    assert(meta.engine == "flat" && meta.dim == 64 && meta.inputDim == 64 &&
      meta.pcaFile.nonEmpty)
    val got = Ann.search(emb, "vec_id", "pca_full", q0, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got.sorted == exactTop(10, q0).sorted,
      s"rotated top-10 set differs from exact: $got")
  }

  test("reduced-dim PCA over an IVF terminal: clustered scan, sane recall") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "pca_ivf",
      "PCA16,IVF8,Flat", Ann.BuildParams(nprobe = 8))
    val meta = IndexCatalog.load(Ann.root(spark), "pca_ivf")
    assert(meta.engine == "ivfflat" && meta.dim == 16 && meta.inputDim == 64)
    val got = Ann.search(emb, "vec_id", "pca_ivf", q0, 10)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1)))
    // q0 IS row 0's embedding: its projection is identical whatever the
    // reduction, so self-retrieval at distance 0 survives any dim cut —
    // the robust pipeline check (rank-recall on 16/64 dims of near-random
    // vectors is legitimately low and would make the test a coin flip)
    assert(got.head._1 == all.minBy(_._1)._1 && got.head._2 == 0.0f,
      s"self-query did not retrieve itself first: ${got.toSeq}")
    assert(got.length == 10)
  }

  test("append encodes through the FROZEN transform") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "pca_app", "PCA64,Flat")
    import scala.jdk.CollectionConverters._
    val row = org.apache.spark.sql.Row(888888L, q0.toSeq)
    val df = spark.createDataFrame(Seq(row).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
    Ann.append(df, "embedding", "vec_id", "pca_app")
    val top = Ann.searchHits(spark, "pca_app", q0, 2).collect()
      .map(r => (r.getLong(0), r.getFloat(1)))
    // the appended clone of q0 transforms to the same point → distance ~0
    assert(top.exists { case (id, d) => id == 888888L && d < 1e-6f },
      s"appended clone not found at ~0: ${top.toSeq}")
  }

  test("batch/table surface transforms queries identically to single-query") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "pca_b", "PCA64,Flat")
    val single = Ann.search(emb, "vec_id", "pca_b", q0, 5)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq.sortBy(t => (t._2, t._1))
    val batch = Ann.searchBatch(emb, "vec_id", "pca_b", Seq(q0), 5)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq.sortBy(t => (t._2, t._1))
    assert(batch.map(_._1) == single.map(_._1))
  }

  test("range search (single + table) transforms queries on full-dim chains") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "pca_r", "PCA64,Flat")
    // radius = midway between the 20th and 21st NN distances: rotation
    // preserves L2, and the mid-gap radius makes the in-radius set
    // unambiguous under float rounding — exactly the 20 nearest ids
    val ds = all.map(t => (graft.core.VectorOps.l2SqDoubleAcc(t._2, q0), t._1))
      .sortBy(t => (t._1, t._2))
    val radius = ((ds(19)._1 + ds(20)._1) / 2).toFloat
    val want = ds.take(20).map(_._2).toSet
    val got = Ann.rangeSearch(emb, "vec_id", "pca_r", q0, radius)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == want, s"range set off: got ${got.size}, want 20")
    // TABLE route: one query row, same radius
    import scala.jdk.CollectionConverters._
    val qDf = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(q0.toSeq)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("qv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
    val gotT = Ann.rangeSearchTable(qDf, "qv", emb, "vec_id", "pca_r",
        radius)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(gotT == got, s"table route differs: ${gotT.size} vs ${got.size}")
  }

  test("range search REJECTS reduced-dim chains (lossy radius semantics)") {
    // radius promises a metric-space ball; PCA16 over 64-dim input scores in
    // lossy transformed space where the same radius selects a different set
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "pca_rr",
      "PCA16,IVF8,Flat", Ann.BuildParams(nprobe = 8))
    val e1 = intercept[IllegalArgumentException] {
      Ann.rangeSearch(emb, "vec_id", "pca_rr", q0, 1.0f)
    }
    assert(e1.getMessage.contains("transformed space"), e1.getMessage)
    import scala.jdk.CollectionConverters._
    val qDf = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(q0.toSeq)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("qv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
    val e2 = intercept[IllegalArgumentException] {
      Ann.rangeSearchTable(qDf, "qv", emb, "vec_id", "pca_rr", 1.0f)
    }
    assert(e2.getMessage.contains("transformed space"), e2.getMessage)
  }

  test("same-name rebuild refreshes the cached transform (no stale rotation)") {
    // Build, serve once (warms PcaCodec's cache), rebuild the SAME name on
    // coordinate-reversed data (different fitted basis at the same pca.bin
    // path), serve again: a stale cached rotation would transform the query
    // with the old basis while stored vectors use the new one, so the
    // self-query would no longer land at distance 0.
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "pca_stale", "PCA64,Flat")
    val warm = Ann.searchHits(spark, "pca_stale", q0, 1).collect()
    assert(warm.head.getFloat(1) == 0.0f)
    val emb2 = emb.withColumn("embedding", reverse(col("embedding")))
    Ann.buildIndexFactory(emb2, "embedding", "vec_id", "pca_stale", "PCA64,Flat")
    val q0r = q0.reverse
    val top = Ann.searchHits(spark, "pca_stale", q0r, 1).collect()
      .map(r => (r.getLong(0), r.getFloat(1)))
    assert(top.head == ((all.minBy(_._1)._1, 0.0f)),
      s"self-query after same-name rebuild: ${top.toSeq} (stale PCA cache?)")
  }

  test("same-name rebuilds keep one cached transform per index path") {
    // each rebuild rewrites pca.bin at the same path with a new mtime; a
    // cache keyed by (path, mtime, size) would pin one transform per rebuild
    val before = PcaCodec.cachedCount
    for (_ <- 1 to 4) {
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "pca_rebuilt", "PCA16,Flat")
      assert(Ann.searchHits(spark, "pca_rebuilt", q0, 1).collect().length == 1)
    }
    assert(PcaCodec.cachedCount == before + 1)
  }

  test("grammar and semantic errors") {
    val e1 = intercept[IllegalArgumentException] {
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "pca_e1", "PCA32")
    }
    assert(e1.getMessage.contains("terminal"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "pca_e2", "PCA32,HNSW16")
    }
    assert(e2.getMessage.contains("terminal"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "pca_e3", "PCA32,Flat",
        Ann.BuildParams(metric = "cosine"))
    }
    assert(e3.getMessage.contains("l2"), e3.getMessage)
  }

  test("pca indexes are never rewrite candidates (transformed-space values)") {
    val oldRoot = spark.conf.get("spark.graft.ann.root")
    spark.conf.set("spark.graft.ann.root", s"/tmp/graft-rule-pca-${System.nanoTime()}")
    try {
      graft.plans.Graft.init(spark)
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "rule_pca", "PCA64,Flat")
      import graft.functions.{toFloatVec, floatVec, array_distance}
      val topk = emb.orderBy(array_distance(toFloatVec(col("embedding")),
        floatVec(q0.toSeq))).limit(10)
      assert(!topk.queryExecution.optimizedPlan.toString.contains("ann_index_scan"),
        s"pca index captured a metric top-k:\n${topk.queryExecution.optimizedPlan}")
    } finally spark.conf.set("spark.graft.ann.root", oldRoot)
  }
}
