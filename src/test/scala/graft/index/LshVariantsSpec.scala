package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{LshCodec, VectorOps}

/** Pins the FAISS IndexLSH training suffixes (factory `LSH[nbits][r|t|rt]`):
 *  `r` = rotate_data (hyperplanes orthonormalized by classical Gram-Schmidt
 *  in double), `t` = train_thresholds (per-bit cut point = mean projection
 *  over the id-ordered training sample). Checks the stored artifacts, the
 *  encode parity between the build UDF / serve scan / local recomputation,
 *  and that every serve surface applies the same thresholds. */
class LshVariantsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.graft.ann.root", s"/tmp/graft-test-lshv-${System.nanoTime()}")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("ERROR") }

  private val sf = "/root/testdata/sf0.001"
  lazy val emb: DataFrame = spark.read.parquet(s"$sf/embeddings.parquet")

  private lazy val all: Array[(Long, Array[Float])] = emb
    .select("vec_id", "embedding").orderBy("vec_id").collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  private lazy val q0: Array[Float] = all.head._2

  private def dirOf(name: String): String =
    IndexCatalog.indexDir(Ann.root(spark), name)

  test("`r`: stored hyperplanes are orthonormal and differ from the seeds") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "lshv_r", "LSH8r",
      Ann.BuildParams(seedK = 8))
    assert(IndexCatalog.load(Ann.root(spark), "lshv_r").lshVariant == "r")
    val hyps = IndexCatalog.readCentroids(s"${dirOf("lshv_r")}/hyperplanes.bin")
    assert(hyps.length == 8)
    for (a <- hyps.indices; b <- a until hyps.length) {
      var s = 0.0
      hyps(a).indices.foreach(i => s += hyps(a)(i).toDouble * hyps(b)(i).toDouble)
      val want = if (a == b) 1.0 else 0.0
      assert(math.abs(s - want) < 1e-5, s"hyp[$a]·hyp[$b] = $s, want $want")
    }
    // and they equal the Gram-Schmidt of the 8 lowest-id embeddings
    val expect = VectorOps.orthonormalizeRows(
      all.take(8).map(_._2.map(_.toDouble))).map(_.map(_.toFloat))
    assert(hyps.indices.forall(b => hyps(b).sameElements(expect(b))),
      "stored rows != Gram-Schmidt(seed rows)")
  }

  test("`t`: thresholds.bin = id-ordered mean projections; codes use them") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "lshv_t", "LSH16t",
      Ann.BuildParams(seedK = 16))
    val meta = IndexCatalog.load(Ann.root(spark), "lshv_t")
    assert(meta.lshVariant == "t")
    val hyps = IndexCatalog.readCentroids(s"${dirOf("lshv_t")}/hyperplanes.bin")
    val thr = IndexCatalog.readThresholds(s"${dirOf("lshv_t")}/thresholds.bin")
    val expect = LshCodec.trainThresholds(hyps, all.map(_._2))
    assert(thr.sameElements(expect), "stored thresholds != id-ordered means")
    // a mean threshold cannot be the all-zero degenerate case here
    assert(thr.exists(t => math.abs(t) > 1e-9))
    // stored codes replay locally with the thresholds applied
    val stored = spark.read.parquet(meta.sourcePath)
      .select("id", "code").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val byId = all.toMap
    stored.foreach { case (id, code) =>
      assert(code == LshCodec.encode(hyps, byId(id), thr),
        s"stored code for $id differs from thresholded encode")
    }
    // and WITHOUT thresholds at least one code differs (the flag matters)
    assert(stored.exists { case (id, code) =>
      code != LshCodec.encode(hyps, byId(id)) })
  }

  test("`rt`: single-query, batch, and ExactServe rank identically") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "lshv_rt", "LSH16rt",
      Ann.BuildParams(seedK = 16))
    val meta = IndexCatalog.load(Ann.root(spark), "lshv_rt")
    assert(meta.lshVariant == "rt")
    val hyps = IndexCatalog.readCentroids(s"${dirOf("lshv_rt")}/hyperplanes.bin")
    val thr = IndexCatalog.readThresholds(s"${dirOf("lshv_rt")}/thresholds.bin")
    // brute-force Hamming ranking from a local re-encode
    val qcode = LshCodec.encode(hyps, q0, thr)
    val want = all.map { case (id, v) =>
      (java.lang.Long.bitCount(LshCodec.encode(hyps, v, thr) ^ qcode), id)
    }.sortBy(t => (t._1, t._2)).take(10).map(t => (t._2, t._1.toFloat)).toSeq

    val single = Ann.search(emb, "vec_id", "lshv_rt", q0, 10)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(single == want, s"single-query: $single != $want")

    val batch = Ann.searchBatch(emb, "vec_id", "lshv_rt", Seq(q0), 10)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq
      .sortBy(t => (t._2, t._1))
    assert(batch == want, s"batch: $batch != $want")

    val local = ExactServe.search(spark, meta, ExactServe.table(spark, meta).get,
      Set.empty, q0, 10)
      .map { case (id, d) => (id, d) }.toSeq
    assert(local == want, s"ExactServe: $local != $want")
  }

  test("append encodes new rows with the trained thresholds") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "lshv_app", "LSH16t",
      Ann.BuildParams(seedK = 16))
    import scala.jdk.CollectionConverters._
    val clone = all(3)._2
    val df = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(777777L, clone.toSeq)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
    Ann.append(df, "embedding", "vec_id", "lshv_app")
    val meta = IndexCatalog.load(Ann.root(spark), "lshv_app")
    val hyps = IndexCatalog.readCentroids(s"${dirOf("lshv_app")}/hyperplanes.bin")
    val thr = IndexCatalog.readThresholds(s"${dirOf("lshv_app")}/thresholds.bin")
    val appended = spark.read.parquet(meta.sourcePath)
      .where(col("id") === 777777L).select("code").collect()
    assert(appended.length == 1 &&
      appended(0).getLong(0) == LshCodec.encode(hyps, clone, thr),
      "appended row not encoded with the trained thresholds")
  }

  test("factory grammar: suffix forms parse, case-insensitive") {
    val rt = Ann.parseFactory("LSH32rt")
    assert(rt.engine == "lsh" && rt.lshNbits == 32 && rt.lshRotate && rt.lshThresholds)
    val r = Ann.parseFactory("lsh8R")
    assert(r.lshRotate && !r.lshThresholds)
    val t = Ann.parseFactory("LSHt")
    assert(!t.lshRotate && t.lshThresholds && t.lshNbits == 0)
    val plain = Ann.parseFactory("LSH16")
    assert(!plain.lshRotate && !plain.lshThresholds)
    val rfl = Ann.parseFactory("LSH16rt,RFlat")
    assert(rfl.refine && rfl.lshRotate && rfl.lshThresholds)
  }

  test("orthonormalizeRows rejects dependent rows") {
    val rows = Array(Array(1.0, 0.0), Array(2.0, 0.0))
    val e = intercept[IllegalArgumentException] {
      VectorOps.orthonormalizeRows(rows)
    }
    assert(e.getMessage.contains("dependent"), e.getMessage)
  }
}
