package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Sq8Codec

/** Pins the `IVF<n>,SQ8` engine (FAISS IndexIVFScalarQuantizer analog,
 *  by_residual=false): factory grammar, the synthetic per-dim codebook's
 *  value identity with Sq8 dequantization, saturating-probe ranking ==
 *  dequantized brute force, serve-surface parity (distributed scan /
 *  ExactServe / batch), frozen-range append, filtered under-fill
 *  escalation, and the RFlat exact re-rank. */
class IvfSqSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.graft.ann.root", s"/tmp/graft-test-ivfsq-${System.nanoTime()}")
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

  /** Brute-force dequantized ranking from the stored sq.bin ranges — the
   *  reference semantics every serve surface must reproduce. */
  private def bruteDequantTop(name: String, q: Array[Float], k: Int,
      exclude: Set[Long] = Set.empty): Seq[(Long, Float)] = {
    val sq = IndexCatalog.readCentroids(s"${dirOf(name)}/sq.bin")
    val (mins, scales) = (sq(0), sq(1))
    all.filterNot(t => exclude(t._1)).map { case (id, v) =>
      val code = Sq8Codec.encodeRow(v, mins, scales)
      var s = 0.0f
      var d = 0
      while (d < v.length) {
        val deq = mins(d) + ((code(d) & 0xff) / 255.0f) * scales(d)
        val diff = q(d) - deq
        s += diff * diff
        d += 1
      }
      (id, s)
    }.sortBy(t => (t._2, t._1)).take(k).toSeq
  }

  test("factory grammar: IVF<n>,SQ8/SQ4/SQ6 parse; unsupported SQ chains reject") {
    val p = Ann.parseFactory("IVF64,SQ8")
    assert(p.engine == "ivfsq" && p.nlist == 64 && p.quantization == "sq8")
    val pr = Ann.parseFactory("IVF64,SQ8,RFlat")
    assert(pr.engine == "ivfsq" && pr.refine)
    // NOTE: "IVF64,SQ4" used to be in the reject list — the packed QT_4bit/
    // QT_6bit forms are implemented now and parse to the ivfsq engine
    val p4 = Ann.parseFactory("IVF64,SQ4")
    assert(p4.engine == "ivfsq" && p4.quantization == "sq4")
    val p6 = Ann.parseFactory("IVF32,SQ6,RFlat")
    assert(p6.engine == "ivfsq" && p6.quantization == "sq6" && p6.refine)
    val e2 = intercept[IllegalArgumentException] { Ann.parseFactory("PCA16,IVF8,Flat,SQ8") }
    assert(e2.getMessage.contains("diskann"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] { Ann.parseFactory("IMI2x2,SQ8") }
    assert(e3.getMessage.contains("diskann"), e3.getMessage)
  }

  /** Brute-force dequantized ranking at sub-byte widths (packed rows). */
  private def bruteDequantTopBits(name: String, q: Array[Float], k: Int,
      bits: Int): Seq[(Long, Float)] = {
    val sq = IndexCatalog.readCentroids(s"${dirOf(name)}/sq.bin")
    val (mins, scales) = (sq(0), sq(1))
    val nLevels = (1 << bits) - 1
    all.map { case (id, v) =>
      val code = graft.core.SqPackedCodec.encodeRow(v, mins, scales, bits)
      var s = 0.0f
      var d = 0
      while (d < v.length) {
        val lvl = graft.core.SqPackedCodec.codeAt(code, d, bits)
        val deq = mins(d) + (lvl / nLevels.toFloat) * scales(d)
        val diff = q(d) - deq
        s += diff * diff
        d += 1
      }
      (id, s)
    }.sortBy(t => (t._2, t._1)).take(k).toSeq
  }

  test("IVF,SQ4 and IVF,SQ6: packed codes, saturating probe == dequantized " +
      "brute force on the scan AND ExactServe routes") {
    for ((bits, factory, name) <- Seq((4, "IVF4,SQ4", "isq_p4"),
        (6, "IVF4,SQ6", "isq_p6"))) {
      Ann.buildIndexFactory(emb, "embedding", "vec_id", name, factory,
        Ann.BuildParams(nprobe = 4))
      val meta = IndexCatalog.load(Ann.root(spark), name)
      assert(meta.engine == "ivfsq" && meta.quantBits == bits)
      // stored rows are PACKED: ceil(dim*bits/8) bytes, not dim
      val row0 = spark.read.parquet(meta.sourcePath)
        .select("code").limit(1).collect()(0).getAs[Array[Byte]](0)
      assert(row0.length == (meta.dim * bits + 7) / 8, s"row ${row0.length}")
      val want = bruteDequantTopBits(name, q0, 10, bits)
      val got = Ann.search(emb, "vec_id", name, q0, 10)
        .select("vec_id", "_distance").collect()
        .map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(got == want, s"$factory scan: $got != $want")
      val local = ExactServe.search(spark, meta, ExactServe.table(spark, meta).get,
        Set.empty, q0, 10).toSeq
      assert(local == want, s"$factory ExactServe: $local != $want")
      // batch/table surface rides the same packed extraction (PqAdcScore)
      val batch = Ann.searchBatch(emb, "vec_id", name, Seq(q0), 10)
        .select("vec_id", "_distance").collect()
        .map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(batch == want, s"$factory batch: $batch != $want")
    }
  }

  test("IVF,SQ4: frozen-range append and quantized range search stay exact") {
    val half = emb.where(col("vec_id") < 250)
    Ann.buildIndexFactory(half, "embedding", "vec_id", "isq_p4a", "IVF4,SQ4",
      Ann.BuildParams(nprobe = 4))
    Ann.append(emb.where(col("vec_id") >= 250), "embedding", "vec_id", "isq_p4a")
    val want = bruteDequantTopBits("isq_p4a", q0, 10, 4)
    val got = Ann.search(emb, "vec_id", "isq_p4a", q0, 10)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(got == want)
    // range: code-space ball at nprobe=1 (dequantized radii pruning covers
    // appended rows via the merge-max) — engine double fold vs brute double
    val radius = 16.5f
    val sq = IndexCatalog.readCentroids(s"${dirOf("isq_p4a")}/sq.bin")
    val (mins, scales) = (sq(0), sq(1))
    Ann.setNprobe(spark, "isq_p4a", 1)
    val gotBall = Ann.rangeSearch(emb, "vec_id", "isq_p4a", q0, radius)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val wantBall = all.filter { case (_, v) =>
      val code = graft.core.SqPackedCodec.encodeRow(v, mins, scales, 4)
      var s = 0.0
      var d = 0
      while (d < v.length) {
        val lvl = graft.core.SqPackedCodec.codeAt(code, d, 4)
        val deq = mins(d) + (lvl / 15.0f) * scales(d)
        val diff = deq.toDouble - q0(d).toDouble
        s += diff * diff
        d += 1
      }
      s <= radius
    }.map(_._1).toSet
    assert(gotBall == wantBall)
    assert(gotBall.nonEmpty)
  }

  test("saturating probe == dequantized brute force; ExactServe parity") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "isq_sat", "IVF4,SQ8",
      Ann.BuildParams(nprobe = 4))
    val meta = IndexCatalog.load(Ann.root(spark), "isq_sat")
    assert(meta.engine == "ivfsq" && meta.quantized && meta.quantBits == 8)
    val want = bruteDequantTop("isq_sat", q0, 10)
    val got = Ann.search(emb, "vec_id", "isq_sat", q0, 10)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(got == want, s"scan: $got != $want")
    val local = ExactServe.search(spark, meta, ExactServe.table(spark, meta).get,
      Set.empty, q0, 10).toSeq
    assert(local == want, s"ExactServe: $local != $want")
    // storage is codes-only: 1 byte per dim, no vec column
    val schema = spark.read.parquet(meta.sourcePath).schema.fieldNames.toSet
    assert(!schema.contains("vec"), s"unrefined ivfsq stored raw vectors: $schema")
  }

  test("batch/table surface ranks identically to single-query") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "isq_b", "IVF4,SQ8",
      Ann.BuildParams(nprobe = 4))
    val single = Ann.search(emb, "vec_id", "isq_b", q0, 5)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq.sortBy(t => (t._2, t._1))
    val batch = Ann.searchBatch(emb, "vec_id", "isq_b", Seq(q0), 5)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq.sortBy(t => (t._2, t._1))
    assert(batch == single, s"batch $batch != single $single")
  }

  test("append re-quantizes against the FROZEN ranges") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "isq_app", "IVF4,SQ8",
      Ann.BuildParams(nprobe = 4))
    val clone = all(5)._2
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(555555L, clone.toSeq)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
    Ann.append(df, "embedding", "vec_id", "isq_app")
    val meta = IndexCatalog.load(Ann.root(spark), "isq_app")
    val sq = IndexCatalog.readCentroids(s"${dirOf("isq_app")}/sq.bin")
    val appended = spark.read.parquet(meta.sourcePath)
      .where(col("id") === 555555L).select("code").collect()
    assert(appended.length == 1 &&
      java.util.Arrays.equals(appended(0).getAs[Array[Byte]](0),
        Sq8Codec.encodeRow(clone, sq(0), sq(1))),
      "appended code != frozen-range encode")
    // the clone ranks beside its original (identical code ⇒ identical ADC);
    // searchHits, not search — the base-row join would drop the id that
    // exists only in the index
    val top = Ann.searchHits(spark, "isq_app", clone, 3)
      .collect().map(_.getLong(0)).toSet
    assert(top.contains(555555L) && top.contains(all(5)._1), s"top: $top")
  }

  test("filtered search: under-fill escalates nprobe to saturation") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "isq_f", "IVF8,SQ8",
      Ann.BuildParams(nprobe = 1))
    // allow only 5 specific ids — almost surely spread beyond one probe
    val dequantAll = bruteDequantTop("isq_f", q0, all.length)
    val allowed = dequantAll.map(_._1).grouped(all.length / 5).map(_.last).toSet
    val got = Ann.searchFiltered(spark, "isq_f", q0,
        math.min(5, allowed.size),
        Ann.IdFilter(col("id").isin(allowed.map(java.lang.Long.valueOf).toSeq: _*),
          allowed.contains _))
      .collect().map(_.getLong(0)).toSet
    val want = dequantAll.filter(t => allowed(t._1)).take(5).map(_._1).toSet
    assert(got == want, s"filtered: $got != $want")
  }

  test("RFlat: exact double re-rank over dequantized candidates") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "isq_r", "IVF4,SQ8,RFlat",
      Ann.BuildParams(nprobe = 4, refineK = 4))
    val got = Ann.search(emb, "vec_id", "isq_r", q0, 5)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1)))
    assert(got.length == 5)
    val byId = all.toMap
    got.foreach { case (id, d) =>
      val exact = graft.core.VectorOps.l2SqDoubleAcc(byId(id), q0).toFloat
      assert(math.abs(d - exact) <= math.ulp(exact) * 4,
        s"refined distance for $id not exact: $d vs $exact")
    }
  }

  test("setNprobe applies to ivfsq") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "isq_np", "IVF8,SQ8",
      Ann.BuildParams(nprobe = 1))
    val m2 = Ann.setNprobe(spark, "isq_np", 8)
    assert(m2.nprobe == 8)
    // saturated ⇒ equals the dequantized brute force again
    val want = bruteDequantTop("isq_np", q0, 10).map(_._1)
    val got = Ann.search(emb, "vec_id", "isq_np", q0, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == want)
  }
}
