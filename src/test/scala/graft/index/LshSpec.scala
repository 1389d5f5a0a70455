package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{LshCodec, Route, RouteParity}

/** Pins the LSH engine (FAISS IndexLSH analog, factory `LSH[nbits]`):
 *  factory grammar (including the unsupported-form error naming the
 *  supported grammar — r14 verdict item 6), Hamming top-k ≡ brute-force
 *  ranking over the same hyperplanes, seeded hyperplanes = lowest-id rows
 *  verbatim, frozen-hyperplane append, tombstones, filtered search, and the
 *  batch surface. */
class LshSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.graft.ann.root", s"/tmp/graft-test-lsh-${System.nanoTime()}")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("ERROR") }

  private val sf = "/root/testdata/sf0.001"
  lazy val emb: DataFrame = spark.read.parquet(s"$sf/embeddings.parquet")

  private lazy val q0: Array[Float] = {
    val r = emb.orderBy("vec_id").limit(1).collect()(0)
    r.getSeq[Float](r.fieldIndex("embedding")).toArray
  }

  private lazy val all: Array[(Long, Array[Float])] = emb
    .select("vec_id", "embedding").collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  /** Brute-force Hamming top-k over the given hyperplanes, ties by id. */
  private def bruteTop(hyps: Array[Array[Float]], q: Array[Float], k: Int,
      allow: Long => Boolean = _ => true): Seq[(Long, Int)] = {
    val qc = LshCodec.encode(hyps, q)
    all.iterator.filter(t => allow(t._1))
      .map { case (id, v) => (id, LshCodec.hamming(LshCodec.encode(hyps, v), qc)) }
      .toSeq.sortBy { case (id, hd) => (hd, id) }.take(k)
  }

  test("factory: LSH16 parses to the lsh engine with 16-bit codes; LSH defaults to min(dim,64)") {
    val m16 = Ann.buildIndexFactory(emb, "embedding", "vec_id", "lsh_f16", "LSH16")
    assert(m16.engine == "lsh" && m16.nlist == 16)
    val mDef = Ann.buildIndexFactory(emb, "embedding", "vec_id", "lsh_fdef", "LSH")
    assert(mDef.engine == "lsh" && mDef.nlist == 64) // dim 64
  }

  test("factory: unsupported forms error with a message naming the supported grammar") {
    // NOTE: "SQ4", "PCA32,IVF64,Flat", "IMI2x8", "LSHrt", and "IMI2x4,PQ8"
    // used to be in this list — all are implemented now and parse
    for (bad <- Seq("LSHx", "SQ5", "Flat,HNSW8")) {
      val e = intercept[IllegalArgumentException] {
        Ann.buildIndexFactory(emb, "embedding", "vec_id", "lsh_bad", bad)
      }
      assert(e.getMessage.contains("supported:"), s"'$bad' error lacks grammar: ${e.getMessage}")
      assert(e.getMessage.contains("LSH[nbits]"), s"'$bad' error lacks LSH form: ${e.getMessage}")
      assert(e.getMessage.contains(bad), s"'$bad' error does not echo the input")
    }
  }

  test("trained mode: search == brute-force Hamming ranking over the deterministic hyperplanes") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "lsh_t", "LSH32")
    val got = Ann.search(emb, "vec_id", "lsh_t", q0, 10)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1).toInt)).toSeq
    val want = bruteTop(LshCodec.randomHyperplanes(32, q0.length), q0, 10)
    assert(got == want)
  }

  test("seeded mode: hyperplanes are the nbits lowest-id vectors verbatim") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "lsh_s", "LSH16",
      Ann.BuildParams(seedK = 16))
    val hyps = all.sortBy(_._1).take(16).map(_._2)
    val got = Ann.search(emb, "vec_id", "lsh_s", q0, 10)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1).toInt)).toSeq
    assert(got == bruteTop(hyps, q0, 10))
  }

  test("delete: tombstoned ids vanish from the Hamming top-k") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "lsh_d", "LSH32")
    val before = Ann.search(emb, "vec_id", "lsh_d", q0, 5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    Ann.delete(spark, "lsh_d", before.take(2))
    val after = Ann.search(emb, "vec_id", "lsh_d", q0, 5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(before.take(2).forall(id => !after.contains(id)))
    val want = bruteTop(LshCodec.randomHyperplanes(32, q0.length), q0, 7)
      .filterNot(t => before.take(2).contains(t._1)).take(5).map(_._1)
    assert(after == want)
  }

  test("append: new rows encode against the FROZEN build hyperplanes") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "lsh_a", "LSH32")
    // append a copy of q0 under a fresh id: its code equals q0's, so it
    // surfaces at Hamming 0
    import scala.jdk.CollectionConverters._
    val row = org.apache.spark.sql.Row(999999L, q0.toSeq)
    val df = spark.createDataFrame(Seq(row).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
    Ann.append(df, "embedding", "vec_id", "lsh_a")
    val top = Ann.searchHits(spark, "lsh_a", q0, 3).collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(top.exists { case (id, d) => id == 999999L && d == 0.0f },
      s"appended clone not at Hamming 0: $top")
  }

  test("filtered search: predicate splices into the code scan") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "lsh_f", "LSH32")
    val filt = Ann.IdFilter.modEq(7, 3)
    val got = Ann.searchFiltered(spark, "lsh_f", q0, 10, filt)
      .collect().map(_.getLong(0)).toSeq
    val want = bruteTop(LshCodec.randomHyperplanes(32, q0.length), q0, 10,
      filt.fn).map(_._1)
    assert(got == want)
    assert(got.forall(_ % 7 == 3))
  }

  test("RFlat refine: Hamming top-(k·kf) candidates re-ranked by exact metric distance") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "lsh_r", "LSH32,RFlat",
      Ann.BuildParams(refineK = 4))
    val meta = IndexCatalog.load(Ann.root(spark), "lsh_r")
    assert(meta.engine == "lsh" && meta.refine && meta.refineK == 4)
    val got = Ann.search(emb, "vec_id", "lsh_r", q0, 10)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq.sortBy(t => (t._2, t._1))
    // reference: brute Hamming top-40 ids, exact double L2 re-rank, top 10
    val candIds = bruteTop(LshCodec.randomHyperplanes(32, q0.length), q0, 40)
      .map(_._1).toSet
    val want = all.filter(t => candIds(t._1))
      .map { case (id, v) =>
        (id, graft.core.VectorOps.l2SqDoubleAcc(v, q0)) }
      .sortBy { case (id, d) => (d, id) }.take(10)
      .map { case (id, d) => (id, d.toFloat) }.toSeq
    assert(got == want)
  }

  test("RFlat refine: batch surface re-ranks exactly like single-query") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "lsh_rb", "LSH32,RFlat",
      Ann.BuildParams(refineK = 4))
    val single = Ann.search(emb, "vec_id", "lsh_rb", q0, 5)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq.sortBy(t => (t._2, t._1))
    val batch = Ann.searchBatch(emb, "vec_id", "lsh_rb", Seq(q0), 5)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq.sortBy(t => (t._2, t._1))
    assert(batch == single)
  }

  /** Run `body` with the serve budget pinned to `bytes`, restoring whatever
   *  the shared session had before — suites share one SparkSession, and
   *  a suite may leave the gate set. */
  private def withServeBudget[A](bytes: Long)(body: => A): A = {
    val prev = spark.conf.getOption("spark.graft.localMaxBytes")
    spark.conf.set("spark.graft.localMaxBytes", bytes.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set("spark.graft.localMaxBytes", v)
      case None => spark.conf.unset("spark.graft.localMaxBytes")
    }
  }

  test("ExactServe route == distributed Hamming scan, bit-for-bit") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "lsh_sv", "LSH32")
    val served = withServeBudget(64L << 20) {
      val meta = IndexCatalog.load(Ann.root(spark), "lsh_sv")
      assert(ExactServe.table(spark, meta).nonEmpty, "small lsh index should be servable")
      val (s, routes) = RouteParity.routed(spark)(Ann.search(emb, "vec_id", "lsh_sv", q0, 10)
        .select("vec_id", "_distance").collect()
        .map(r => (r.getLong(0), r.getFloat(1))).toSeq)
      assert(routes.map(r => (r.op, r.route)) == Seq(("ann.exact", Route.Local)),
        "search did not take the driver-local route")
      s
    }
    val dist = withServeBudget(0L) {
      Ann.search(emb, "vec_id", "lsh_sv", q0, 10)
        .select("vec_id", "_distance").collect()
        .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    }
    assert(served == dist)
  }

  test("ExactServe refined lsh == distributed refine, bit-for-bit") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "lsh_svr", "LSH32,RFlat",
      Ann.BuildParams(refineK = 4))
    val served = withServeBudget(64L << 20) {
      Ann.search(emb, "vec_id", "lsh_svr", q0, 10)
        .select("vec_id", "_distance").collect()
        .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    }
    val dist = withServeBudget(0L) {
      Ann.search(emb, "vec_id", "lsh_svr", q0, 10)
        .select("vec_id", "_distance").collect()
        .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    }
    assert(served == dist)
  }

  test("plan shape: Hamming scan reads only (id, code), codegen'd, no UDF") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "lsh_p", "LSH32")
    val df = withServeBudget(0L) { // force the distributed scan plan
      Ann.searchHits(spark, "lsh_p", q0, 10)
    }
    val p = df.queryExecution.executedPlan.toString
    // column pruning: the parquet scan must read the two-column code
    // projection, never a vector column (at 100 TB that is the whole point
    // of a binary code index)
    assert(p.contains("ReadSchema: struct<id:bigint,code:bigint>"),
      s"expected codes-only ReadSchema:\n$p")
    // bit_count(XOR) ranks inside whole-stage codegen (the `*(n)` star in
    // the plan string); top-k is TakeOrderedAndProject — per-partition heap
    // + driver merge, NO global sort exchange
    assert(p.contains("*(1) Project"), s"expected codegen'd projection:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected heap top-k:\n$p")
    assert(!p.contains("Exchange"), s"unexpected shuffle in a scan top-k:\n$p")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"),
      s"UDF leaked into the Hamming scan:\n$p")
  }

  test("batch surface: per-query results match single-query search") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "lsh_b", "LSH32")
    val q1 = q0.map(v => -v)
    val batch = Ann.searchBatch(emb, "vec_id", "lsh_b", Seq(q0, q1), 5)
      .select("query_idx", "vec_id", "_distance").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getFloat(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3.toInt)).toSeq).toMap
    val h = LshCodec.randomHyperplanes(32, q0.length)
    assert(batch(0) == bruteTop(h, q0, 5))
    assert(batch(1) == bruteTop(h, q1, 5))
  }

  // ---- wide codes (nbits > 64: array<bigint> multi-word layout) ----

  /** Brute-force multi-word Hamming top-k, ties by id. */
  private def bruteTopWide(hyps: Array[Array[Float]], q: Array[Float],
      k: Int): Seq[(Long, Int)] = {
    val qc = LshCodec.encodeWords(hyps, q)
    all.map { case (id, v) =>
      val c = LshCodec.encodeWords(hyps, v)
      (id, c.indices.map(w => java.lang.Long.bitCount(c(w) ^ qc(w))).sum)
    }.toSeq.sortBy { case (id, hd) => (hd, id) }.take(k)
  }

  test("encodeWords word 0 is bit-identical to the single-long encode") {
    val h = LshCodec.randomHyperplanes(64, q0.length)
    for ((_, v) <- all.take(20))
      assert(LshCodec.encodeWords(h, v)(0) == LshCodec.encode(h, v))
  }

  test("LSH256: multi-word Hamming search == brute force, on the " +
      "driver-local AND distributed routes") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "lsh_w256", "LSH256")
    val h = LshCodec.randomHyperplanes(256, q0.length)
    val want = bruteTopWide(h, q0, 10)
    def got(): Seq[(Long, Int)] =
      Ann.search(emb, "vec_id", "lsh_w256", q0, 10)
        .select("vec_id", "_distance").collect()
        .map(r => (r.getLong(0), r.getFloat(1).toInt)).toSeq
    assert(got() == want)
    // force the distributed Hamming scan (summed per-word popcount columns)
    spark.conf.set("spark.graft.localMaxBytes", "0")
    try assert(got() == want)
    finally spark.conf.unset("spark.graft.localMaxBytes")
  }

  test("LSH256rt: padded rotation (nbits > dim) is norm-preserving and the " +
      "trained-threshold build serves") {
    val m = Ann.buildIndexFactory(emb, "embedding", "vec_id", "lsh_w256rt",
      "LSH256rt")
    assert(m.nlist == 256 && m.lshVariant == "rt")
    val hyps = IndexCatalog.readCentroids(
      s"${IndexCatalog.indexDir(Ann.root(spark), "lsh_w256rt")}/hyperplanes.bin")
    assert(hyps.length == 256)
    // rows are the first dim columns of an orthonormal 256x256 rotation:
    // the induced map v -> (dot(h_b, v))_b preserves the norm
    for ((_, v) <- all.take(5)) {
      val n2 = v.map(x => x.toDouble * x).sum
      val p2 = hyps.map(h =>
        math.pow(h.indices.map(i => h(i).toDouble * v(i)).sum, 2)).sum
      assert(math.abs(p2 - n2) <= 1e-4 * (1.0 + n2), s"$p2 vs $n2")
    }
    assert(Ann.search(emb, "vec_id", "lsh_w256rt", q0, 10).count() == 10)
  }

  test("LSH128r (nbits > dim) builds via the padded rotation instead of " +
      "failing inside Gram-Schmidt") {
    val m = Ann.buildIndexFactory(emb, "embedding", "vec_id", "lsh_w128r",
      "LSH128r")
    assert(m.nlist == 128 && m.lshVariant == "r")
    assert(Ann.search(emb, "vec_id", "lsh_w128r", q0, 5).count() == 5)
  }

  test("wide-code append encodes against the FROZEN hyperplanes") {
    val half = emb.where(col("vec_id") < 250)
    Ann.buildIndexFactory(half, "embedding", "vec_id", "lsh_wapp", "LSH128")
    val before = IndexCatalog.readCentroids(
      s"${IndexCatalog.indexDir(Ann.root(spark), "lsh_wapp")}/hyperplanes.bin")
    Ann.append(emb.where(col("vec_id") >= 250), "embedding", "vec_id", "lsh_wapp")
    val after = IndexCatalog.readCentroids(
      s"${IndexCatalog.indexDir(Ann.root(spark), "lsh_wapp")}/hyperplanes.bin")
    assert(before.map(_.toSeq).toSeq == after.map(_.toSeq).toSeq)
    val h = LshCodec.randomHyperplanes(128, q0.length)
    val got = Ann.search(emb, "vec_id", "lsh_wapp", q0, 10)
      .select("vec_id", "_distance").collect()
      .map(r => (r.getLong(0), r.getFloat(1).toInt)).toSeq
    assert(got == bruteTopWide(h, q0, 10))
  }
}
