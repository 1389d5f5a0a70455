package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Sq8Codec

/**
 * Pins quantized range search (FAISS range_search on quantized indexes):
 * the radius filters CODE-SPACE distances — the metric distance to the
 * dequantized reconstruction, computed as a sequential double fold — and
 *  - ivfsq + L2 answers EXACTLY in code space at ANY nprobe, because its
 *    cluster-pruning radii are computed over the reconstructions themselves
 *    (the ivfsq build's radii.bin);
 *  - pq answers exactly in code space via a full code scan;
 *  - ivfpq at saturating nprobe equals the reconstruction brute force
 *    (centroid + decoded residual), and at nprobe < nlist returns a subset.
 */
class RangeQuantizedSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.graft.ann.root", s"/tmp/graft-test-rangeq-${System.nanoTime()}")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("ERROR") }

  private val sf = "/root/testdata/sf0.001"
  lazy val emb: DataFrame = spark.read.parquet(s"$sf/embeddings.parquet")

  private lazy val all: Array[(Long, Array[Float])] = emb
    .select("vec_id", "embedding").orderBy("vec_id").collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
  private lazy val q0: Array[Float] = all.head._2
  private val radius = 16.5f

  private def dirOf(name: String): String =
    IndexCatalog.indexDir(Ann.root(spark), name)

  private def gotIds(name: String): Set[Long] =
    Ann.rangeSearch(emb, "vec_id", name, q0, radius)
      .select("vec_id").collect().map(_.getLong(0)).toSet

  /** Reconstruction-distance ball via a supplied per-row reconstructor. */
  private def ballOf(reconstruct: Array[Float] => Array[Float]): Set[Long] =
    all.filter { case (_, v) =>
      val vhat = reconstruct(v)
      var s = 0.0
      var d = 0
      while (d < vhat.length) {
        val diff = vhat(d).toDouble - q0(d).toDouble
        s += diff * diff
        d += 1
      }
      s <= radius
    }.map(_._1).toSet

  test("ivfsq: exact in code space at nprobe=1 via dequantized radii pruning") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "rq_isq", "IVF4,SQ8",
      Ann.BuildParams(nprobe = 1))
    val sq = IndexCatalog.readCentroids(s"${dirOf("rq_isq")}/sq.bin")
    val (mins, scales) = (sq(0), sq(1))
    val want = ballOf { v =>
      val code = Sq8Codec.encodeRow(v, mins, scales)
      Array.tabulate(v.length)(d =>
        mins(d) + ((code(d) & 0xff) / 255.0f) * scales(d))
    }
    val got = gotIds("rq_isq")
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("pq: full code scan equals the decoded-reconstruction ball") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "rq_pq", "PQ8",
      Ann.BuildParams(seedK = 16))
    val cb = PqCodec.read(s"${dirOf("rq_pq")}/pq.bin")
    val want = ballOf(v => PqCodec.decode(cb, PqCodec.encode(cb, v)))
    assert(gotIds("rq_pq") == want)
  }

  test("ivfpq: saturating nprobe equals the residual-reconstruction ball; " +
      "probe-limited is a subset") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "rq_ipq", "IVF4,PQ8",
      Ann.BuildParams(seedK = 16, nprobe = 4))
    val dir = dirOf("rq_ipq")
    val cents = IndexCatalog.readCentroids(s"$dir/centroids.bin")
    val cb = PqCodec.read(s"$dir/pq.bin")
    val want = ballOf { v =>
      val c = cents(KMeansLite.nearest(cents, v))
      val r = Array.tabulate(v.length)(d => v(d) - c(d))
      val rhat = PqCodec.decode(cb, PqCodec.encode(cb, r))
      Array.tabulate(v.length)(d => c(d) + rhat(d))
    }
    assert(gotIds("rq_ipq") == want)
    Ann.setNprobe(spark, "rq_ipq", 1)
    val pruned = gotIds("rq_ipq")
    assert(pruned.subsetOf(want))
  }

  /** (qid, rid) pairs from rangeSearchTable over the first 3 rows' vectors. */
  private def tablePairs(name: String): (Set[(Long, Long)], DataFrame) = {
    import org.apache.spark.sql.functions._
    val queries = emb.where(col("vec_id") < 3).select(col("vec_id"), col("embedding"))
    val df = Ann.rangeSearchTable(queries, "embedding", emb, "vec_id", name, radius)
      .select(col("vec_id").as("qid"), col("tbl_vec_id").as("rid"))
    (df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet, df)
  }

  test("rangeSearchTable ivfsq: per-query radii pruning exact at nprobe=1; " +
      "broadcast-gemm plan") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "rq_tisq", "IVF4,SQ8",
      Ann.BuildParams(nprobe = 1))
    val sq = IndexCatalog.readCentroids(s"${dirOf("rq_tisq")}/sq.bin")
    val (mins, scales) = (sq(0), sq(1))
    def deq(v: Array[Float]): Array[Float] = {
      val code = Sq8Codec.encodeRow(v, mins, scales)
      Array.tabulate(v.length)(d => mins(d) + ((code(d) & 0xff) / 255.0f) * scales(d))
    }
    // brute-force code-space ball per query
    val queries = all.takeWhile(_._1 < 3)
    val want = (for {
      (qid, qv) <- queries
      (rid, v) <- all
      vhat = deq(v)
      dd = vhat.indices.foldLeft(0.0)((s, d) =>
        s + (vhat(d).toDouble - qv(d).toDouble) * (vhat(d).toDouble - qv(d).toDouble))
      if dd <= radius
    } yield (qid, rid)).toSet
    val (got, df) = tablePairs("rq_tisq")
    assert(got.nonEmpty && got == want)
    // base side stays partition-parallel with the query table broadcast —
    // the plan must be a broadcast join (per-query cluster pruning via the
    // exploded radii probe list), never a shuffled one
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(3000))
    // saturation parity: nprobe = nlist answers the identical pair set
    Ann.setNprobe(spark, "rq_tisq", 4)
    assert(tablePairs("rq_tisq")._1 == want)
  }

  test("rangeSearchTable ivfpq: saturation equals the residual ball; pruned subset") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "rq_tipq", "IVF4,PQ8",
      Ann.BuildParams(seedK = 16, nprobe = 4))
    val dir = dirOf("rq_tipq")
    val cents = IndexCatalog.readCentroids(s"$dir/centroids.bin")
    val cb = PqCodec.read(s"$dir/pq.bin")
    def recon(v: Array[Float]): Array[Float] = {
      val c = cents(KMeansLite.nearest(cents, v))
      val r = Array.tabulate(v.length)(d => v(d) - c(d))
      val rhat = PqCodec.decode(cb, PqCodec.encode(cb, r))
      Array.tabulate(v.length)(d => c(d) + rhat(d))
    }
    val queries = all.takeWhile(_._1 < 3)
    val want = (for {
      (qid, qv) <- queries
      (rid, v) <- all
      vhat = recon(v)
      dd = vhat.indices.foldLeft(0.0)((s, d) =>
        s + (vhat(d).toDouble - qv(d).toDouble) * (vhat(d).toDouble - qv(d).toDouble))
      if dd <= radius
    } yield (qid, rid)).toSet
    assert(tablePairs("rq_tipq")._1 == want)
    Ann.setNprobe(spark, "rq_tipq", 1)
    assert(tablePairs("rq_tipq")._1.subsetOf(want))
  }
}
