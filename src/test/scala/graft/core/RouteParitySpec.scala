package graft.core

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.index.{Ann, IndexCatalog}
import graft.text.TextOps

/** Every size-routed operator gives the same answer on its driver-local and
 *  its distributed version ([[RouteParity.both]]), at 10k rows or more, and
 *  each run really took the route it was meant to. */
class RouteParitySpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("graft-route-parity").toFile

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.ann.root", s"$work/indexes")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = IndexCatalog.deleteTree(work.getPath)

  private val N = 10000
  private val Dim = 16

  /** N vectors around 32 centres, ids 0..N-1. */
  private lazy val vectors: Array[(Long, Array[Float])] = {
    val r = new scala.util.Random(11)
    val centres = Array.fill(32, Dim)(r.nextGaussian().toFloat * 4f)
    Array.tabulate(N)(i => (i.toLong, centres(i % 32).map(_ + r.nextGaussian().toFloat)))
  }

  private lazy val emb: DataFrame = {
    val s = spark
    import s.implicits._
    vectors.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .repartition(4).write.parquet(s"$work/embeddings")
    spark.read.parquet(s"$work/embeddings")
  }

  /** N documents of 12 words from a 2000-word vocabulary, in 3 groups. Every
   *  tenth document repeats its predecessor with the last word changed, and
   *  every thousandth has NULL text. */
  private lazy val docs: DataFrame = {
    val s = spark
    import s.implicits._
    val r = new scala.util.Random(5)
    val texts = new Array[String](N)
    for (i <- 0 until N) {
      texts(i) =
        if (i % 1000 == 999) null
        else if (i % 10 == 1 && texts(i - 1) != null)
          texts(i - 1).split(' ').init.mkString(" ") + s" w${r.nextInt(2000)}"
        else Seq.fill(12)(s"w${r.nextInt(2000)}").mkString(" ")
    }
    texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t, s"g${i % 3}") }
      .toDF("id", "text", "g").repartition(4).write.parquet(s"$work/docs")
    spark.read.parquet(s"$work/docs")
  }

  /** Runs `body` on both routes; asserts the routes `op` took and that the
   *  answers agree, and returns the answer. */
  private def parity[A](op: String)(body: => A): A = {
    val ((local, lr), (dist, dr)) = RouteParity.both(spark)(RouteParity.routed(spark)(body))
    assert(lr.filter(_.op == op).map(_.route).distinct == Seq(Route.Local), lr)
    assert(dr.filter(_.op == op).map(_.route).distinct == Seq(Route.Distributed), dr)
    assert(local == dist, s"$op: driver-local and distributed answers differ")
    local
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private def queries: Seq[Array[Float]] = (0 until 5).map(i => vectors(i * 997 + 3)._2)

  private def hits(name: String): Seq[Seq[(Long, Float)]] = queries.map(q =>
    Ann.searchHits(spark, name, q, 10, searchComplexity = 64).collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq)

  private def tombstones(name: String): Unit =
    Ann.delete(spark, name, (0L until N.toLong by 97L) ++ queries.indices.map(i => i * 997L + 3))

  /** One index per storage shape the driver-local scorers branch on: raw
   *  vectors, per-probe and flat ADC, OPQ rotation, byte and packed SQ,
   *  RFlat re-rank, narrow / thresholded / wide Hamming, a coarse graph,
   *  IMI cells, and the non-L2 metrics. */
  private def factoryShapes: Seq[(String, Ann.BuildParams)] = {
    val base = Ann.BuildParams(nprobe = 4)
    Seq(
      "rp_ivfsq8" -> "IVF16,SQ8",
      "rp_ivfsq4" -> "IVF16,SQ4",
      "rp_ivfsq8_rf" -> "IVF16,SQ8,RFlat",
      "rp_pq_rf" -> "PQ4,RFlat",
      "rp_opq" -> "OPQ4,PQ4",
      "rp_lsh32t" -> "LSH32t",
      "rp_lsh256" -> "LSH256",
      "rp_lsh32_rf" -> "LSH32,RFlat",
      "rp_ivfhnsw" -> "IVF16_HNSW8,Flat",
      "rp_imipq" -> "IMI2x2,PQ4"
    ).map { case (name, f) => name -> Ann.parseFactory(f, base) } ++ Seq(
      "rp_ivfpq_ip" -> Ann.parseFactory("IVF16,PQ4", base.copy(metric = "ip")),
      "rp_pq_cos" -> Ann.parseFactory("PQ4", base.copy(metric = "cosine")))
  }

  test("exact serve: every table-engine storage shape with tombstones") {
    for ((name, p) <- Seq(
        "rp_flat" -> Ann.BuildParams(engine = "flat"),
        "rp_ivf" -> Ann.BuildParams(engine = "ivfflat", nlist = 16, nprobe = 4),
        "rp_pq" -> Ann.BuildParams(engine = "pq", pqM = 4),
        "rp_ivfpq" -> Ann.BuildParams(engine = "ivfpq", pqM = 4, nlist = 16, nprobe = 4)) ++
        factoryShapes) {
      Ann.buildIndex(emb, "embedding", "vec_id", name, p)
      tombstones(name)
      val got = parity("ann.exact")(hits(name))
      assert(got.forall(_.length == 10), name)
    }
  }

  test("graph search: diskann and hnsw with tombstones") {
    for (engine <- Seq("diskann", "hnsw")) {
      val name = s"rp_$engine"
      Ann.buildIndex(emb, "embedding", "vec_id", name,
        Ann.BuildParams(engine = engine, numShards = 3))
      tombstones(name)
      val got = parity("ann.graph")(hits(name))
      assert(got.forall(_.length == 10), engine)
    }
  }

  test("rareTerms") {
    assert(parity("text.rareTerms")(rows(TextOps.rareTerms(docs, "text", "id", 3))).length > N)
  }

  test("ngramDupPairs") {
    assert(parity("text.ngramDupPairs")(
      rows(TextOps.ngramDupPairs(docs, "text", "id", n = 5, minShared = 3))).length >= 900)
  }

  test("contaminationCounts") {
    assert(parity("text.contaminationCounts")(rows(TextOps.contaminationCounts(
      docs, "text", "id", c => c % 10 === 0, n = 5))).nonEmpty)
  }

  test("jaccardPairs") {
    assert(parity("text.jaccardPairs")(
      rows(TextOps.jaccardPairs(docs, "text", "id", minJaccard = 0.5))).length >= 900)
  }

  test("packSequences: serial and segmented") {
    assert(parity("text.pack")(
      rows(TextOps.packSequences(docs, "text", "id", "g", budget = 64))).length == N)
  }

  test("connectedComponents: stars and small components, 12k edges") {
    val s = spark
    import s.implicits._
    // 150 stars of 41 nodes whose centre sits mid-range (ids on both sides
    // of it), then 2000 three-node components: triangles and paths
    val stars = for (st <- 0 until 150; leaf <- 0 to 40 if leaf != 20)
      yield (st * 100L + 20, st * 100L + leaf)
    val small = (0 until 2000).flatMap { t =>
      val b = 1000000L + 3 * t
      if (t % 2 == 0) Seq((b, b + 1), (b + 1, b + 2), (b, b + 2))
      else Seq((b + 2, b + 1), (b + 1, b), (b, b + 1))
    }
    val pairs = (stars ++ small).toDF("id_a", "id_b")
    assert(pairs.count() >= 10000)
    val got = parity("text.cc")(rows(TextOps.connectedComponents(pairs)))
    assert(got.map(_.getLong(1)).distinct.length == 150 + 2000)
  }
}
