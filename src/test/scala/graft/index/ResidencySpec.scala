package graft.index

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GraftRouteEvent, Route, RouteParity}
import graft.functions.{array_distance, floatVec, toFloatVec}
import graft.plans.Graft

/** One driver budget: base rows, BM25 postings and small table indexes are
 *  entries of one [[BaseRows]] LRU, so together they never hold more than
 *  `spark.graft.localMaxBytes`, and an entry evicted to make room answers
 *  as the distributed route does when it is read again. */
class ResidencySpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("graft-residency").toFile
  private val Gate = "spark.graft.localMaxBytes"
  private val Dim = 16

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.ann.root", s"$work/indexes")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Graft.init(s)
    s
  }

  override def afterAll(): Unit = IndexCatalog.deleteTree(work.getPath)

  private val q: Array[Float] = Array.tabulate(Dim)(i => (i % 5) / 5.0f)

  /** `n` `Dim`-d vectors, ids from `from`, as a two-file parquet table. */
  private def table(name: String, seed: Int, n: Int = 500, from: Int = 0): DataFrame = {
    val s = spark
    import s.implicits._
    val r = new scala.util.Random(seed)
    (from until from + n).map(i => (i.toLong, Seq.fill(Dim)(r.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").repartition(2).write.parquet(s"$work/$name")
    spark.read.parquet(s"$work/$name")
  }

  private def flat(name: String, df: DataFrame): IndexMeta =
    Ann.buildIndex(df, "embedding", "vec_id", name, Ann.BuildParams(engine = "flat"))

  /** The listed bytes of an index table's data files. */
  private def listed(meta: IndexMeta): Long =
    BaseRows.tableFiles(new java.io.File(meta.sourcePath)).map(_._2).sum

  private def withGate[A](v: Long)(body: => A): A = {
    val prev = spark.conf.getOption(Gate)
    spark.conf.set(Gate, v.toString)
    try body finally prev.fold(spark.conf.unset(Gate))(spark.conf.set(Gate, _))
  }

  /** `name`'s top 10 for `q` with the op's one route event. */
  private def search(name: String): (Seq[(Long, Float)], GraftRouteEvent) = {
    val (hits, Seq(e)) = RouteParity.routed(spark)(Ann.collectHits(spark, name, q, 10, 0, 1))
    (hits.toSeq, e)
  }

  /** `name`'s top 10 on the distributed route. */
  private def scanned(name: String): Seq[(Long, Float)] =
    withGate(0)(Ann.collectHits(spark, name, q, 10, 0, 1).toSeq)

  /** The bytes a table held, from the estimate of its second search. */
  private def held(name: String): Long = {
    search(name)
    search(name)._2.estimate
  }

  test("three small flat indexes, each within the gate but not all together") {
    val names = Seq("res_a", "res_b", "res_c")
    names.zipWithIndex.foreach { case (n, i) =>
      Ann.buildIndex(table(n, i), "embedding", "vec_id", n, Ann.BuildParams(engine = "flat"))
    }
    BaseRows.clear()
    val bytes = names.map(held)
    // room for two tables, not three
    val gate = bytes.sorted.take(2).sum + bytes.min / 2
    assert(bytes.sum > gate)
    BaseRows.clear()
    withGate(gate) {
      for (round <- 0 until 2; n <- names) {
        val (hits, e) = search(n)
        assert(e.op == "ann.exact" && e.route == Route.Local, s"$n round $round: $e")
        assert(BaseRows.residentBytes <= gate,
          s"$n round $round: ${BaseRows.residentBytes} resident > gate $gate")
        assert(hits == scanned(n), s"$n round $round: local route diverged from the scan")
      }
    }
  }

  test("an ann.fetch base table and a flat index that each fit but not together") {
    val base = table("res_base", 7)
    Ann.buildIndex(base, "embedding", "vec_id", "res_graph",
      Ann.BuildParams(engine = "diskann", numShards = 1))
    Ann.buildIndex(table("res_flat", 8), "embedding", "vec_id", "res_flat",
      Ann.BuildParams(engine = "flat"))
    def read(): (Seq[(Long, Double)], Seq[GraftRouteEvent]) = RouteParity.routed(spark) {
      spark.read.parquet(s"$work/res_base").select(col("vec_id"),
          array_distance(toFloatVec(col("embedding")), floatVec(q.toSeq)).as("d"))
        .orderBy("d").limit(10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    BaseRows.clear()
    read()
    val Seq(rows) = read()._2.filter(_.op == "ann.fetch").map(_.estimate)
    val index = held("res_flat")
    val gate = math.max(rows, index) + math.min(rows, index) / 2
    assert(rows + index > gate)
    val want = withGate(0)(read()._1)
    val wantHits = scanned("res_flat")
    BaseRows.clear()
    withGate(gate) {
      for (round <- 0 until 3) {
        val (got, routes) = read()
        assert(routes.filter(_.op == "ann.fetch").map(_.route) == Seq(Route.Local), routes)
        assert(got == want, s"round $round: fetched rows diverged from the scan")
        assert(BaseRows.residentBytes <= gate)
        val (hits, e) = search("res_flat")
        assert(e.route == Route.Local, e)
        assert(hits == wantHits, s"round $round: flat index diverged from the scan")
        assert(BaseRows.residentBytes <= gate)
      }
    }
  }

  test("an append past the gate routes the next search distributed, filling nothing") {
    flat("res_grow", table("res_grow", 11))
    BaseRows.clear()
    val gate = held("res_grow")
    withGate(gate) {
      assert(search("res_grow")._2.route == Route.Local)
      val resident = BaseRows.residentBytes
      val before = listed(IndexCatalog.load(Ann.root(spark), "res_grow"))
      val meta = Ann.append(table("res_grow_add", 12, 2000, 500), "embedding", "vec_id",
        "res_grow")
      val appended = listed(meta) - before
      assert(appended > gate, s"the appended files ($appended B) should outgrow the gate")
      val (hits, e) = search("res_grow")
      assert(e.route == Route.Distributed && e.estimate > gate, e)
      assert(BaseRows.residentBytes == resident, "a distributed search filled the table")
      assert(hits == scanned("res_grow"))
    }
  }

  test("a rebuild to a few rows under the same name routes local again") {
    flat("res_shrink", table("res_shrink", 13, 2000))
    BaseRows.clear()
    val big = held("res_shrink")
    Ann.drop(spark, "res_shrink")
    val meta = flat("res_shrink", table("res_shrink_small", 14, 50))
    withGate(big / 4) {
      val (hits, e) = search("res_shrink")
      assert(e.route == Route.Local && e.estimate == listed(meta), e)
      assert(hits == scanned("res_shrink"))
    }
  }

  test("a fill measured above the gate answers once and evicts nothing") {
    flat("res_keep", table("res_keep", 15, 100))
    val meta = flat("res_over", table("res_over", 16))
    BaseRows.clear()
    val over = held("res_over")
    val files = listed(meta)
    assert(files < over, s"decoded rows ($over B) should outgrow their listed bytes ($files B)")
    val keep = held("res_keep")
    val gate = math.max(files, keep)
    assert(gate < over)
    val want = scanned("res_over")
    BaseRows.clear()
    withGate(gate) {
      assert(search("res_keep")._2.route == Route.Local)
      val resident = BaseRows.residentBytes
      // before its fill the table counts its listed bytes, within the gate
      val (hits, e) = search("res_over")
      assert(e.route == Route.Local && e.estimate == files, e)
      assert(hits == want)
      assert(BaseRows.residentBytes == resident, "an oversized fill displaced resident entries")
      // after it, the bytes it held, above the gate
      val next = search("res_over")._2
      assert(next.route == Route.Distributed && next.estimate > gate, next)
      assert(search("res_keep")._2.route == Route.Local)
      assert(BaseRows.residentBytes == resident)
    }
  }

  test("a vacuum forgets the resident table it deletes") {
    flat("res_vac", table("res_vac", 17))
    Ann.delete(spark, "res_vac", Seq(1L, 2L, 3L))
    BaseRows.clear()
    assert(search("res_vac")._2.route == Route.Local)
    assert(BaseRows.residentBytes > 0)
    Ann.vacuum(spark, "res_vac")
    assert(BaseRows.residentBytes == 0, "the vacuumed table's old directory stayed resident")
    val (hits, e) = search("res_vac")
    assert(e.route == Route.Local && hits == scanned("res_vac"), e)
  }

  test("a base table that decodes above the gate answers once and evicts nothing") {
    val s = spark
    import s.implicits._
    // one distinct coordinate per row, the rest from three values: the
    // parquet file stays far smaller than its decoded rows
    (0 until 3000).map(i => (i.toLong, (i * 1e-3f) +: Seq.fill(Dim - 1)((i % 3).toFloat)))
      .toDF("vec_id", "embedding").repartition(1).write.parquet(s"$work/res_dense")
    val base = spark.read.parquet(s"$work/res_dense")
    Ann.buildIndex(base, "embedding", "vec_id", "res_dense",
      Ann.BuildParams(engine = "diskann", numShards = 1))
    flat("res_small", table("res_small", 18, 100))
    def read(): (Seq[(Long, Double)], GraftRouteEvent) = {
      val (rows, routes) = RouteParity.routed(spark) {
        spark.read.parquet(s"$work/res_dense").select(col("vec_id"),
            array_distance(toFloatVec(col("embedding")), floatVec(q.toSeq)).as("d"))
          .orderBy("d").limit(10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      }
      val Seq(e) = routes.filter(_.op == "ann.fetch")
      (rows, e)
    }
    val files = base.inputFiles.map(f => new java.io.File(new java.net.URI(f)).length).sum
    BaseRows.clear()
    read()
    val decoded = read()._2.estimate
    val gate = math.max(files, held("res_small"))
    assert(decoded > gate, s"decoded rows ($decoded B) should outgrow the gate ($gate B)")
    val want = withGate(0)(read()._1)
    BaseRows.clear()
    withGate(gate) {
      assert(search("res_small")._2.route == Route.Local)
      val resident = BaseRows.residentBytes
      // before its decode the file counts its listed bytes, within the gate
      val (got, e) = read()
      assert(e.route == Route.Local && e.estimate == files, e)
      assert(got == want)
      assert(BaseRows.residentBytes == resident, "an oversized decode displaced resident entries")
      // after it, the bytes it decoded to, above the gate
      val (again, next) = read()
      assert(next.route == Route.Distributed && next.estimate > gate, next)
      assert(again == want)
      assert(search("res_small")._2.route == Route.Local)
      assert(BaseRows.residentBytes == resident)
    }
  }
}
