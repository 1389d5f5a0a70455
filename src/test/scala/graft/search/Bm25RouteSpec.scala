package graft.search

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GraftRouteEvent, Route, RouteParity}
import graft.index.{BaseRows, IndexCatalog}
import graft.plans.Graft

/** The `search.bm25` route: below the gate [[Hybrid.bm25Ranks]] scores from
 *  postings cached per file beside the [[BaseRows]] entries, with the same
 *  answer as the distributed route (`spark.graft.localMaxBytes=0`) and no
 *  Spark job. */
class Bm25RouteSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("graft-bm25-route").toFile

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

  private def text(r: scala.util.Random): String =
    Seq.fill(6)(s"t${r.nextInt(60)}").mkString(" ")

  /** `n` documents (id, text, vec) from id `from`, written as `files` files. */
  private def write(path: String, from: Int, n: Int, files: Int, seed: Int,
      mode: String = "errorifexists"): Unit = {
    val s = spark
    import s.implicits._
    val r = new scala.util.Random(seed)
    (from until from + n).map(i => (i.toLong, text(r), Seq.fill(4)(r.nextFloat())))
      .toDF("id", "text", "vec").repartition(files).write.mode(mode).parquet(path)
  }

  private def ranks(df: DataFrame, q: String): Seq[Row] =
    Hybrid.bm25Ranks(df, "text", "id", Hybrid.queryTerms(q), 20).collect().toSeq

  /** `body` on both routes: asserts each took its route and both agree. */
  private def parity[A](body: => A): A = {
    val ((local, dist), routes) = RouteParity.routed(spark)(RouteParity.both(spark)(body))
    val bm25 = routes.filter(_.op == "search.bm25").map(_.route)
    assert(bm25.distinct == Seq(Route.Local, Route.Distributed), routes)
    assert(local == dist)
    local
  }

  private def counts(body: => Unit): (Long, Long) = {
    val (d, t) = (BaseRows.decodedFiles.get, Bm25Corpus.tokenizedFiles.get)
    body
    (BaseRows.decodedFiles.get - d, Bm25Corpus.tokenizedFiles.get - t)
  }

  test("an append tokenizes only its new files; a file rewritten in place misses") {
    val path = s"$work/append"
    write(path, 0, 400, 4, seed = 1)
    def parquet: Seq[File] =
      new File(path).listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
    def run(): Unit = parity(ranks(spark.read.parquet(path), "t1 t2 t3"))
    BaseRows.clear()
    assert(counts(run()) == (4, 4))
    assert(counts(run()) == (0, 0))
    write(path, 400, 40, 2, seed = 2, mode = "append")
    assert(parquet.size == 6)
    assert(counts(run()) == (2, 2))
    // rewrite one base file at the same path, with other values and a new mtime
    val victim = parquet.minBy(_.getName)
    val tmp = s"$work/rewrite_tmp"
    write(tmp, 0, 50, 1, seed = 3)
    val src = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(src.toPath, victim.toPath, StandardCopyOption.REPLACE_EXISTING)
    new File(victim.getParent, s".${victim.getName}.crc").delete()
    victim.setLastModified(victim.lastModified() + 5000)
    assert(counts(run()) == (1, 1))
  }

  test("a listing whose rows and postings outgrow the gate routes distributed after one fill") {
    val path = s"$work/outgrown"
    write(path, 0, 2000, 4, seed = 6)
    val docs = spark.read.parquet(path)
    val listed = docs.inputFiles.map(f => new File(new java.net.URI(f)).length).sum
    def run(): (Seq[Row], (Long, Long), GraftRouteEvent) = {
      var got = Seq.empty[Row]
      val (n, routes) = RouteParity.routed(spark)(counts { got = ranks(docs, "t1 t2 t3") })
      val Seq(e) = routes.filter(_.op == "search.bm25")
      (got, n, e)
    }
    BaseRows.clear()
    spark.conf.set("spark.graft.localMaxBytes", listed.toString)
    try {
      // the first fill decodes and tokenizes every file, measuring them
      val (first, n, e) = run()
      assert(e.route == Route.Local && e.estimate == listed && n == (4, 4), e)
      for (_ <- 0 until 2) {
        val (again, n, e) = run()
        assert(e.route == Route.Distributed && e.estimate > listed && n == (0, 0), e)
        assert(again == first)
      }
    } finally spark.conf.unset("spark.graft.localMaxBytes")
  }

  test("rows with a NULL id count in N, avgdl and df but take no rank") {
    val s = spark
    import s.implicits._
    val path = s"$work/null_ids"
    // without the NULL-id rows "a" and "b" are equally rare and doc 1's
    // three a's win; twenty NULL-id rows holding "a" make it common
    val rows = Seq(Some(1L) -> "a a a", Some(2L) -> "b") ++
      (3L to 10L).map(i => Some(i) -> "c d") ++ Seq.fill(20)(None -> "a")
    rows.toDF("id", "text").repartition(3).write.parquet(path)
    val docs = spark.read.parquet(path)
    assert(parity(ranks(docs, "a b")) == Seq(Row(2L, 1), Row(1L, 2)))
    assert(parity(ranks(docs.where(col("id").isNotNull), "a b")) ==
      Seq(Row(1L, 1), Row(2L, 2)))
  }

  test("a warm local-route search launches no Spark job") {
    val path = s"$work/jobs"
    write(path, 0, 300, 3, seed = 4)
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.bm25.test") != null)
          jobs.incrementAndGet()
    }
    // read once: inferring a parquet schema is itself a job
    val docs = spark.read.parquet(path).where(col("id") =!= 3)
    def jobsOf(q: String): Int = {
      jobs.set(0)
      sc.setLocalProperty("graft.bm25.test", "1")
      try assert(ranks(docs, q).nonEmpty)
      finally sc.setLocalProperty("graft.bm25.test", null)
      RouteParity.routed(spark)(()) // drains the listener bus
      jobs.get
    }
    sc.addSparkListener(counter)
    try {
      jobsOf("t1")
      assert(jobsOf("t2 t3") == 0)
      spark.conf.set("spark.graft.localMaxBytes", "0")
      try assert(jobsOf("t2 t3") >= 2) finally spark.conf.unset("spark.graft.localMaxBytes")
    } finally sc.removeSparkListener(counter)
  }

  test("the hybrid_search TVF returns the same rows on both routes") {
    val path = s"$work/tvf"
    write(path, 0, 500, 3, seed = 5)
    spark.read.parquet(path).createOrReplaceTempView("bm25_tvf")
    val got = parity(spark.sql("SELECT * FROM hybrid_search('bm25_tvf', '', 'vec', 'id', " +
      "array(0.5, 0.5, 0.5, 0.5), 't1 t7 t9', 10)").collect().toSeq)
    assert(got.length == 10 && got.exists(_.getLong(1) > 0), got)
  }
}
