package graft.text

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GraftRouteEvent, Route, RouteParity}
import graft.index.{Ann, BaseRows, IndexCatalog}
import graft.search.Hybrid

/** Every routed call posts exactly one [[GraftRouteEvent]] naming its op,
 *  the route it took, its estimate and the limit it was held to. (In the
 *  text package so the text estimates can be recomputed here.) */
class RouteEventSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("graft-route-events").toFile

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

  private val Gate = "spark.graft.localMaxBytes"
  private val Default = 64L << 20
  private val Dim = 16

  private def events[A](body: => A): Seq[GraftRouteEvent] = RouteParity.routed(spark)(body)._2

  private def withGate[A](v: String)(body: => A): A = {
    spark.conf.set(Gate, v)
    try body finally spark.conf.unset(Gate)
  }

  /** 500 16-d vectors, ids 0..499, as a parquet table. */
  private lazy val emb: DataFrame = {
    val s = spark
    import s.implicits._
    val r = new scala.util.Random(3)
    (0 until 500).map(i => (i.toLong, Seq.fill(Dim)(r.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").repartition(2).write.parquet(s"$work/embeddings")
    spark.read.parquet(s"$work/embeddings")
  }

  private lazy val q: Array[Float] = Array.tabulate(Dim)(i => (i % 5) / 5.0f)

  /** 500 documents of 10 words from a 300-word vocabulary in 3 languages;
   *  every fifth repeats its predecessor with one word changed. */
  private lazy val docs: DataFrame = {
    val s = spark
    import s.implicits._
    val r = new scala.util.Random(9)
    val texts = new Array[String](500)
    for (i <- texts.indices) texts(i) =
      if (i % 5 == 1) texts(i - 1).split(' ').init.mkString(" ") + s" w${r.nextInt(300)}"
      else Seq.fill(10)(s"w${r.nextInt(300)}").mkString(" ")
    texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t, s"l${i % 3}") }
      .toDF("doc_id", "text", "lang").write.parquet(s"$work/docs")
    spark.read.parquet(s"$work/docs")
  }

  test("Route.local: default gate, explicit limit, gate 0, oversized estimates") {
    val ev = events {
      assert(Route.local(spark, "t.default", 100))
      assert(!Route.local(spark, "t.limit", 65, 64))
      assert(!Route.local(spark, "t.huge", BigInt(Long.MaxValue) * 4))
      withGate("0")(assert(!Route.local(spark, "t.forced", 1, 64)))
    }
    assert(ev == Seq(
      GraftRouteEvent("t.default", Route.Local, 100, Default),
      GraftRouteEvent("t.limit", Route.Distributed, 65, 64),
      GraftRouteEvent("t.huge", Route.Distributed, Long.MaxValue, Default),
      GraftRouteEvent("t.forced", Route.Distributed, 1, 64)))
  }

  test("ann.exact: one event per search, estimate = the driver cache's size") {
    val meta = Ann.buildIndex(emb, "embedding", "vec_id", "re_flat",
      Ann.BuildParams(engine = "flat"))
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else Seq(f)
    val listed = files(new java.io.File(meta.sourcePath)).map(_.length).sum
    // a collected (id, 16-d vector) row: 8 B null bits, two 8 B slots, a
    // 16 B array header and the floats, plus 32 B per row
    val held = 500L * (8 + 16 + 16 + Dim * 4 + 32)
    def search() = events(Ann.searchHits(spark, "re_flat", q, 5))
    BaseRows.clear()
    // before the first fill the table counts its listed bytes; after it, the
    // bytes it held
    assert(search() == Seq(GraftRouteEvent("ann.exact", Route.Local, listed, Default)))
    assert(search() == Seq(GraftRouteEvent("ann.exact", Route.Local, held, Default)))
    assert(withGate((held - 1).toString)(search()) ==
      Seq(GraftRouteEvent("ann.exact", Route.Distributed, held, held - 1)))
  }

  test("ann.graph: one event per search, estimate in shards") {
    Ann.buildIndex(emb, "embedding", "vec_id", "re_disk",
      Ann.BuildParams(engine = "diskann", numShards = 2))
    val limit = Ann.LocalSearchMaxShards.toLong
    assert(events(Ann.searchHits(spark, "re_disk", q, 5)) ==
      Seq(GraftRouteEvent("ann.graph", Route.Local, 2, limit)))
    assert(withGate("0")(events(Ann.searchHits(spark, "re_disk", q, 5))) ==
      Seq(GraftRouteEvent("ann.graph", Route.Distributed, 2, limit)))
  }

  test("filtered search: one event per search; a graph search within the gate runs no job") {
    Ann.buildIndex(emb, "embedding", "vec_id", "re_filt_disk",
      Ann.BuildParams(engine = "diskann", numShards = 2))
    Ann.buildIndex(emb, "embedding", "vec_id", "re_filt_flat", Ann.BuildParams(engine = "flat"))
    val filt = Ann.IdFilter.modEq(3, 1)
    val limit = Ann.LocalSearchMaxShards.toLong
    def search(name: String): Unit =
      assert(Ann.searchFiltered(spark, name, q, 5, filt).collect().length == 5)
    assert(jobs(search("re_filt_disk")) ==
      (Seq(GraftRouteEvent("ann.graph", Route.Local, 2, limit)), Nil))
    assert(withGate("0")(events(search("re_filt_disk"))) ==
      Seq(GraftRouteEvent("ann.graph", Route.Distributed, 2, limit)))
    val Seq(local) = events(search("re_filt_flat"))
    val Seq(dist) = withGate("0")(events(search("re_filt_flat")))
    assert(Seq(local, dist).map(e => (e.op, e.route)) ==
      Seq("ann.exact" -> Route.Local, "ann.exact" -> Route.Distributed), Seq(local, dist))
  }

  test("top-k rewrite: the search posts one event, a cached rewrite none") {
    import graft.functions.{array_distance, floatVec, toFloatVec}
    Ann.buildIndex(emb, "embedding", "vec_id", "re_rule",
      Ann.BuildParams(engine = "diskann", numShards = 1))
    graft.plans.AnnTopKRule.clearCache()
    // the rule applied directly, not registered: suites share one session
    val rule = graft.plans.AnnTopKRule(spark)
    def topk(): Unit = {
      val plan = rule(emb.orderBy(array_distance(toFloatVec(col("embedding")),
        floatVec(q.toSeq))).limit(5).queryExecution.analyzed)
      assert(plan.toString.contains("ann_index_scan"), plan)
    }
    // the search's own route (every rewrite also posts one ann.fetch event,
    // checked below)
    def searchEvents(body: => Unit) = events(body).filter(_.op != "ann.fetch")
    val Seq(e) = searchEvents(topk())
    assert(e.op.startsWith("ann.") && e.route == Route.Local, e)
    assert(searchEvents(topk()).isEmpty)
  }

  test("ann.fetch: one event per rewrite, estimate = the table's held bytes") {
    import graft.functions.{array_distance, floatVec, toFloatVec}
    Ann.buildIndex(emb, "embedding", "vec_id", "re_fetch", Ann.BuildParams(engine = "flat"))
    val rule = graft.plans.AnnTopKRule(spark)
    val bytes = new java.io.File(s"$work/embeddings").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    def topk(): Unit = rule(emb.orderBy(array_distance(toFloatVec(col("embedding")),
      floatVec(q.toSeq))).limit(5).queryExecution.analyzed)
    def fetches(body: => Unit) = events(body).filter(_.op == "ann.fetch")
    BaseRows.clear()
    // before the first fill the files count their listed bytes; after it,
    // their decoded rows
    assert(fetches(topk()) == Seq(GraftRouteEvent("ann.fetch", Route.Local, bytes, Default)))
    val Seq(e) = fetches(topk())
    assert(e.route == Route.Local && e.estimate > bytes && e.limit == Default, e)
    // a cached rewrite (no search) still decides its fetch route
    assert(fetches(topk()) == Seq(e))
    assert(withGate("0")(fetches(topk())) ==
      Seq(GraftRouteEvent("ann.fetch", Route.Distributed, bytes, 0)))
  }

  test("ann.write: one event per append and per compaction") {
    val s = spark
    import s.implicits._
    Ann.buildIndex(emb, "embedding", "vec_id", "re_write",
      Ann.BuildParams(engine = "diskann", numShards = 1, maxDegree = 16, buildComplexity = 32))
    val r = new scala.util.Random(4)
    def batch(from: Int): DataFrame = (from until from + 16)
      .map(i => (i.toLong, Seq.fill(Dim)(r.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    // an in-memory batch: rows × (16 + 4·dim), not Catalyst's one element
    // per array
    val size = 16L * (16 + 4 * Dim)
    def onDisk: Long = IndexCatalog.load(Ann.root(spark), "re_write").shards
      .map(sh => new java.io.File(sh.file).length + new java.io.File(sh.idsFile).length).sum
    for ((from, gate) <- Seq(500 -> None, 516 -> Some("0"))) {
      val b = batch(from)
      val (route, limit) = gate.fold((Route.Local, Default))(g => (Route.Distributed, g.toLong))
      def write(body: => Unit) = gate.fold(events(body))(withGate(_)(events(body)))
      assert(write(Ann.append(b, "embedding", "vec_id", "re_write")) ==
        Seq(GraftRouteEvent("ann.write", route, size, limit)))
      val bytes = onDisk
      assert(write(graft.streaming.StreamingIndex.compact(spark, "re_write", 1)) ==
        Seq(GraftRouteEvent("ann.write", route, bytes, limit)))
    }
    // a compaction to more than one shard has no driver-local version
    val bytes = onDisk
    assert(events(graft.streaming.StreamingIndex.compact(spark, "re_write", 2)) ==
      Seq(GraftRouteEvent("ann.write", Route.Distributed, bytes, Default)))
    // a batch whose rows outgrow a small gate is built distributed, and its
    // vectors are searchable
    val b = batch(532)
    assert(withGate((size - 1).toString)(events(Ann.append(b, "embedding", "vec_id",
      "re_write"))) == Seq(GraftRouteEvent("ann.write", Route.Distributed, size, size - 1)))
    val v = b.where(col("vec_id") === 540).head().getSeq[Float](1).toArray
    assert(Ann.collectHits(spark, "re_write", v, 1, 64, 1).toSeq == Seq((540L, 0.0f)))
  }

  /** `body`'s route events and the stage count of each Spark job it started. */
  private def jobs(body: => Unit): (Seq[GraftRouteEvent], Seq[Int]) = {
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Integer]
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.rewrite.test") != null)
          stages.add(e.stageInfos.size)
    }
    sc.addSparkListener(counter)
    try {
      val posted = events {
        sc.setLocalProperty("graft.rewrite.test", "1")
        try body finally sc.setLocalProperty("graft.rewrite.test", null)
      }
      (posted, stages.asScala.map(_.intValue).toSeq)
    } finally sc.removeSparkListener(counter)
  }

  test("ann.write: one event per vacuum; a distributed rewrite is one job with no shuffle") {
    Ann.buildIndex(emb, "embedding", "vec_id", "re_rewrite",
      Ann.BuildParams(engine = "diskann", numShards = 3, maxDegree = 16, buildComplexity = 32))
    def onDisk: Long = IndexCatalog.load(Ann.root(spark), "re_rewrite").shards
      .map(sh => new java.io.File(sh.file).length + new java.io.File(sh.idsFile).length).sum
    var deleted = 0L
    /** Deletes one more row, then asserts `body`'s one event and its jobs. */
    def rewrite(route: String, limit: Long)(body: => Unit): Unit = {
      val bytes = onDisk
      Ann.delete(spark, "re_rewrite", Seq(deleted))
      deleted += 1
      val (posted, stages) = jobs(body)
      assert(posted == Seq(GraftRouteEvent("ann.write", route, bytes, limit)))
      // one single-stage job per distributed rewrite, none on the driver
      assert(stages == (if (route == Route.Local) Nil else Seq(1)), stages)
    }
    // a vacuum of three shards rewrites three slices
    rewrite(Route.Distributed, Default)(Ann.vacuum(spark, "re_rewrite"))
    assert(IndexCatalog.load(Ann.root(spark), "re_rewrite").shards.size == 3)
    withGate("0") {
      for (n <- Seq(2, 1)) rewrite(Route.Distributed, 0)(
        graft.streaming.StreamingIndex.compact(spark, "re_rewrite", n))
    }
    // a vacuum of one shard within the gate runs on the driver
    rewrite(Route.Local, Default)(Ann.vacuum(spark, "re_rewrite"))
    val meta = IndexCatalog.load(Ann.root(spark), "re_rewrite")
    assert(meta.shards.size == 1 && meta.numDeleted == 0 && meta.numVectors == 500 - 4, meta)
  }

  test("search.bm25: one event per bm25Ranks call, estimate = the listing's held bytes") {
    val bytes = docs.inputFiles.map(f => new java.io.File(new java.net.URI(f)).length).sum
    def bm25(df: DataFrame, terms: Seq[String]): Unit =
      Hybrid.bm25Ranks(df, "text", "doc_id", terms, 10).collect()
    BaseRows.clear()
    // before the first fill a file counts its listed bytes (an empty term
    // set decodes nothing); after it, its decoded rows and postings
    assert(events(bm25(docs, Nil)) ==
      Seq(GraftRouteEvent("search.bm25", Route.Local, bytes, Default)))
    bm25(docs, Seq("w1"))
    val held = events(bm25(docs, Seq("w1"))).head.estimate
    assert(held > bytes)
    // an empty term set and an unseen term decide the route too
    for (terms <- Seq(Seq("w1", "w2"), Nil, Seq("zzz")); input <- Seq(docs,
        docs.where(col("lang") =!= "l1")))
      assert(events(bm25(input, terms)) ==
        Seq(GraftRouteEvent("search.bm25", Route.Local, held, Default)))
    assert(withGate("0")(events(bm25(docs, Seq("w1")))) ==
      Seq(GraftRouteEvent("search.bm25", Route.Distributed, bytes, 0)))
    // not a parquet relation: an in-memory copy, and a join
    val copy = spark.createDataFrame(docs.collect().toSeq.asJava, docs.schema)
    for (input <- Seq(copy, docs.join(docs.select(col("doc_id")), "doc_id"))) {
      val Seq(e) = events(bm25(input, Seq("w1")))
      assert(e.op == "search.bm25" && e.route == Route.Distributed && e.limit == Default, e)
    }
  }

  test("text ops: one event each, estimate = the scan-bounded projection size") {
    val textEst = TextOps.scanBoundedSizeEstimate(docs.select(col("doc_id"), col("text")))
    assert(events(TextOps.rareTerms(docs, "text", "doc_id")) ==
      Seq(GraftRouteEvent("text.rareTerms", Route.Local, textEst.toLong, Default)))
    assert(events(TextOps.packSequences(docs, "text", "doc_id", "lang", 64)) == Seq(
      GraftRouteEvent("text.pack", Route.Local, TextOps.scanBoundedSizeEstimate(docs).toLong,
        Default)))
    for ((op, run) <- Seq[(String, () => Any)](
        "text.ngramDupPairs" -> (() => TextOps.ngramDupPairs(docs, "text", "doc_id")),
        "text.contaminationCounts" -> (() =>
          TextOps.contaminationCounts(docs, "text", "doc_id", c => c % 7 === 0)),
        "text.jaccardPairs" -> (() => TextOps.jaccardPairs(docs, "text", "doc_id")))) {
      val Seq(e) = events(run())
      assert(e.op == op && e.route == Route.Local && e.limit == Default && e.estimate > 0, e)
      val Seq(f) = withGate("0")(events(run()))
      assert(f == e.copy(route = Route.Distributed, limit = 0), f)
    }
  }

  test("text.cosineExactPairs: one event per call, estimate = rows × (4·dim + 32)") {
    val est = 500L * (4 * Dim + 32)
    def run() = TextOps.cosineExactPairs(emb, "embedding", "vec_id", 0.9)
    assert(events(run()) == Seq(GraftRouteEvent("text.cosineExactPairs", Route.Local, est,
      Default)))
    assert(withGate("0")(events(run())) ==
      Seq(GraftRouteEvent("text.cosineExactPairs", Route.Distributed, est, 0)))
  }

  test("text.cc: estimate = 16 bytes per edge") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    assert(events(TextOps.connectedComponents(pairs).collect()) ==
      Seq(GraftRouteEvent("text.cc", Route.Local, 48, Default)))
    assert(withGate("47")(events(TextOps.connectedComponents(pairs).collect())) ==
      Seq(GraftRouteEvent("text.cc", Route.Distributed, 48, 47)))
  }

  test("semdedup.assign: the assignment route, in centroids") {
    val cents = SemDedup.seedCentroids(emb, "embedding", "vec_id", 8)
    val gate = SemDedup.Assigner.TwoLevelGate.toLong
    assert(events(SemDedup.assign(emb, "embedding", "vec_id", cents)) ==
      Seq(GraftRouteEvent("semdedup.assign", "linear", 8, gate)))
    assert(events(SemDedup.assign(emb, "embedding", "vec_id", cents, assignNprobe = 2)) ==
      Seq(GraftRouteEvent("semdedup.assign", "two-level", 8, gate)))
  }
}
