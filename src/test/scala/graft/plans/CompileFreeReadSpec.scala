package graft.plans

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Route, RouteParity}
import graft.index.{Ann, IndexCatalog}

/** The ANN read paths pass each query's hit ids as one `InSet` that the
 *  generated code references as an object, so a query after the first
 *  compiles nothing: its whole-stage Java source is the same as the last
 *  one's, and Spark's compiled-class cache serves it. A literal `In` of the
 *  ids would inline them and compile fresh classes on every query. */
class CompileFreeReadSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("graft-compile-free").toFile
  private val Dim = 16
  private val Rows = 600
  private var previous: Option[SparkSession] = None

  override def beforeAll(): Unit = previous = SparkSession.getDefaultSession

  override def afterAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    previous.foreach { p =>
      SparkSession.setDefaultSession(p)
      SparkSession.setActiveSession(p)
    }
    IndexCatalog.deleteTree(work.getPath)
  }

  /** A new session on the shared SparkContext, with the rewrite registered
   *  through `Graft.init` or through [[GraftExtensions]]. */
  private def session(extensions: Boolean): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.ann.root", s"$work/indexes")
    val s = (if (extensions) b.withExtensions(new GraftExtensions) else b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (extensions) graft.functions.registerAll(s) else Graft.init(s)
    s
  }

  private lazy val spark: SparkSession = session(extensions = false)

  private def vector(r: scala.util.Random): Array[Float] =
    Array.fill(Dim)(r.nextGaussian().toFloat)

  private lazy val rows: Seq[Row] = {
    val r = new scala.util.Random(7)
    (0 until Rows).map(i => Row(i.toLong, s"c${i % 4}", vector(r).toSeq))
  }
  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("category", StringType), StructField("vec", ArrayType(FloatType))))

  /** A 4-file parquet table of `data` with its id column cast to `idType`
   *  (STRING ids are zero-padded, "00095", so only a numeric match finds
   *  them, unless `padded` is false), registered as view `name`, plus an
   *  index `name` over it. */
  private def indexedTable(s: SparkSession, name: String, idType: DataType,
      engine: String, data: Seq[Row] = rows, padded: Boolean = true): DataFrame = {
    val path = s"$work/$name"
    s.createDataFrame(java.util.Arrays.asList(data: _*), schema)
      .withColumn("id", if (idType == StringType && padded) format_string("%05d", col("id"))
        else col("id").cast(idType))
      .repartition(4).write.parquet(path)
    val df = s.read.parquet(path)
    Ann.buildIndex(df, "vec", "id", name, Ann.BuildParams(engine = engine, numShards = 1))
    df.createOrReplaceTempView(name)
    df
  }

  private lazy val graphTable: DataFrame = indexedTable(spark, "cf_graph", LongType, "diskann")

  private var querySeed = 1000
  /** A query vector never issued before, so no cached hit list masks a read. */
  private def freshQuery(): Array[Float] = {
    querySeed += 1
    vector(new scala.util.Random(querySeed))
  }

  private def lit(q: Array[Float]): String = q.map(x => s"${x}f").mkString("array(", ", ", ")")

  private def topKSql(view: String, q: Array[Float], where: String = ""): String =
    s"SELECT id, category, array_distance(vec, ${lit(q)}) AS d FROM $view $where " +
      "ORDER BY d LIMIT 10"

  /** The rewrite leaves its marker. */
  private def isRewritten(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("ann_index_scan")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Janino compiles spent by 5 reads with distinct query vectors, after
   *  one warm-up read. */
  private def compilesAfterWarmUp(read: Array[Float] => Unit): Long = {
    read(freshQuery())
    val before = compiles
    (1 to 5).foreach(_ => read(freshQuery()))
    compiles - before
  }

  private def sqlRead(s: SparkSession, where: Int => String): Array[Float] => Unit = {
    var i = 0
    q => {
      val df = s.sql(topKSql("cf_graph", q, where(i)))
      assert(isRewritten(df), s"expected a rewritten plan:\n${df.queryExecution.optimizedPlan}")
      assert(df.collect().length == 10)
      i += 1
    }
  }

  private def assertCompileFreeSql(s: SparkSession): Unit = {
    assert(compilesAfterWarmUp(sqlRead(s, _ => "")) == 0, "plain top-k reads compiled")
    assert(compilesAfterWarmUp(sqlRead(s, i => s"WHERE category = 'c${i % 4}'")) == 0,
      "filtered (over-fetch) top-k reads compiled")
  }

  test("rewritten SQL top-k reads compile nothing after the first (Graft.init)") {
    graphTable
    assertCompileFreeSql(spark)
  }

  test("rewritten SQL top-k reads compile nothing after the first on either fetch route") {
    graphTable
    val (_, local) = RouteParity.routed(spark)(assertCompileFreeSql(spark))
    assert(local.filter(_.op == "ann.fetch").map(_.route).toSet == Set(Route.Local))
    spark.conf.set("spark.graft.localMaxBytes", "0")
    val (_, scan) = try RouteParity.routed(spark)(assertCompileFreeSql(spark))
      finally spark.conf.unset("spark.graft.localMaxBytes")
    assert(scan.filter(_.op == "ann.fetch").map(_.route).toSet == Set(Route.Distributed))
  }

  test("Ann.search and graph rangeSearch compile nothing after the first") {
    val df = graphTable
    assert(compilesAfterWarmUp { q =>
      assert(Ann.search(df, "id", "cf_graph", q, 10).collect().length == 10)
    } == 0, "Ann.search compiled")
    assert(compilesAfterWarmUp { q =>
      val radius = Ann.searchHits(spark, "cf_graph", q, 5).collect().last.getFloat(1)
      assert(Ann.rangeSearch(df, "id", "cf_graph", q, radius).collect().length >= 5)
    } == 0, "graph rangeSearch compiled")
  }

  test("rewritten reads match the unrewritten plan for LONG, INT and zero-padded STRING ids") {
    for ((idType, name) <- Seq(LongType -> "cf_long", IntegerType -> "cf_int",
        StringType -> "cf_string")) {
      indexedTable(spark, name, idType, "flat")
      for (where <- Seq("", "WHERE category = 'c1'"); _ <- 0 until 3) {
        val sql = topKSql(name, freshQuery(), where)
        val rewritten = spark.sql(sql)
        val got = rewritten.collect().toSeq
        assert(isRewritten(rewritten), s"$name: expected a rewritten plan")
        // on the scan route (the gate at 0) integral ids push into the scan;
        // STRING ids match try_cast(id AS BIGINT)
        if (idType != StringType) {
          spark.conf.set("spark.graft.localMaxBytes", "0")
          val (physical, routes) = try RouteParity.routed(spark)(
              spark.sql(sql).queryExecution.executedPlan.toString)
            finally spark.conf.unset("spark.graft.localMaxBytes")
          assert(routes.exists(e => e.op == "ann.fetch" && e.route == Route.Distributed), routes)
          assert(physical.contains("In(id,"),
            s"$name: expected the hit ids pushed into the scan")
        }
        spark.conf.set("spark.graft.ann.rewriteEnabled", "false")
        val want = try spark.sql(sql).collect().toSeq
          finally spark.conf.unset("spark.graft.ann.rewriteEnabled")
        assert(got.length == 10 && got == want, s"$name $where")
      }
    }
  }

  test("Ann.search and graph rangeSearch fetch zero-padded STRING ids back") {
    val df = indexedTable(spark, "cf_string_graph", StringType, "diskann")
    def ids(rows: Array[Row]): Seq[Long] = rows.toSeq.map(_.getString(0).toLong)
    for (_ <- 0 until 3) {
      val q = freshQuery()
      val hits = Ann.searchHits(spark, "cf_string_graph", q, 10).collect()
      assert(ids(Ann.search(df, "id", "cf_string_graph", q, 10).collect()) ==
        hits.toSeq.map(_.getLong(0)))
      val top5 = hits.take(5)
      val inRange = ids(Ann.rangeSearch(df, "id", "cf_string_graph", q,
        top5.last.getFloat(1)).collect())
      assert(top5.map(_.getLong(0)).forall(inRange.contains), s"range ids $inRange")
    }
    // STRING ids "9" and "10" on one duplicated vector: every fetch-back
    // keeps the engine's order, which breaks the tie by the LONG key (9
    // first); a re-sort by the STRING id would put "10" first
    val tiedRows = rows.updated(10, Row(10L, "c2", rows(9).getSeq[Float](2)))
    val tied = indexedTable(spark, "cf_string_tied", StringType, "diskann", tiedRows,
      padded = false)
    val q = rows(9).getSeq[Float](2).toArray
    val hits = Ann.searchHits(spark, "cf_string_tied", q, 64).collect()
    val hitIds = hits.toSeq.map(_.getLong(0))
    assert(hitIds.take(2) == Seq(9L, 10L), s"engine order $hitIds")
    assert(ids(Ann.search(tied, "id", "cf_string_tied", q, 10).collect()) == hitIds.take(10))
    val radius = hits(4).getFloat(1)
    assert(ids(Ann.rangeSearch(tied, "id", "cf_string_tied", q, radius).collect()) ==
      hits.toSeq.filter(_.getFloat(1) <= radius).map(_.getLong(0)))
    val filtered = Ann.searchFiltered(spark, "cf_string_tied", q, 10,
      Ann.idFilterFromSql(spark, "id < 100")).collect().toSeq.map(_.getLong(0))
    assert(filtered.take(2) == Seq(9L, 10L), s"filtered engine order $filtered")
    assert(ids(spark.sql("SELECT * FROM ann_search_filtered('cf_string_tied', " +
      s"'cf_string_tied', ${lit(q)}, 10, 'id < 100')").collect()) == filtered)
  }

  test("an all-tombstoned index returns no rows through the rewrite") {
    indexedTable(spark, "cf_tomb", LongType, "flat")
    Ann.delete(spark, "cf_tomb", rows.map(_.getLong(0)))
    for (where <- Seq("", "WHERE category = 'c1'")) {
      val df = spark.sql(topKSql("cf_tomb", freshQuery(), where))
      assert(isRewritten(df), s"expected a rewritten plan for '$where'")
      assert(df.collect().isEmpty)
    }
  }

  test("rewritten SQL top-k reads compile nothing after the first (GraftExtensions)") {
    graphTable
    val s = session(extensions = true)
    s.read.parquet(s"$work/cf_graph").createOrReplaceTempView("cf_graph")
    assert(!s.experimental.extraOptimizations.exists(_.isInstanceOf[AnnTopKRule]))
    assertCompileFreeSql(s)
  }
}
