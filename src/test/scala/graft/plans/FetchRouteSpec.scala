package graft.plans

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GraftRouteEvent, Route, RouteParity}
import graft.index.{Ann, BaseRows, IndexCatalog}

/** The rewrite's `ann.fetch` route: below the gate a rewritten top-k
 *  takes its base rows from [[BaseRows]] and folds to a LocalRelation, with
 *  the same answer as the parquet-scan route (`spark.graft.localMaxBytes=0`)
 *  and no Spark job. */
class FetchRouteSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("graft-fetch-route").toFile
  private val Dim = 16
  private val Rows = 600

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

  private def vector(r: scala.util.Random): Seq[Float] = Seq.fill(Dim)(r.nextGaussian().toFloat)

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("category", StringType), StructField("vec", ArrayType(FloatType))))

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def baseRows(seed: Int): Seq[Row] = {
    val r = new scala.util.Random(seed)
    (0 until Rows).map(i => Row(i.toLong, s"c${i % 4}", vector(r)))
  }

  /** `df` with its id column as `idType` (STRING ids zero-padded, "00095"). */
  private def typed(df: DataFrame, idType: DataType): DataFrame =
    df.withColumn("id", if (idType == StringType)
      when(col("id").isNotNull, format_string("%05d", col("id"))) else col("id").cast(idType))

  /** A 4-file parquet table of `rows`, an index `name` over it and view `name`. */
  private def indexedTable(name: String, rows: Seq[Row], idType: DataType = LongType,
      engine: String = "flat"): String = {
    val path = s"$work/$name"
    typed(frame(rows), idType).repartition(4).write.parquet(path)
    Ann.buildIndex(spark.read.parquet(path), "vec", "id", name,
      Ann.BuildParams(engine = engine, numShards = 1))
    spark.read.parquet(path).createOrReplaceTempView(name)
    path
  }

  private var querySeed = 5000
  private def freshQuery(): Seq[Float] = {
    querySeed += 1
    vector(new scala.util.Random(querySeed))
  }

  private def dist(q: Seq[Float]): String =
    q.map(x => s"${x}f").mkString("array_distance(vec, array(", ", ", "))")

  /** The three rewritten read shapes: plain, WHERE-filtered (over-fetch) and
   *  a projection on top of the sort. */
  private def reads(view: String, q: Seq[Float]): Seq[String] = Seq(
    s"SELECT id, category, ${dist(q)} AS d FROM $view ORDER BY d LIMIT 10",
    s"SELECT id, category, ${dist(q)} AS d FROM $view WHERE category = 'c1' ORDER BY d LIMIT 10",
    s"SELECT id, upper(category) AS cat FROM $view ORDER BY ${dist(q)} LIMIT 10")

  private def fetchRoutes(routes: Seq[GraftRouteEvent]): Seq[String] =
    routes.filter(_.op == "ann.fetch").map(_.route)

  private def answeredLocally(df: DataFrame): Boolean = df.queryExecution.optimizedPlan match {
    case Filter(m: AnnRewrittenMarker, _: LocalRelation) => m.fetched > 0
    case _ => false
  }

  /** `sql`'s rows on the local route, then on the scan route; asserts each
   *  took its route and the local read is a marker over a LocalRelation. */
  private def parity(sql: String): Seq[Row] = {
    val ((local, scan), routes) = RouteParity.routed(spark)(RouteParity.both(spark) {
      val df = spark.sql(sql)
      (answeredLocally(df), df.collect().toSeq)
    })
    assert(fetchRoutes(routes) == Seq(Route.Local, Route.Distributed), sql)
    assert(local._1 && !scan._1, s"local route not folded:\n$sql")
    assert(local._2 == scan._2, sql)
    local._2
  }

  test("plain, filtered and projection-on-top reads: local == scan for LONG, INT, STRING ids") {
    val rows = baseRows(1)
    for ((idType, name) <- Seq(LongType -> "fr_long", IntegerType -> "fr_int",
        StringType -> "fr_string")) {
      indexedTable(name, rows, idType)
      for (_ <- 0 until 2; sql <- reads(name, freshQuery())) {
        val got = parity(sql)
        assert(got.length == 10, sql)
        spark.conf.set("spark.graft.ann.rewriteEnabled", "false")
        try assert(got == spark.sql(sql).collect().toSeq, s"unrewritten: $sql")
        finally spark.conf.unset("spark.graft.ann.rewriteEnabled")
      }
    }
  }

  test("duplicated ids, NULL ids and tombstoned hits: local == scan") {
    for ((idType, name) <- Seq(LongType -> "fr_dup_long", StringType -> "fr_dup_string")) {
      val rows = baseRows(2)
      val path = indexedTable(name, rows, idType)
      val q = freshQuery()
      val hits = Ann.searchHits(spark, name, q.toArray, 10).collect().map(_.getLong(0))
      // after the build, in one file: two more copies of each of the top 3
      // hits' rows, and NULL-id (and, for STRING, non-numeric) rows at the
      // query itself
      val extra = hits.take(3).toSeq.flatMap(h => Seq.fill(2)(rows(h.toInt))) ++
        Seq(Row(null, "c1", q), Row(null, "c0", q))
      val appended = typed(frame(extra), idType)
      (if (idType == StringType) appended.withColumn("id",
        when(col("id").isNull && col("category") === "c0", lit("x7")).otherwise(col("id")))
        else appended).coalesce(1).write.mode("append").parquet(path)
      spark.read.parquet(path).createOrReplaceTempView(name)
      def ids(got: Seq[Row]): Seq[Long] = got.map(_.get(0).toString.toLong)
      for (sql <- reads(name, q)) {
        val got = parity(sql)
        assert(!got.exists(_.isNullAt(0)), s"a NULL id row came back: $sql")
      }
      // all three copies of each duplicated hit come back, side by side
      val plain = ids(parity(reads(name, q).head))
      assert(plain.take(9) == hits.take(3).toSeq.flatMap(h => Seq.fill(3)(h)), plain)
      val deleted = hits.take(5).toSet
      Ann.delete(spark, name, deleted.toSeq)
      for (sql <- reads(name, q))
        assert(!ids(parity(sql)).exists(deleted), s"a tombstoned hit came back: $sql")
    }
  }

  test("a local-route read launches no Spark job, and a count over it no shuffle") {
    indexedTable("fr_jobs", baseRows(4), engine = "diskann")
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.fetch.test") != null)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(counter)
    def jobsOf(n: Int): Int = {
      jobs.set(0)
      sc.setLocalProperty("graft.fetch.test", "1")
      try (0 until n).foreach { _ =>
        val df = spark.sql(reads("fr_jobs", freshQuery())(1))
        assert(df.collect().nonEmpty)
      } finally sc.setLocalProperty("graft.fetch.test", null)
      RouteParity.routed(spark)(()) // drains the listener bus
      jobs.get
    }
    try {
      jobsOf(1) // warms the row cache
      assert(jobsOf(5) == 0, "local-route reads launched Spark jobs")
      // executed under an aggregate, the rows are one partition: no shuffle
      val counted = spark.sql(reads("fr_jobs", freshQuery()).head).groupBy().count()
      assert(!counted.queryExecution.executedPlan.toString.contains("Exchange"),
        counted.queryExecution.executedPlan)
      assert(counted.head().getLong(0) == 10)
      spark.conf.set("spark.graft.localMaxBytes", "0")
      try assert(jobsOf(2) >= 2, "scan-route reads launched no job")
      finally spark.conf.unset("spark.graft.localMaxBytes")
    } finally sc.removeSparkListener(counter)
  }

  test("an append decodes only its new files; a file rewritten in place misses") {
    val path = indexedTable("fr_append", baseRows(5))
    val q = freshQuery()
    val sql = reads("fr_append", q).head
    def decodes(body: => Unit): Long = {
      val before = BaseRows.decodedFiles.get
      body
      BaseRows.decodedFiles.get - before
    }
    def files: Seq[File] = new File(path).listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
    BaseRows.clear()
    assert(decodes(parity(sql)) == files.size)
    assert(decodes(parity(sql)) == 0)
    val r = new scala.util.Random(6)
    frame((Rows until Rows + 32).map(i => Row(i.toLong, s"c${i % 4}", vector(r))))
      .repartition(2).write.mode("append").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("fr_append")
    assert(files.size == 6)
    assert(decodes(parity(sql)) == 2)
    // rewrite one base file at the same path, with other values and a new mtime
    val victim = files.minBy(_.getName)
    val tmp = s"$work/fr_rewrite_tmp"
    frame(baseRows(7).take(50)).coalesce(1).write.parquet(tmp)
    val src = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(src.toPath, victim.toPath, StandardCopyOption.REPLACE_EXISTING)
    new File(victim.getParent, s".${victim.getName}.crc").delete()
    victim.setLastModified(victim.lastModified() + 5000)
    spark.read.parquet(path).createOrReplaceTempView("fr_append")
    assert(decodes(parity(sql)) == 1)
  }

  test("a base table whose decoded rows outgrow the gate routes distributed after one fill") {
    val path = indexedTable("fr_outgrown", baseRows(12))
    val listed = new File(path).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum
    val sql = reads("fr_outgrown", freshQuery()).head
    def run(): (Seq[Row], GraftRouteEvent, Long) = {
      val before = BaseRows.decodedFiles.get
      val (rows, routes) = RouteParity.routed(spark)(spark.sql(sql).collect().toSeq)
      val Seq(e) = routes.filter(_.op == "ann.fetch")
      (rows, e, BaseRows.decodedFiles.get - before)
    }
    BaseRows.clear()
    spark.conf.set("spark.graft.localMaxBytes", listed.toString)
    try {
      // the one fill decodes every file, measuring its rows
      val (first, e, decoded) = run()
      assert(e.route == Route.Local && e.estimate == listed && decoded == 4, e)
      assert(first.length == 10)
      for (_ <- 0 until 2) {
        val (again, e, decoded) = run()
        assert(e.route == Route.Distributed && e.estimate > listed && decoded == 0, e)
        assert(again == first)
      }
    } finally spark.conf.unset("spark.graft.localMaxBytes")
  }

  test("a listing older than the files on disk falls back to the scan") {
    // the view holds the relation, and with it the listing, taken now
    val path = indexedTable("fr_stale", baseRows(8))
    val victim = new File(path).listFiles().filter(_.getName.endsWith(".parquet")).head
    victim.setLastModified(victim.lastModified() + 5000)
    val (df, routes) = RouteParity.routed(spark) {
      val df = spark.sql(reads("fr_stale", freshQuery()).head)
      df.queryExecution.optimizedPlan
      df
    }
    assert(fetchRoutes(routes) == Seq(Route.Distributed))
    assert(!answeredLocally(df))
  }

  test("partitioned, bucketed and _metadata reads fall back to the scan") {
    val part = s"$work/fr_part"
    frame(baseRows(9)).write.partitionBy("category").parquet(part)
    Ann.buildIndex(spark.read.parquet(part), "vec", "id", "fr_part", Ann.BuildParams())
    spark.read.parquet(part).createOrReplaceTempView("fr_part")
    frame(baseRows(10)).write.bucketBy(2, "id").option("path", s"$work/fr_bucket")
      .saveAsTable("fr_bucket")
    Ann.buildIndex(spark.table("fr_bucket"), "vec", "id", "fr_bucket", Ann.BuildParams())
    val meta = spark.read.parquet(indexedTable("fr_meta", baseRows(11)))
    val q = freshQuery()
    for (read <- Seq[() => DataFrame](() => spark.sql(reads("fr_part", q).head),
        () => spark.sql(reads("fr_bucket", q).head),
        () => meta.select(col("id"), col("_metadata.file_name"), expr(dist(q)).as("d"))
          .orderBy("d").limit(10))) {
      val (df, routes) = RouteParity.routed(spark) {
        val df = read()
        df.queryExecution.optimizedPlan
        df
      }
      assert(df.queryExecution.optimizedPlan.toString.contains("ann_index_scan"))
      assert(fetchRoutes(routes) == Seq(Route.Distributed), routes)
      assert(!answeredLocally(df) && df.collect().length == 10)
    }
    spark.sql("DROP TABLE fr_bucket")
  }
}
