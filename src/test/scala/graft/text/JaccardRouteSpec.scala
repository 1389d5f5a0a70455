package graft.text

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Route-forced parity for [[TextOps.jaccardPairs]]: the driver-local route
  * (default `spark.graft.localMaxBytes`) must give the distributed
  * plan's answer (`localMaxBytes = 0`) row for row — pair set, `n_bands`,
  * `jaccard` bits and carried columns — on planted cliques and chains, one
  * bucket over every cap, a NULL-text row, INT and LONG ids, every cap
  * regime and threshold, and through its callers (Curate, dedupVsCorpus). */
class JaccardRouteSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val Gate = "spark.graft.localMaxBytes"
  private val Cap = "spark.graft.neardup.bucketCliqueCap"

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Both routes' rows of `f`, each sorted by its printed row. */
  private def routes(f: => DataFrame): (Seq[Row], Seq[Row]) =
    routeRows(f.collect().toSeq)

  private def routeRows(f: => Seq[Row]): (Seq[Row], Seq[Row]) = {
    def run(): Seq[Row] = f.sortBy(_.toString)
    (run(), withConf(Gate -> "0")(run()))
  }

  /** Fails naming the first rows only one route produced. */
  private def assertSame(local: Seq[Row], dist: Seq[Row], what: String): Unit = {
    val same = local == dist
    assert(same, s"$what: routes diverged (${local.size} local vs ${dist.size} " +
      s"distributed rows; local only ${local.diff(dist).take(3)}, " +
      s"distributed only ${dist.diff(local).take(3)})")
  }

  /** 500 docs: 24 planted groups (cliques whose copies differ in the last
    * word, chains where each member rewrites two fresh words of the previous
    * one), one 80-copy clique that overflows every cap tested here and
    * unrelated background docs; plus one NULL-text row. */
  private lazy val corpus: DataFrame = {
    import spark.implicits._
    val r = new scala.util.Random(5)
    val vocab = (0 until 3000).map(i => s"w$i")
    def fresh(): Array[String] = Array.fill(60)(vocab(r.nextInt(vocab.length)))
    val docs = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 24).foreach { g =>
      val base = fresh()
      docs += base.mkString(" ")
      var cur = base
      (1 until 2 + r.nextInt(4)).foreach { i =>
        cur = cur.clone()
        if (g % 2 == 0) cur(59) = vocab(r.nextInt(vocab.length))
        else (0 until 2).foreach(j => cur(i * 9 + j) = vocab(r.nextInt(vocab.length)))
        docs += cur.mkString(" ")
      }
    }
    val big = fresh()
    (0 until 80).foreach { _ =>
      val c = big.clone(); c(59) = vocab(r.nextInt(vocab.length)); docs += c.mkString(" ")
    }
    while (docs.length < 500) docs += fresh().mkString(" ")
    // ids are scattered, not in insertion order, so bucket order is not row order
    val rows = docs.zipWithIndex.map { case (t, i) => ((i * 7919L) % 100003L, t) }
    (rows.toSeq :+ ((100003L + 5L, null: String))).toDF("doc_id", "text")
  }

  private def pairs(df: DataFrame, theta: Double): DataFrame =
    TextOps.jaccardPairs(df, "text", "doc_id", minJaccard = theta,
      carry = Seq("grp" -> (col("doc_id") % 7)))

  test("fixture: one bucket over the default cap, pairs at every threshold") {
    val audit = TextOps.lshBucketStats(corpus, "text", "doc_id").collect()(0)
    assert(audit.getLong(audit.fieldIndex("buckets_over_cap")) > 0, audit.toString)
    assert(pairs(corpus, 0.92).count() > 0)
  }

  test("LONG ids with a carry column: routes agree for every cap and threshold") {
    for (cap <- Seq(64, 4, 0); theta <- Seq(0.0, 0.6, 0.92)) withConf(Cap -> cap.toString) {
      val (local, dist) = routes(pairs(corpus, theta))
      assert(local.nonEmpty, s"cap=$cap theta=$theta: no pairs")
      assertSame(local, dist, s"cap=$cap theta=$theta")
      // the NULL-text row forms no pair on either route
      assert(!local.exists(r => r.getLong(0) == 100008L || r.getLong(1) == 100008L))
    }
  }

  test("INT ids keep their type and agree across routes") {
    val ints = corpus.withColumn("doc_id", col("doc_id").cast("int"))
    for (theta <- Seq(0.0, 0.6, 0.92)) {
      val (local, dist) = routes(pairs(ints, theta))
      assert(local.nonEmpty, s"theta=$theta: no pairs")
      assertSame(local, dist, s"INT ids, theta=$theta")
    }
    val schema = pairs(ints, 0.6).schema
    assert(schema("id_a").dataType.typeName == "integer" &&
      schema("id_b").dataType.typeName == "integer" &&
      schema("n_bands").dataType.typeName == "long" &&
      schema("jaccard").dataType.typeName == "double" &&
      schema.fieldNames.toSeq == Seq("id_a", "id_b", "n_bands", "jaccard", "grp_a", "grp_b"),
      schema.treeString)
  }

  test("callers: Curate tagged rows and dedupVsCorpus agree across routes") {
    val cfg = Curate.Config(langs = Set("en", "und"), minQuality = 0.0,
      maxDupBigramFrac = 1.0, minJaccard = 0.6, evalPred = id => id % 9 === 0)
    val (local, dist) = routeRows {
      val staged = Curate.taggedStaged(corpus, "text", "doc_id", cfg)
      try staged.df.collect().toSeq
      finally staged.release()
    }
    assertSame(local, dist, "Curate tagged rows")
    assert(local.count(r => r.getAs[String]("drop_reason") == "near_dup") > 0)
    val (vsLocal, vsDist) = routes(TextOps.dedupVsCorpus(
      corpus.where(col("doc_id") % 3 === 0), corpus.where(col("doc_id") % 3 =!= 0),
      "text", "doc_id"))
    assertSame(vsLocal, vsDist, "dedupVsCorpus")
  }

  test("route taken: no Exchange below the gate, the window exchange when forced") {
    def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
    val local = plan(pairs(corpus, 0.6))
    assert(!local.contains("Exchange"), s"small input did not take the driver route:\n$local")
    val dist = withConf(Gate -> "0")(plan(pairs(corpus, 0.6)))
    assert(dist.contains("Window") && dist.contains("Exchange hashpartitioning(band_idx"),
      s"forced route lost the band-bucket window exchange:\n$dist")
  }

  test("duplicated ids fall back to the distributed plan and match it") {
    val dup = corpus.unionByName(corpus.where(col("doc_id") < 20000L))
    val (local, dist) = routes(pairs(dup, 0.6))
    assert(local.nonEmpty)
    assertSame(local, dist, "duplicated-id fallback")
    val p = pairs(dup, 0.6).queryExecution.executedPlan.toString
    assert(p.contains("Exchange hashpartitioning(band_idx"), s"no fallback:\n$p")
  }
}
