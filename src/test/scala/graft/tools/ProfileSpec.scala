package graft.tools

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[StageStats]]' skew rule (the one both scale smokes report) on
 *  synthetic task times, and [[Profile]]'s per-entry JSON line with its
 *  stages and route decisions. */
class ProfileSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val dir = java.nio.file.Files.createTempDirectory("graft-profile").toFile

  override def afterAll(): Unit = graft.index.IndexCatalog.deleteTree(dir.getPath)

  /** A scale-factor directory holding generated `events` and `documents`
   *  tables — enough for `events_agg` and `rare_terms`. */
  private lazy val sf: String = {
    spark.range(0, 2000, 1, 4).selectExpr(
      "concat('e', CAST(id % 5 AS STRING)) AS event_type",
      "CAST(timestamp_seconds(1700000000 + id * 97) AS TIMESTAMP_NTZ) AS ts",
      "CAST(id % 13 AS DOUBLE) / 4 AS value")
      .write.parquet(s"$dir/events.parquet")
    spark.range(0, 300, 1, 2).selectExpr("id AS doc_id",
      "concat('w', id % 7, ' w', id % 11, ' w', id % 13) AS text")
      .write.parquet(s"$dir/documents.parquet")
    dir.getPath
  }

  /** `n` tasks of `ms` each, the last one `tailMs`. */
  private def tasks(n: Int, ms: Long, tailMs: Long): Seq[Long] =
    Seq.fill(n - 1)(ms) :+ tailMs

  test("skew ignores stages with fewer than 8 tasks or a median under 200 ms") {
    val none = StageStats.Skew(1.0, -1, 1.0, -1)
    assert(StageStats.skew(Map.empty) == none)
    assert(StageStats.skew(Map(1 -> tasks(7, 1000, 9000))) == none)
    assert(StageStats.skew(Map(1 -> tasks(8, 199, 9000))) == none)
    assert(StageStats.skew(Map(1 -> tasks(8, 200, 1000))) ==
      StageStats.Skew(5.0, 1, 5.0, 1))
  }

  test("major-stage skew counts only stages with at least 5% of the task time") {
    // stage 1: 7 × 200 ms plus a 1.2 s tail = 2.6 s; stage 2: 7 × 10 s plus
    // a 15 s tail = 85 s. Stage 1 holds 3.0% of the 87.6 s total: worst
    // but not major
    val s = Map(1 -> tasks(8, 200, 1200), 2 -> tasks(8, 10000, 15000))
    assert(StageStats.skew(s) == StageStats.Skew(6.0, 1, 1.5, 2))
    // at 5% or more it is major too: 7 × 400 ms plus a 2.4 s tail = 5.2 s
    // of 90.2 s (5.8%)
    val t = Map(1 -> tasks(8, 400, 2400), 2 -> tasks(8, 10000, 15000))
    assert(StageStats.skew(t) == StageStats.Skew(6.0, 1, 6.0, 1))
    // no major stage qualifies: major falls back to 1.0 / -1
    val u = Map(1 -> tasks(8, 200, 1200), 2 -> Seq.fill(4)(40000L))
    assert(StageStats.skew(u) == StageStats.Skew(6.0, 1, 1.0, -1))
  }

  test("Profile prints one JSON line per entry with per-stage counters") {
    val stats = new StageStats
    spark.sparkContext.addSparkListener(stats)
    val line =
      try Profile.run(spark, stats, sf, "events_agg")
      finally spark.sparkContext.removeSparkListener(stats)
    implicit val fmts: Formats = DefaultFormats
    val js = JsonMethods.parse(line)
    assert((js \ "entry").extract[String] == "events_agg")
    assert((js \ "wall_s").extract[Double] > 0)
    val stages = (js \ "stages").extract[Seq[JValue]]
    assert(stages.exists(st => (st \ "tasks").extract[Int] > 0), line)
    for (st <- stages; f <- Seq("stage", "wall_ms", "task_ms", "scheduler_delay_ms",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_ms"))
      assert((st \ f) != JNothing, s"stage field $f missing: $line")
  }

  test("Profile lists the timed run's route decisions") {
    val stats = new StageStats
    spark.sparkContext.addSparkListener(stats)
    implicit val fmts: Formats = DefaultFormats
    def routes(entry: String): Seq[JValue] =
      (JsonMethods.parse(Profile.run(spark, stats, sf, entry)) \ "routes").extract[Seq[JValue]]
    try {
      val rare = routes("rare_terms")
      assert(rare.map(r => ((r \ "op").extract[String], (r \ "route").extract[String],
        (r \ "limit").extract[Long])) == Seq(("text.rareTerms", "local", 64L << 20)))
      assert((rare.head \ "estimate").extract[Long] > 0)
      assert(routes("events_agg").isEmpty)
    } finally spark.sparkContext.removeSparkListener(stats)
  }

  test("Profile rejects an unknown entry and names the known ones") {
    val e = intercept[IllegalArgumentException](
      Profile.checkNames(Seq("events_agg", "no_such_entry")))
    assert(e.getMessage.contains("no_such_entry"))
    assert(e.getMessage.contains("events_agg") && e.getMessage.contains("dup_clusters"),
      e.getMessage)
  }
}
