package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The segmented packing engine must be bit-identical to the serial
 * one-task-per-group scan on EVERY partition layout — including the skew
 * profile that motivated it (one group holding ~95% of the corpus), where
 * it must actually run the dominant group across multiple tasks.
 */
class PackSequencesSkewSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      // small ranges on purpose: groups MUST cross partition boundaries
      .config("spark.sql.shuffle.partitions", "7")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def collectPack(df: DataFrame): Seq[(String, Long, Long, Long, Long)] =
    df.collect().map(r => (Option(r.getString(0)).orNull, r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (Option(t._1).getOrElse(""), t._2)).toSeq

  private def parity(docs: DataFrame, budget: Long): Unit = {
    // force the SEGMENTED route (the size gate would send these toy corpora
    // down the serial path, which is the parity REFERENCE here); set per
    // call, not on the builder, because suites share one session
    spark.conf.set("spark.graft.localMaxBytes", "0")
    val seg = try collectPack(TextOps.packSequences(docs, "text", "doc_id", "g", budget))
      finally spark.conf.unset("spark.graft.localMaxBytes")
    val counted = TextOps.countedForPack(docs, "text", "doc_id", "g")
    val ser = collectPack(TextOps.packSequencesSerial(counted, budget, "g", "doc_id"))
    assert(seg == ser, s"segmented != serial at budget=$budget\n" +
      seg.zip(ser).filter(p => p._1 != p._2).take(5).mkString("\n"))
    assert(seg.nonEmpty)
  }

  private def mkDocs(rows: Seq[(String, Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("g", "doc_id", "text")
  }

  test("dominant group (95%) crosses partitions, stays bit-identical, multi-task") {
    val s = spark
    import s.implicits._
    // 950 docs in group "big", 50 spread over 5 small groups; doc sizes
    // vary 0..13 words so sequences break at irregular places
    val rows = (0L until 950L).map { i =>
      ("big", i, Seq.fill((i % 14).toInt)("w").mkString(" "))
    } ++ (0L until 50L).map { i =>
      (s"s${i % 5}", 1000L + i, Seq.fill((i % 7).toInt + 1)("x").mkString(" "))
    }
    val docs = mkDocs(rows)
    parity(docs, budget = 20L)
    parity(docs, budget = 1L)    // every nonzero doc oversize -> singletons
    parity(docs, budget = 1000L) // few sequences per range
    // the dominant group must actually execute across multiple tasks: the
    // ranged layout the segmented engine uses spreads "big" over >1 range
    val counted = TextOps.countedForPack(docs, "text", "doc_id", "g")
    val perPart = counted.toDF("g", "id", "n")
      .repartitionByRange(7, col("g").asc_nulls_first, col("id"))
      .mapPartitions(it => Iterator.single(it.count(_.getString(0) == "big")))
      .collect().filter(_ > 0)
    assert(perPart.length > 1,
      s"dominant group packed on a single task: ${perPart.toSeq}")
  }

  test("boundary edge cases: oversize docs, zero-token docs, exact fits, NULLs") {
    // oversize doc (n > budget) forms a singleton; the doc AFTER an
    // oversize always breaks (even a zero-token doc); exact budget fits
    // merge; NULL group is its own group; NULL text is a zero-token doc
    val rows = Seq[(String, Long, String)](
      ("a", 1L, "w w w"),          // 3
      ("a", 2L, "w w w w w w w"),  // 7 -> oversize at budget 5
      ("a", 3L, null),             // 0: must START a sequence (running>B)
      ("a", 4L, "w w"),            // 2
      ("a", 5L, "w w w"),          // 3: exact fit at budget 5
      (null, 6L, "w w w w"),       // NULL group
      (null, 7L, "w w"),
      ("b", 8L, ""),               // zero-token group start
      ("b", 9L, "w w w w w")       // exact budget
    )
    parity(mkDocs(rows), budget = 5L)
    parity(mkDocs(rows), budget = 2L)
    parity(mkDocs(rows), budget = 100L)
  }

  test("randomized parity across budgets and layouts") {
    val rnd = new scala.util.Random(42)
    val rows = (0L until 600L).map { i =>
      val g = s"g${rnd.nextInt(3)}"
      (g, i, Seq.fill(rnd.nextInt(12))("t").mkString(" "))
    }
    val docs = mkDocs(rows)
    Seq(3L, 8L, 17L, 64L).foreach(parity(docs, _))
  }

  test("huge budget falls back to the serial path and still agrees") {
    val rows = (0L until 100L).map(i =>
      ("g", i, Seq.fill((i % 5).toInt)("w").mkString(" ")))
    val docs = mkDocs(rows)
    parity(docs, budget = SegmentedPack.MaxComposeBudget + 1) // -> serial route
  }
}
