package graft.index

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins each serve surface's NEAR-TIE ordering contract on data built to
 *  tie at float precision but differ in double — the exact shape a
 *  regenerated testdata set surfaced in round 16 (two corpus vectors whose
 *  L2 distances to the query agree in f32 and flip order in f64):
 *
 *   - `search` / `searchHits` / ExactServe emit the ENGINE's
 *     double-precision ranking (Ann.search carries `__ann_rank` through
 *     the fetch-back join rather than re-sorting the f32 `_distance`);
 *   - `searchBatch` cuts per query by the double score but presents its
 *     final rows in (query_idx, f32 `_distance`, id) order;
 *   - `rangeSearch` presents (f32 `_distance`, id) order — float on BOTH
 *     sides of its oracle, a consistent pair.
 *
 *  Oracles must match the surface they check (docs: verify skill gotchas);
 *  this spec fails if a surface's convention silently changes. */
class TieOrderSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.graft.ann.root", s"/tmp/graft-test-tie-${System.nanoTime()}")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("ERROR") }

  // query at the origin; distances are sums of squares. The tie pair puts
  // its difference in a TINY side component: id 20 at (4, 0, ε, …) and
  // id 10 at (0, 4, nextUp(ε), …) with ε = 0.01f. The squared sums differ
  // by (nextUp(ε)² − ε²) ≈ 2·ε·ulp_f32(ε) ≈ 1.9e-11 — well above the
  // f64 ulp of the ≈16.0001 total (3.6e-15), collapsed by its f32 cast
  // (f32 ulp there is ~1.9e-6). The DOUBLE order (20 before 10) INVERTS the id
  // order, so an id tiebreak cannot mask a float re-sort.
  private val dim = 8
  private val q = new Array[Float](dim)
  private lazy val rows: Seq[(Long, Array[Float])] = {
    val d = 4.0f
    val eps = 0.01f
    val near = (1 to 5).map { i =>
      val v = new Array[Float](dim); v(i % dim) = 0.5f + i * 0.25f; (i.toLong, v)
    }
    val a = new Array[Float](dim); a(0) = d; a(2) = eps
    val b = new Array[Float](dim); b(1) = d; b(3) = java.lang.Math.nextUp(eps)
    near ++ Seq((20L, a), (10L, b))
  }
  private lazy val df: DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map { case (id, v) => Row(id, v.toSeq) }.asJava,
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
  }

  private def doubleOrder: Seq[Long] = rows.map { case (id, v) =>
    var s = 0.0; v.foreach(x => s += x.toDouble * x.toDouble); (s, id)
  }.sortBy(t => (t._1, t._2)).map(_._2)

  private def floatTieOrder: Seq[Long] = rows.map { case (id, v) =>
    var s = 0.0; v.foreach(x => s += x.toDouble * x.toDouble); (s.toFloat, id)
  }.sortBy(t => (t._1, t._2)).map(_._2)

  test("fixture: the pair ties at f32 and differs (inverted vs ids) at f64") {
    val dOrd = doubleOrder
    val fOrd = floatTieOrder
    assert(dOrd.indexOf(20L) < dOrd.indexOf(10L), s"double order $dOrd")
    assert(fOrd.indexOf(10L) < fOrd.indexOf(20L), s"float-tie order $fOrd")
  }

  test("search / searchHits / ExactServe emit the engine's double ranking") {
    Ann.buildIndex(df, "embedding", "vec_id", "tie_flat",
      Ann.BuildParams(engine = "flat"))
    val want = doubleOrder
    val got = Ann.search(df, "vec_id", "tie_flat", q, rows.length)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == want, s"search: $got != $want")
    val hits = Ann.searchHits(spark, "tie_flat", q, rows.length)
      .collect().map(_.getLong(0)).toSeq
    assert(hits == want, s"searchHits: $hits != $want")
    // distributed scan route too (ExactServe off)
    spark.conf.set("spark.graft.localMaxBytes", "0")
    try {
      val dist = Ann.search(df, "vec_id", "tie_flat", q, rows.length)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(dist == want, s"distributed search: $dist != $want")
    } finally spark.conf.unset("spark.graft.localMaxBytes")
  }

  test("searchBatch presents (f32 distance, id) order after the double cut") {
    Ann.buildIndex(df, "embedding", "vec_id", "tie_b",
      Ann.BuildParams(engine = "flat"))
    val got = Ann.searchBatch(df, "vec_id", "tie_b", Seq(q), rows.length)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == floatTieOrder, s"batch: $got != $floatTieOrder")
  }

  test("rangeSearch presents (f32 distance, id) order") {
    Ann.buildIndex(df, "embedding", "vec_id", "tie_r",
      Ann.BuildParams(engine = "flat"))
    val got = Ann.rangeSearch(df, "vec_id", "tie_r", q, Float.MaxValue)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == floatTieOrder, s"range: $got != $floatTieOrder")
  }
}
