package graft.index

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.scalatest.funsuite.AnyFunSuite

/**
 * Tombstone exclusion must stay O(1) in PLAN size however many ids were
 * deleted before a vacuum (the reference filters deletes through a hash set
 * at any count, src/diskann_index.cpp:584-591). These cases delete 100k ids
 * and assert the exact-engine scan paths still answer correctly with a
 * single `InSet` node in the plan — never a 100k-literal `In` list.
 */
class TombstoneScaleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.graft.ann.root", s"/tmp/graft-tomb-scale-${System.nanoTime()}")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("ERROR") }

  private val sf = "/root/testdata/sf0.001"
  lazy val emb: DataFrame = spark.read.parquet(s"$sf/embeddings.parquet")

  private lazy val q0: Array[Float] = {
    val r = emb.orderBy("vec_id").limit(1).collect()(0)
    r.getSeq[Float](r.fieldIndex("embedding")).toArray
  }

  /** 100k tombstones: a few real ids + synthetic ids beyond the corpus. */
  private def bigTomb(realIds: Seq[Long]): Seq[Long] =
    realIds ++ (10000000L until 10100000L)

  /** Runs `body` on the distributed scan paths (the sites under test; the
   *  driver-local ExactServe cache filters via Set already). Set and unset
   *  here, not on the builder: suites share one session. */
  private def distributed[A](body: => A): A = {
    spark.conf.set("spark.graft.localMaxBytes", "0")
    try body finally spark.conf.unset("spark.graft.localMaxBytes")
  }

  /** Every expression in every node of the analyzed plan. */
  private def allExprs(df: DataFrame) =
    df.queryExecution.analyzed.flatMap(_.expressions)
      .flatMap(_.collect { case e => e })

  test("notTombstoned: small set inlines In, large set is one InSet node") {
    val ids = spark.range(5).toDF("id")
    val small = allExprs(ids.where(Ann.notTombstoned(col("id"), (1L to 10L).toSet)))
    assert(small.collect { case i: In => i }.exists(_.list.size == 10))

    val bigDf = ids.where(Ann.notTombstoned(col("id"), (1L to 100000L).toSet))
    val big = allExprs(bigDf)
    val inSets = big.collect { case s: InSet => s }
    assert(inSets.count(_.hset.size == 100000) == 1)
    assert(!big.collect { case i: In => i }.exists(_.list.size > Ann.TombInlineMax),
      "large tombstone sets must never materialize as literal In lists")
    // semantics parity across the threshold on the boundary rows
    assert(bigDf.collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("flat search stays exact with 100k tombstones (distributed scan)") (distributed {
    import graft.functions._
    Ann.buildIndex(emb, "embedding", "vec_id", "tomb_flat",
      Ann.BuildParams(engine = "flat"))
    val top13 = emb.select(col("vec_id"),
        array_distance_sq(toFloatVec(col("embedding")), floatVec(q0.toSeq)).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(13)
      .collect().map(_.getLong(0)).toSeq
    val deleted = top13.take(3)
    Ann.delete(spark, "tomb_flat", bigTomb(deleted))
    val got = Ann.search(emb, "vec_id", "tomb_flat", q0, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == top13.drop(3), "post-delete top-10 = pre-delete top-13 minus deleted")
  })

  test("ivfpq search excludes 100k tombstones without plan blow-up") (distributed {
    Ann.buildIndex(emb, "embedding", "vec_id", "tomb_ivfpq",
      Ann.BuildParams(engine = "ivfpq", pqM = 4, nlist = 8, nprobe = 8,
        trainSample = 500))
    // frozen codebooks + deterministic ADC ranking: post-delete top-10 must
    // equal pre-delete top-13 minus the 3 deleted reals
    val pre = Ann.search(emb, "vec_id", "tomb_ivfpq", q0, 13)
      .collect().map(_.getLong(0)).toSeq
    val deleted = pre.take(3)
    Ann.delete(spark, "tomb_ivfpq", bigTomb(deleted))
    val got = Ann.search(emb, "vec_id", "tomb_ivfpq", q0, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == pre.drop(3))
  })

  test("rangeSearch plan carries InSet, not 100k literals") {
    import graft.functions._
    Ann.buildIndex(emb, "embedding", "vec_id", "tomb_range",
      Ann.BuildParams(engine = "flat"))
    val d20 = emb.select(
        array_distance_sq(toFloatVec(col("embedding")), floatVec(q0.toSeq)).as("d"))
      .orderBy("d").limit(20).collect().map(_.getDouble(0)).last.toFloat
    val expect = emb.select(col("vec_id"),
        array_distance_sq(toFloatVec(col("embedding")), floatVec(q0.toSeq)).as("d"))
      .where(col("d") <= d20.toDouble)
      .collect().map(_.getLong(0)).toSet
    val deleted = expect.take(2).toSeq
    Ann.delete(spark, "tomb_range", bigTomb(deleted))
    val res = Ann.rangeSearch(emb, "vec_id", "tomb_range", q0, d20)
    // the returned (lazy) plan must hold the tombstones as ONE InSet node
    val exprs = allExprs(res)
    assert(exprs.collect { case s: InSet => s }.exists(_.hset.size == 100002))
    assert(!exprs.collect { case i: In => i }.exists(_.list.size > Ann.TombInlineMax),
      "no >1k-literal In lists anywhere in the plan")
    val got = res.collect().map(_.getLong(0)).toSet
    assert(got == expect -- deleted)
  }
}
