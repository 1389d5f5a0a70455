package graft.index

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the single-execution contract of Ann.searchFiltered's distributed
 *  probed route (the gate at 0; below it the driver search runs no job):
 *  when an ivfflat/ivfpq index with nprobe < nlist answers without
 *  escalating, the ≤ k probed rows were ALREADY collected for the
 *  under-fill check, so consuming the returned DataFrame must launch ZERO
 *  further Spark jobs (the round-13 advisory: count()-then-return executed
 *  the probed scan twice per filtered query). */
class FilteredJobCountSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.graft.ann.root", s"/tmp/graft-test-fjc-${System.nanoTime()}")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("ERROR") }

  private val sf = "/root/testdata/sf0.001"
  lazy val emb: DataFrame = spark.read.parquet(s"$sf/embeddings.parquet")

  private lazy val q0: Array[Float] = {
    val r = emb.orderBy("vec_id").limit(1).collect()(0)
    r.getSeq[Float](r.fieldIndex("embedding")).toArray
  }

  /** Jobs launched while consuming `df` (events drained before reading). */
  private def consumeJobs(df: DataFrame): (Int, Array[org.apache.spark.sql.Row]) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = df.collect()
      Thread.sleep(500)
      (jobs.get(), out)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("ivfflat non-escalating filtered query: consumption is job-free") {
    Ann.buildIndex(emb, "embedding", "vec_id", "fjc_ivf",
      Ann.BuildParams(engine = "ivfflat", nlist = 8, nprobe = 2))
    // permissive filter: the 2 probed clusters hold >= k allowed rows, so
    // the probed answer fills k and no escalation happens
    val filt = Ann.IdFilter.modEq(2, 0)
    val df = graft.core.RouteParity.distributed(spark)(
      Ann.searchFiltered(spark, "fjc_ivf", q0, 10, filt))
    val (jobs, out) = consumeJobs(df)
    assert(out.length == 10, s"probed answer short: ${out.length}")
    assert(out.forall(_.getLong(0) % 2 == 0))
    assert(jobs == 0,
      s"consuming the filtered result launched $jobs jobs; the probed scan " +
        "must run exactly once (at the under-fill check)")
  }

  test("ivfpq non-escalating filtered query: consumption is job-free") {
    Ann.buildIndex(emb, "embedding", "vec_id", "fjc_ivfpq",
      Ann.BuildParams(engine = "ivfpq", nlist = 4, nprobe = 2, pqM = 8))
    val filt = Ann.IdFilter.modEq(2, 1)
    val df = graft.core.RouteParity.distributed(spark)(
      Ann.searchFiltered(spark, "fjc_ivfpq", q0, 10, filt))
    val (jobs, out) = consumeJobs(df)
    assert(out.length == 10, s"probed answer short: ${out.length}")
    assert(out.forall(_.getLong(0) % 2 == 1))
    assert(jobs == 0,
      s"consuming the filtered result launched $jobs jobs; the ADC probed " +
        "scan must run exactly once (at the under-fill check)")
  }

  test("collected rows keep the (distance, id) order of the scan plan") {
    Ann.buildIndex(emb, "embedding", "vec_id", "fjc_order",
      Ann.BuildParams(engine = "ivfflat", nlist = 8, nprobe = 2))
    val out = graft.core.RouteParity.distributed(spark)(Ann.searchFiltered(spark,
      "fjc_order", q0, 10, Ann.IdFilter.modEq(2, 0)).collect())
      .map(r => (r.getFloat(1), r.getLong(0)))
    assert(out.sortBy(identity).toSeq == out.toSeq,
      s"LocalRelation rows lost the scan ordering: ${out.toSeq}")
  }
}
