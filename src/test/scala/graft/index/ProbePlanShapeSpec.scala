package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan hygiene for probe pruning at IMI-sized nlists (16,384 cells here):
 *  a SATURATING probe set (nprobe ≥ nlist — the exact-twin oracles) is a
 *  semantic no-op, so NO cluster/bucket filter may appear in the plan at
 *  all (the r18 plan carried a 65,536-literal `In` plus a redundant
 *  1024-literal bucket `In` through analysis); a large-but-partial probe
 *  set must ride a single hash-set `InSet` expression, never a
 *  multi-thousand-literal `In` — the tombstone path's O(1)-plan-size rule
 *  ([[Ann.notTombstoned]]) applied to probes. Results are pinned identical
 *  to the flat exact scan in both regimes. */
class ProbePlanShapeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.graft.ann.root", s"/tmp/graft-test-probeplan-${System.nanoTime()}")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("ERROR") }

  private val sf = "/root/testdata/sf0.001"
  lazy val emb: DataFrame = spark.read.parquet(s"$sf/embeddings.parquet")
    .limit(600)
  lazy val q: Array[Float] = emb.orderBy("vec_id").limit(1)
    .select("embedding").collect()(0).getSeq[Float](0).toArray

  // 2^14 = 16,384 cells > MaxClusterDirs → bucketed layout, IMI probe math
  lazy val metaName: String = {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "pps_imi",
      "IMI2x7,Flat", Ann.BuildParams(seedK = 128, nprobe = 8))
    Ann.buildIndex(emb, "embedding", "vec_id", "pps_flat",
      Ann.BuildParams(engine = "flat"))
    "pps_imi"
  }

  private def filterConds(df: DataFrame) =
    df.queryExecution.analyzed.collect { case f: Filter => f.condition }

  test("saturating probes plant no cluster/bucket filter at all") {
    // the distributed plan: below the gate the search runs on the driver
    graft.core.RouteParity.distributed(spark) {
      assert(metaName == "pps_imi")
      Ann.setNprobe(spark, "pps_imi", 16384)
      val df = Ann.searchHits(spark, "pps_imi", q, 10)
      val conds = filterConds(df)
      val probeRefs = conds.filter(_.references.exists(a =>
        a.name == "cluster" || a.name == "bucket"))
      assert(probeRefs.isEmpty,
        s"saturating plan still filters on cluster/bucket: ${probeRefs.take(2)}")
      // and the no-op skip is exact: identical to the flat exact top-k
      val got = df.collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      val want = Ann.searchHits(spark, "pps_flat", q, 10)
        .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(got == want)
    }
  }

  test("large partial probe sets ride InSet, never a multi-thousand-literal In") {
    // the distributed plan: below the gate the search runs on the driver
    graft.core.RouteParity.distributed(spark) {
      assert(metaName == "pps_imi")
      Ann.setNprobe(spark, "pps_imi", 2000)
      val df = Ann.searchHits(spark, "pps_imi", q, 10)
      val conds = filterConds(df)
      val bigIns = conds.flatMap(_.collect {
        case i: In if i.list.size > Ann.TombInlineMax => i
      })
      assert(bigIns.isEmpty,
        s"plan carries a literal In with ${bigIns.headOption.map(_.list.size)} elements")
      val inSets = conds.flatMap(_.collect { case s: InSet => s })
      assert(inSets.nonEmpty, s"expected an InSet probe predicate, got: ${conds.take(2)}")
      assert(inSets.exists(_.hset.size > Ann.TombInlineMax))
    }
  }

  test("clusterIn is bit-identical across the In/InSet threshold") {
    val df = spark.range(0, 5000).select(col("id").cast("int").as("cluster"))
    val small = (0 until 600).toSeq
    val large = (0 until 3000).toSeq
    assert(df.where(Ann.clusterIn(col("cluster"), small)).count() == 600)
    assert(df.where(Ann.clusterIn(col("cluster"), large)).count() == 3000)
    // duplicate ids collapse before the threshold decision
    assert(df.where(Ann.clusterIn(col("cluster"), large ++ large)).count() == 3000)
  }
}
