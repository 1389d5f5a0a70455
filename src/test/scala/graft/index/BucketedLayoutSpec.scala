package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bucketed cluster layout for IMI-sized nlists
 *  (nlist > Ann.MaxClusterDirs): the table partitions on
 *  `bucket = cluster % ClusterBuckets` instead of one directory per cell
 *  (IMI2x8's 65,536 dirs cost 271 s of write commit at 1.5M rows — the
 *  many-small-files regime), `cluster` stays a data column sorted within
 *  files, probe pruning reaches the scan as a bucket PartitionFilter plus a
 *  pushed cluster filter, saturating-probe results stay exact, and
 *  append/vacuum keep the layout. */
class BucketedLayoutSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.graft.ann.root", s"/tmp/graft-test-bucket-${System.nanoTime()}")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("ERROR") }

  private val sf = "/root/testdata/sf0.001"
  lazy val emb: DataFrame = spark.read.parquet(s"$sf/embeddings.parquet")
    .limit(600)

  private def dirNames(path: String): Seq[String] = {
    val kids = new java.io.File(path).listFiles()
    if (kids == null) Nil else kids.filter(_.isDirectory).map(_.getName).toSeq
  }

  test("IMI2x7 table buckets directories; probes prune via bucket + pushed cluster") {
    // 2^14 = 16384 cells > MaxClusterDirs → bucketed layout
    val meta = Ann.buildIndexFactory(emb, "embedding", "vec_id", "bk_imi",
      "IMI2x7,Flat", Ann.BuildParams(seedK = 128, nprobe = 8))
    assert(meta.nlist == 16384)
    val dirs = dirNames(meta.sourcePath)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("bucket=")),
      s"expected bucket= partition dirs, got ${dirs.take(5)}")
    assert(dirs.length <= Ann.ClusterBuckets)
    // probe pruning reaches the scan: bucket as a partition filter, cluster
    // as a pushed data filter over the sorted row groups
    val q = emb.orderBy("vec_id").limit(1)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val plan = graft.core.RouteParity.distributed(spark)(Ann.searchHits(spark, "bk_imi", q, 5)
      .queryExecution.executedPlan.toString)
    assert(plan.contains("bucket"), plan.take(3000))
    assert(plan.contains("PushedFilters") && plan.contains("In(cluster"),
      plan.take(3000))
  }

  test("saturating probes over the bucketed table == flat exact top-k") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "bk_imi_sat",
      "IMI2x7,Flat", Ann.BuildParams(seedK = 128, nprobe = 16384))
    Ann.buildIndex(emb, "embedding", "vec_id", "bk_flat",
      Ann.BuildParams(engine = "flat"))
    val q = emb.orderBy(desc("vec_id")).limit(1)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val got = Ann.search(emb, "vec_id", "bk_imi_sat", q, 10)
      .select("vec_id", "_distance").collect().map(r => (r.getLong(0), r.getFloat(1)))
    val want = Ann.search(emb, "vec_id", "bk_flat", q, 10)
      .select("vec_id", "_distance").collect().map(r => (r.getLong(0), r.getFloat(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("append and vacuum keep the bucketed layout and stay searchable") {
    val meta = Ann.buildIndexFactory(emb, "embedding", "vec_id", "bk_dml",
      "IMI2x7,Flat", Ann.BuildParams(seedK = 128, nprobe = 16384))
    val extra = emb.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding")).limit(20)
    Ann.append(extra, "embedding", "vec_id", "bk_dml")
    val afterAppend = IndexCatalog.load(Ann.root(spark), "bk_dml")
    assert(dirNames(afterAppend.sourcePath).forall(_.startsWith("bucket=")))
    val q = emb.orderBy("vec_id").limit(1)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val all = emb.select("vec_id", "embedding")
      .union(extra.select(col("vec_id"), col("embedding")))
    val hit = Ann.search(all, "vec_id", "bk_dml", q, 1)
      .select("vec_id").collect()(0).getLong(0)
    Ann.delete(spark, "bk_dml", Seq(hit))
    val vac = Ann.vacuum(spark, "bk_dml")
    assert(dirNames(vac.sourcePath).forall(_.startsWith("bucket=")),
      s"vacuum changed layout: ${dirNames(vac.sourcePath).take(5)}")
    val got = Ann.search(all, "vec_id", "bk_dml", q, 5)
      .select("vec_id").collect().map(_.getLong(0))
    assert(!got.contains(hit) && got.length == 5)
  }

  test("append honors a LEGACY large-nlist per-cluster table's layout") {
    // A table built before the bucketed layout existed: nlist > MaxClusterDirs
    // but partitioned per-cluster on disk. Appends must keep writing
    // cluster= dirs — deriving the layout from nlist alone would plant
    // conflicting bucket= partition dirs in the same table and break reads.
    val meta = Ann.buildIndexFactory(emb, "embedding", "vec_id", "bk_legacy",
      "IMI2x7,Flat", Ann.BuildParams(seedK = 128, nprobe = 16384))
    // rewrite the bucketed table to the legacy per-cluster layout in place
    val legacyTmp = meta.sourcePath + "_legacy"
    val rows = spark.read.parquet(meta.sourcePath).drop("bucket").cache()
    rows.count()
    rows.repartition(4).write.mode("overwrite")
      .partitionBy("cluster").parquet(legacyTmp)
    rows.unpersist()
    def rmRf(p: java.io.File): Unit = {
      val kids = p.listFiles(); if (kids != null) kids.foreach(rmRf); p.delete()
    }
    rmRf(new java.io.File(meta.sourcePath))
    assert(new java.io.File(legacyTmp).renameTo(new java.io.File(meta.sourcePath)))
    assert(dirNames(meta.sourcePath).forall(_.startsWith("cluster=")))
    // append into the legacy table: layout must be detected, not re-derived
    val extra = emb.select((col("vec_id") + 200000L).as("vec_id"),
      col("embedding")).limit(20)
    Ann.append(extra, "embedding", "vec_id", "bk_legacy")
    val dirs = dirNames(meta.sourcePath)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("cluster=")),
      s"append broke the legacy layout: ${dirs.filterNot(_.startsWith("cluster=")).take(5)}")
    // and the table stays searchable end-to-end, appended rows included
    val q = emb.orderBy("vec_id").limit(1)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val all = emb.select("vec_id", "embedding")
      .union(extra.select(col("vec_id"), col("embedding")))
    val got = Ann.search(all, "vec_id", "bk_legacy", q, 10)
      .select("vec_id", "_distance").collect().map(r => (r.getLong(0), r.getFloat(1)))
    Ann.buildIndex(emb, "embedding", "vec_id", "bk_legacy_flat",
      Ann.BuildParams(engine = "flat"))
    Ann.append(extra, "embedding", "vec_id", "bk_legacy_flat")
    val want = Ann.search(all, "vec_id", "bk_legacy_flat", q, 10)
      .select("vec_id", "_distance").collect().map(r => (r.getLong(0), r.getFloat(1)))
    assert(got.toSeq == want.toSeq)
  }
}
