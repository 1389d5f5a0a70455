package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the one seeding rule of the IVF families' [[Coarse]] quantizer:
 *  with `seedK > 0`, ivfflat, ivfsq and ivfpq all store the nlist lowest-id
 *  vectors verbatim as their centroids, and every stored row sits in its
 *  nearest centroid's cell. */
class CoarseSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.graft.ann.root", s"/tmp/graft-test-coarse-${System.nanoTime()}")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("ERROR") }

  lazy val emb: DataFrame = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("seeded IVF4,Flat, IVF4,SQ8 and IVF4,PQ4 store the 4 lowest-id vectors as centroids") {
    val want = emb.orderBy("vec_id").limit(4).select("embedding").collect()
      .map(_.getSeq[Float](0)).toSeq
    for ((name, factory) <- Seq("cs_flat" -> "IVF4,Flat", "cs_sq" -> "IVF4,SQ8",
        "cs_pq" -> "IVF4,PQ4")) {
      Ann.buildIndexFactory(emb, "embedding", "vec_id", name, factory,
        Ann.BuildParams(seedK = 4, nprobe = 2))
      val dir = IndexCatalog.indexDir(Ann.root(spark), name)
      val cents = IndexCatalog.readCentroids(s"$dir/centroids.bin")
      assert(cents.map(_.toSeq).toSeq == want, factory)
      val meta = IndexCatalog.load(Ann.root(spark), name)
      val stored = spark.read.parquet(meta.sourcePath)
      if (factory.endsWith("Flat"))
        stored.select("vec", "cluster").collect().foreach { r =>
          assert(r.getInt(1) == KMeansLite.nearest(cents, r.getSeq[Float](0).toArray), factory)
        }
      assert(stored.select("cluster").distinct().count() == 4, factory)
    }
  }
}
