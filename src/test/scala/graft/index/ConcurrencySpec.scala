package graft.index

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, Future, ExecutionContext}
import scala.concurrent.duration._

/** Serving-path thread safety: many concurrent searches against the same
 *  cached shards (graph search must be per-call-scratch, read-only). */
class ConcurrencySpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.ann.root", s"/tmp/graft-conc-indexes-${System.nanoTime()}")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("64 concurrent searches on shared mmap-served shards give identical results") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Ann.buildIndex(emb, "embedding", "vec_id", "conc_mmap",
      Ann.BuildParams(engine = "diskann", numShards = 3))
    val meta = IndexCatalog.load(Ann.root(spark), "conc_mmap")
    System.setProperty("graft.ann.mmapThreshold", "0") // force mmap serving
    try {
      ShardCache.invalidate()
      val queries = (0 until 8).map(qi =>
        (0 until 64).map(d => ((qi * 7 + d) % 13) / 13.0f).toArray)
      val expected = queries.map(q =>
        Ann.collectHits(spark, meta, Set.empty, q, 10, 64, 1).toSeq)
      implicit val ec: ExecutionContext = ExecutionContext.global
      // one shared mmap per shard, many cursors: races would corrupt results
      val futures = (0 until 64).map { i =>
        Future {
          val q = queries(i % queries.length)
          i % queries.length -> Ann.collectHits(spark, meta, Set.empty, q, 10, 64, 1).toSeq
        }
      }
      val results = Await.result(Future.sequence(futures), 120.seconds)
      results.foreach { case (qi, got) =>
        assert(got == expected(qi), s"mmap: concurrent result diverged for query $qi")
      }
    } finally {
      System.clearProperty("graft.ann.mmapThreshold")
      ShardCache.invalidate()
    }
  }

  test("64 concurrent searches on shared cached shards give identical results") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for (engine <- Seq("diskann", "hnsw")) {
      Ann.buildIndex(emb, "embedding", "vec_id", s"conc_$engine",
        Ann.BuildParams(engine = engine, numShards = 3))
      val meta = IndexCatalog.load(Ann.root(spark), s"conc_$engine")
      val queries = (0 until 8).map(qi =>
        (0 until 64).map(d => ((qi * 13 + d) % 11) / 11.0f).toArray)
      // reference answers, computed single-threaded
      val expected = queries.map(q =>
        Ann.collectHits(spark, meta, Set.empty, q, 10, 64, 1).toSeq)
      implicit val ec: ExecutionContext = ExecutionContext.global
      val futures = (0 until 64).map { i =>
        Future {
          val q = queries(i % queries.length)
          i % queries.length -> Ann.collectHits(spark, meta, Set.empty, q, 10, 64, 1).toSeq
        }
      }
      val results = Await.result(Future.sequence(futures), 120.seconds)
      results.foreach { case (qi, got) =>
        assert(got == expected(qi), s"$engine: concurrent result diverged for query $qi")
      }
    }
  }
}
