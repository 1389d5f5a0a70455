package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.core.RouteParity
import graft.index.{Ann, IndexCatalog, ShardCache}

class StreamingIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.ann.root", s"/tmp/graft-stream-indexes-${System.nanoTime()}")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // 31 is invertible mod 97 and all ids < 97, so every id gets a distinct vector
  private def vec(seedId: Long): Array[Float] =
    Array.tabulate(8)(d => ((seedId * 31 + d * 7) % 97).toFloat / 97f)

  test("micro-batches append delta shards; compaction bounds shard count") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val name = "stream_ix"
    val ckpt = s"/tmp/graft-stream-ckpt-${System.nanoTime()}"
    val ms = MemoryStream[(Long, Array[Float])]
    val q = StreamingIndex.maintain(
      ms.toDF().toDF("id", "vec"), "vec", "id", name, ckpt,
      Ann.BuildParams(engine = "diskann", numShards = 1, maxDegree = 16,
        buildComplexity = 32),
      compactAt = 3)
    try {
      // batch 1 creates the index
      ms.addData((0L until 20L).map(i => (i, vec(i))): _*)
      q.processAllAvailable()
      val r = Ann.root(spark)
      assert(IndexCatalog.exists(r, name))
      assert(IndexCatalog.load(r, name).numVectors == 20)

      // batches 2..3 append deltas
      ms.addData((20L until 30L).map(i => (i, vec(i))): _*)
      q.processAllAvailable()
      ms.addData((30L until 40L).map(i => (i, vec(i))): _*)
      q.processAllAvailable()
      val m3 = IndexCatalog.load(r, name)
      assert(m3.numVectors == 40)
      assert(m3.shards.size == 3)

      // a new row is immediately searchable
      import org.apache.spark.sql.functions.col
      val base = (0L until 40L).map(i => (i, vec(i))).toDF("id", "vec")
      val hits = Ann.search(base, "id", name, vec(35L), 1, searchComplexity = 64)
        .collect()
      assert(hits.head.getLong(0) == 35L, "exact vector should be its own top-1")

      // batch 4 trips compactAt=3 → compaction back to 1 shard, same data
      ms.addData((40L until 50L).map(i => (i, vec(i))): _*)
      q.processAllAvailable()
      val m4 = IndexCatalog.load(r, name)
      assert(m4.numVectors == 50, s"expected 50 vectors, got ${m4.numVectors}")
      assert(m4.shards.size == 1, s"expected compaction to 1 shard, got ${m4.shards.size}")
      val base5 = (0L until 50L).map(i => (i, vec(i))).toDF("id", "vec")
      val hit2 = Ann.search(base5, "id", name, vec(42L), 1, searchComplexity = 64)
        .collect()
      assert(hit2.head.getLong(0) == 42L)
    } finally q.stop()
  }

  test("a large append batch splits into multiple parallel delta shards") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val name = "par_append_ix"
    val base = (0L until 30L).map(i => (i, vec(i))).toDF("id", "vec")
    Ann.buildIndex(base, "vec", "id", name,
      Ann.BuildParams(engine = "diskann", numShards = 1, maxDegree = 16,
        buildComplexity = 32))
    // the distributed route with tiny delta shards, so the 40-row batch
    // splits into >1
    spark.conf.set("spark.graft.localMaxBytes", "0")
    try {
      val batch = (30L until 70L).map(i => (i, vec(i))).toDF("id", "vec")
      Ann.append(batch, "vec", "id", name, splitRows = 16)
      val m = IndexCatalog.load(Ann.root(spark), name)
      assert(m.numVectors == 70)
      assert(m.shards.size > 2,
        s"40-row batch at splitRows=16 should emit >1 delta shard " +
        s"(got ${m.shards.size - 1})")
      // every appended row is searchable regardless of which delta holds it
      val all = (0L until 70L).map(i => (i, vec(i))).toDF("id", "vec")
      for (probe <- Seq(31L, 45L, 69L)) {
        val hit = Ann.search(all, "id", name, vec(probe), 1, searchComplexity = 64)
          .collect()
        assert(hit.head.getLong(0) == probe, s"probe $probe not found")
      }
    } finally spark.conf.unset("spark.graft.localMaxBytes")
  }

  test("below the gate a LocalRelation append and a compaction start no Spark job") {
    import spark.implicits._
    val name = "job_free_ix"
    val params = Ann.BuildParams(engine = "diskann", numShards = 1, maxDegree = 16,
      buildComplexity = 32)
    Ann.buildIndex((0L until 200L).map(i => (i, vec(i))).toDF("id", "vec"), "vec", "id",
      name, params)
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.write.test") != null)
          jobs.incrementAndGet()
    }
    /** Jobs started by two 16-row appends, the second of which compacts. */
    def jobsOf(from: Long): Int = {
      val batches = Seq(from, from + 16).map(f => (f until f + 16).map(i => (i, vec(i)))
        .toDF("id", "vec"))
      Ann.delete(spark, name, Seq(from - 1))
      jobs.set(0)
      sc.setLocalProperty("graft.write.test", "1")
      try batches.foreach(StreamingIndex.appendBatch(_, "vec", "id", name, params, compactAt = 2))
      finally sc.setLocalProperty("graft.write.test", null)
      RouteParity.routed(spark)(()) // drains the listener bus
      val m = IndexCatalog.load(Ann.root(spark), name)
      assert(m.shards.size == 1 && m.numVectors == from + 32 - 1 - (from - 200) / 32, m)
      jobs.get
    }
    sc.addSparkListener(counter)
    try {
      assert(jobsOf(200) == 0, "driver-local appends and compaction launched Spark jobs")
      spark.conf.set("spark.graft.localMaxBytes", "0")
      try assert(jobsOf(232) > 0, "distributed appends and compaction launched no job")
      finally spark.conf.unset("spark.graft.localMaxBytes")
    } finally sc.removeSparkListener(counter)
  }

  test("compactions and a drop forget the cache entries of the shards they delete") {
    import spark.implicits._
    val name = "cache_ix"
    Ann.buildIndex((0L until 60L).map(i => (i, vec(i))).toDF("id", "vec"), "vec", "id", name,
      Ann.BuildParams(engine = "diskann", numShards = 1, maxDegree = 16, buildComplexity = 32))
    val r = Ann.root(spark)
    val under = IndexCatalog.indexDir(r, name) + "/"
    def cached: Set[String] = ShardCache.cachedPaths.filter(_.startsWith(under))
    def live: Set[String] = IndexCatalog.load(r, name).shards.map(_.file).toSet
    def search(): Unit = Ann.collectHits(spark, name, vec(1), 1, 64, 1)
    for (round <- 0 until 3) {
      val from = 60L + 10 * round
      Ann.append((from until from + 10).map(i => (i, vec(i))).toDF("id", "vec"), "vec",
        "id", name)
      Ann.delete(spark, name, Seq(from - 1))
      search()
      assert(cached == live && live.size == 2, s"round $round before compaction")
      StreamingIndex.compact(spark, name, 1)
      search()
      assert(cached == live && live.size == 1, s"round $round after compaction")
    }
    Ann.drop(spark, name)
    assert(cached.isEmpty)
  }
}
