package graft.index

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Route, RouteParity}
import graft.streaming.StreamingIndex

/** Pins the engine abstraction's contracts: unknown engines fail at the
 *  factory, graph vacuum and compaction publish before they delete on both
 *  routes, the distributed graph route answers like the driver-local one,
 *  and IMI appends assign cells exactly like the build. */
class AnnEngineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.graft.ann.root", s"/tmp/graft-test-engine-${System.nanoTime()}")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("ERROR") }

  /** 500 deterministic 64-d vectors around 8 centres (ids 0..499). */
  private lazy val all: Array[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(7)
    val centres = Array.fill(8, 64)(rnd.nextGaussian().toFloat * 4f)
    Array.tabulate(500)(i =>
      (i.toLong, centres(i % 8).map(_ + rnd.nextGaussian().toFloat)))
  }
  lazy val emb: DataFrame = {
    import spark.implicits._
    all.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
  }

  private def hits(name: String, q: Array[Float], k: Int): Seq[(Long, Float)] =
    Ann.searchHits(spark, name, q, k, searchComplexity = 64).collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq

  test("unknown engine: search and append fail at the factory with one error") {
    Ann.buildIndex(emb, "embedding", "vec_id", "e_bogus",
      Ann.BuildParams(engine = "flat"))
    val r = Ann.root(spark)
    IndexCatalog.save(r, IndexCatalog.load(r, "e_bogus").copy(engine = "bogus"))
    def check(e: IllegalArgumentException): Unit = {
      val msg = e.getMessage
      assert(msg.contains("e_bogus") && msg.contains("bogus"), msg)
      AnnEngine.known.foreach(k => assert(msg.contains(k.name), msg))
    }
    check(intercept[IllegalArgumentException](hits("e_bogus", all(0)._2, 5)))
    check(intercept[IllegalArgumentException](
      Ann.append(emb.limit(3), "embedding", "vec_id", "e_bogus")))
  }

  /** `body` with the gate at `gate` (None: the default). */
  private def gated[A](gate: Option[String])(body: => A): A = {
    gate.foreach(spark.conf.set("spark.graft.localMaxBytes", _))
    try body finally spark.conf.unset("spark.graft.localMaxBytes")
  }

  /** The graph rewrites: vacuum, and a compaction to one shard. */
  private lazy val rewrites: Seq[(String, String => Unit)] = Seq(
    "vacuum" -> (name => Ann.vacuum(spark, name)),
    "compact" -> (name => StreamingIndex.compact(spark, name, 1)))

  test("graph vacuum publishes the new generation before deleting the old") {
    // vacuum and compaction to one shard, each on the driver route (one
    // shard within the gate) and forced distributed (two shards, gate 0)
    for ((op, rewrite) <- rewrites; (gate, shards) <- Seq(None -> 1, Some("0") -> 2)) {
      val name = s"e_vac_${op}_$shards"
      val at = s"$op over $shards shard(s), gate ${gate.getOrElse("default")}"
      Ann.buildIndex(emb, "embedding", "vec_id", name,
        Ann.BuildParams(engine = "diskann", numShards = shards))
      val deleted = all.take(20).map(_._1).toSeq
      Ann.delete(spark, name, deleted)
      val r = Ann.root(spark)
      val before = IndexCatalog.load(r, name)
      assert(before.shards.size == shards, at)
      // a directory where save() writes its temp file makes the publish fail
      val blocker = new File(s"${IndexCatalog.indexDir(r, name)}/metadata.json.tmp")
      assert(blocker.mkdirs())
      val (_, routes) = RouteParity.routed(spark)(
        intercept[Exception](gated(gate)(rewrite(name))))
      assert(routes.filter(_.op == "ann.write").map(_.route) ==
        Seq(if (gate.isEmpty) Route.Local else Route.Distributed), s"$at: $routes")
      assert(IndexCatalog.load(r, name) == before, at)
      before.shards.foreach { sh =>
        assert(new File(sh.file).isFile && new File(sh.idsFile).isFile, s"$at: $sh")
      }
      assert(IndexCatalog.readTombstones(r, name) == deleted.toSet, at)
      def found = gated(gate)(all.take(20).flatMap { case (_, v) => hits(name, v, 10) }).map(_._1)
      assert(found.nonEmpty && !found.exists(deleted.contains), at)
      assert(blocker.delete())
      gated(gate)(rewrite(name))
      val done = IndexCatalog.load(r, name)
      assert(done.numDeleted == 0 && done.numVectors == all.length - deleted.size, at)
      assert(IndexCatalog.readTombstones(r, name).isEmpty, at)
      before.shards.foreach(sh => assert(!new File(sh.file).exists, s"$at: $sh"))
      assert(found.nonEmpty && !found.exists(deleted.contains), at)
    }
  }

  test("a rewrite of an index whose every row is deleted leaves zero shards") {
    import spark.implicits._
    val rows = all.take(40)
    for ((op, rewrite) <- rewrites; gate <- Seq(None, Some("0"))) {
      val name = s"e_empty_${op}_${gate.isDefined}"
      val at = s"$op, gate ${gate.getOrElse("default")}"
      Ann.buildIndex(emb.where(col("vec_id") < rows.length), "embedding", "vec_id", name,
        Ann.BuildParams(engine = "diskann", numShards = 1))
      Ann.delete(spark, name, rows.map(_._1).toSeq)
      gated(gate)(rewrite(name))
      val meta = IndexCatalog.load(Ann.root(spark), name)
      assert(meta.shards.isEmpty && meta.numVectors == 0 && meta.numDeleted == 0, s"$at: $meta")
      assert(gated(gate)(hits(name, rows(0)._2, 5)).isEmpty, at)
      // and it takes a later append
      gated(gate)(Ann.append(rows.take(3).toSeq.map { case (id, v) => (id, v.toSeq) }
        .toDF("vec_id", "embedding"), "embedding", "vec_id", name))
      assert(gated(gate)(hits(name, rows(1)._2, 1)) == Seq((1L, 0f)), at)
    }
  }

  test("localMaxBytes=0 (distributed graph job) == driver-local search") {
    for (engine <- Seq("diskann", "hnsw")) {
      val name = s"e_route_$engine"
      Ann.buildIndex(emb, "embedding", "vec_id", name,
        Ann.BuildParams(engine = engine, numShards = 3))
      assert(IndexCatalog.load(Ann.root(spark), name).shards.size >= 3)
      Ann.delete(spark, name, all.indices.filter(_ % 7 == 0).map(all(_)._1))
      val queries = all.indices.filter(_ % 25 == 1).map(all(_)._2)
      val local = queries.map(q => hits(name, q, 10))
      spark.conf.set("spark.graft.localMaxBytes", "0")
      try {
        val distributed = queries.map(q => hits(name, q, 10))
        assert(distributed == local, engine)
      } finally spark.conf.unset("spark.graft.localMaxBytes")
    }
  }

  test("IMI append assigns each copied row the cell of its original") {
    import spark.implicits._
    for ((factory, i) <- Seq("IMI2x4,Flat", "IMI2x4,PQ8").zipWithIndex) {
      val name = s"e_imi_$i"
      val meta = Ann.buildIndexFactory(emb, "embedding", "vec_id", name, factory)
      assert(meta.imiB == 4 && meta.nlist == 256, factory)
      val offset = 1000000L
      val copies = all.take(200).map { case (id, v) => (id + offset, v.toSeq) }.toSeq
        .toDF("vec_id", "embedding")
      Ann.append(copies, "embedding", "vec_id", name)
      val cell = spark.read.parquet(meta.sourcePath).select("id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      all.take(200).foreach { case (id, _) =>
        assert(cell(id + offset) == cell(id), s"$factory: copy of $id")
      }
    }
  }
}
