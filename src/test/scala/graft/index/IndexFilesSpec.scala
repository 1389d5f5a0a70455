package graft.index

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Index files on disk and in memory: every decoded index file (graph
 *  shards, `centroids.bin`, `coarse.hnsw`, `pca.bin`) has one [[ShardCache]]
 *  entry per live path, forgotten when a drop deletes it and replaced when
 *  a rebuild rewrites it; `metadata.json` names the files under its
 *  directory relative to it, so an index directory answers the same
 *  searches under another root. */
class IndexFilesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("graft-index-files")

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.ann.root", s"$work/serve")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = IndexCatalog.deleteTree(work.toString)

  private lazy val emb: DataFrame = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val queries: Seq[Array[Float]] = emb.orderBy("vec_id").limit(3)
    .select("embedding").collect().map(_.getSeq[Float](0).toArray).toSeq

  private def dirOf(name: String): String = IndexCatalog.indexDir(Ann.root(spark), name)

  /** The cached paths under `name`'s directory. */
  private def cached(name: String): Set[String] =
    ShardCache.cachedPaths.filter(_.startsWith(dirOf(name) + "/"))

  test("one cache entry per live index file: dropped with the index, replaced on rewrite") {
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "fc_ivfh", "IVF16_HNSW8,Flat",
      Ann.BuildParams(nprobe = 4))
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "fc_pca", "PCA16,Flat")
    def serve(): Unit = {
      assert(Ann.searchHits(spark, "fc_ivfh", queries.head, 10).collect().length == 10)
      assert(Ann.searchBatch(emb, "vec_id", "fc_ivfh", queries, 10).collect().length == 30)
      assert(Ann.searchHits(spark, "fc_pca", queries.head, 10).collect().length == 10)
    }
    val coarse = Set("centroids.bin", "coarse.hnsw").map(f => s"${dirOf("fc_ivfh")}/$f")
    val pca = Set(s"${dirOf("fc_pca")}/pca.bin")
    serve()
    assert(cached("fc_ivfh") == coarse && cached("fc_pca") == pca, ShardCache.cachedPaths)

    Ann.delete(spark, "fc_ivfh", Seq(1L, 2L))
    Ann.delete(spark, "fc_pca", Seq(1L, 2L))
    Ann.vacuum(spark, "fc_ivfh")
    Ann.vacuum(spark, "fc_pca")
    serve()
    assert(cached("fc_ivfh") == coarse && cached("fc_pca") == pca, ShardCache.cachedPaths)

    Ann.buildIndexFactory(emb, "embedding", "vec_id", "fc_ivfh", "IVF16_HNSW8,Flat",
      Ann.BuildParams(nprobe = 4))
    Ann.buildIndexFactory(emb.withColumn("embedding", reverse(col("embedding"))),
      "embedding", "vec_id", "fc_pca", "PCA16,Flat")
    serve()
    assert(cached("fc_ivfh") == coarse && cached("fc_pca") == pca, ShardCache.cachedPaths)

    Ann.drop(spark, "fc_ivfh")
    Ann.drop(spark, "fc_pca")
    assert(cached("fc_ivfh").isEmpty && cached("fc_pca").isEmpty, ShardCache.cachedPaths)
  }

  test("one centroid-table decode per generation on the distributed route; rebuilds answer from the new table") {
    val five = emb.orderBy("vec_id").limit(5).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray).toSeq
    def hits(name: String): Seq[Seq[(Long, Float)]] = five.map(q =>
      Ann.searchHits(spark, name, q, 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq)
    spark.conf.set("spark.graft.localMaxBytes", "0")
    try for ((name, factory, rebuilt) <- Seq(
        ("fc_ivfhnsw", "IVF16_HNSW8,Flat", "IVF8_HNSW8,Flat"),
        ("fc_imipq", "IMI2x2,PQ4", "IMI2x1,PQ4"),
        ("fc_ivfsq", "IVF16,SQ8", "IVF8,SQ8"))) {
      Ann.buildIndexFactory(emb, "embedding", "vec_id", name, factory, Ann.BuildParams(nprobe = 2))
      val files = (Seq("centroids.bin") ++ (if (factory.contains("HNSW")) Seq("coarse.hnsw") else Nil))
        .map(f => s"${dirOf(name)}/$f").toSet
      ShardCache.forget(files)
      val loads0 = ShardCache.loads
      assert(hits(name).forall(_.length == 10), factory)
      assert(Ann.searchBatch(emb, "vec_id", name, five, 10).collect().length == 50, factory)
      Ann.rangeSearch(emb, "vec_id", name, five.head, 20f).collect()
      // one decode of each coarse file for all seven calls, driver and tasks
      assert(ShardCache.loads - loads0 == files.size && cached(name) == files,
        s"$factory: ${ShardCache.loads - loads0} decodes, ${cached(name)}")

      Ann.buildIndexFactory(emb, "embedding", "vec_id", name, rebuilt, Ann.BuildParams(nprobe = 2))
      Ann.buildIndexFactory(emb, "embedding", "vec_id", s"${name}_ref", rebuilt,
        Ann.BuildParams(nprobe = 2))
      assert(hits(name) == hits(s"${name}_ref"), rebuilt)
      val nlist = IndexCatalog.load(Ann.root(spark), name).nlist
      assert(nlist < 16 &&
        IndexCatalog.readCentroids(s"${dirOf(name)}/centroids.bin").length == nlist, rebuilt)
      Ann.drop(spark, name)
      assert(cached(name).isEmpty, ShardCache.cachedPaths)
    } finally spark.conf.unset("spark.graft.localMaxBytes")
  }

  private val names = Seq("p_graph", "p_ivf", "p_pca")

  /** `body` with the index root at `root`. */
  private def under[A](root: Path)(body: => A): A = {
    val prev = spark.conf.get("spark.graft.ann.root")
    spark.conf.set("spark.graft.ann.root", root.toString)
    try body finally spark.conf.set("spark.graft.ann.root", prev)
  }

  /** A two-shard graph index, an ivfflat index and a `PCA16,Flat` index. */
  private def buildAll(root: Path): Unit = under(root) {
    Ann.buildIndex(emb, "embedding", "vec_id", "p_graph", Ann.BuildParams(engine = "diskann",
      numShards = 2, maxDegree = 16, buildComplexity = 32))
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "p_ivf", "IVF8,Flat",
      Ann.BuildParams(nprobe = 2))
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "p_pca", "PCA16,Flat")
  }

  private def metadata(root: Path, name: String): String =
    Files.readString(root.resolve(name).resolve("metadata.json"))

  private def answers(root: Path): Seq[Seq[(Long, Float)]] = under(root) {
    for (name <- names; q <- queries)
      yield Ann.searchHits(spark, name, q, 10).collect().map(r => (r.getLong(0), r.getFloat(1)))
        .toSeq
  }

  test("the same build under two roots writes byte-identical metadata.json") {
    val (a, b) = (work.resolve("root-a"), work.resolve("other/root-b"))
    buildAll(a)
    buildAll(b)
    for (name <- names) {
      assert(metadata(a, name) == metadata(b, name), name)
      val meta = under(b)(IndexCatalog.load(b.toString, name))
      val files = meta.shards.flatMap(sh => Seq(sh.file, sh.idsFile)) ++
        Seq(meta.sourcePath, meta.pcaFile).filter(_.nonEmpty)
      assert(files.nonEmpty && files.forall(_.startsWith(s"$b/$name/")), files)
    }
  }

  test("an index directory copied to another root answers the same searches there") {
    val (from, to) = (work.resolve("copy-from"), work.resolve("copy-to"))
    buildAll(from)
    under(from)(Ann.delete(spark, "p_graph", Seq(0L, 3L, 7L)))
    assert(IndexCatalog.load(from.toString, "p_graph").shards.size == 2)
    val want = answers(from)
    assert(want.forall(_.size == 10) && !want.head.exists(h => Set(0L, 3L, 7L)(h._1)))
    Files.walk(from).forEach { p =>
      val t = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
    IndexCatalog.deleteTree(from.toString)
    assert(answers(to) == want)
  }

  test("an index sharing another's data keeps that path under a relative root") {
    val root = work.resolve("shared")
    under(root)(Ann.buildIndexFactory(emb, "embedding", "vec_id", "p_src", "IVF8,Flat",
      Ann.BuildParams(nprobe = 2)))
    val rel = Paths.get("").toAbsolutePath.relativize(root).toString
    val src = IndexCatalog.load(rel, "p_src")
    IndexCatalog.save(rel, src.copy(name = "p_clone", nprobe = 8))
    val clone = IndexCatalog.load(rel, "p_clone")
    val data = (p: String) => Paths.get(p).toAbsolutePath.normalize
    assert(data(clone.sourcePath) == data(src.sourcePath) &&
      Files.isDirectory(data(clone.sourcePath)), clone.sourcePath)
    // earlier builds stored the path as given, relative to the working directory
    val json = root.resolve("p_clone").resolve("metadata.json")
    Files.writeString(json, Files.readString(json).replace(
      s"\"${data(src.sourcePath)}\"", s"\"$rel/p_src/data\""))
    assert(IndexCatalog.load(rel, "p_clone").sourcePath == s"$rel/p_src/data")
  }

  test("metadata.json with absolute paths, as earlier builds wrote it, still loads") {
    val root = work.resolve("legacy")
    under(root)(Ann.buildIndex(emb, "embedding", "vec_id", "p_legacy",
      Ann.BuildParams(engine = "diskann", numShards = 2, maxDegree = 16, buildComplexity = 32)))
    val dir = s"$root/p_legacy"
    val json = Paths.get(dir, "metadata.json")
    val text = new String(Files.readAllBytes(json), "UTF-8")
    val absolute = text.replaceAll("\"(shard-[^\"]+)\"", "\"" + dir + "/$1\"")
    assert(absolute != text)
    Files.write(json, absolute.getBytes("UTF-8"))
    val meta = IndexCatalog.load(root.toString, "p_legacy")
    assert(meta.shards.forall(sh => sh.file.startsWith(s"$dir/") &&
      sh.idsFile.startsWith(s"$dir/") && new java.io.File(sh.file).isFile), meta.shards)
    assert(under(root)(Ann.searchHits(spark, "p_legacy", queries.head, 5).collect()).length == 5)
  }
}
