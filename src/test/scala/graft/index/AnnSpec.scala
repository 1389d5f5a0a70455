package graft.index

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Metric, VectorOps}

class AnnSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.graft.ann.root", s"/tmp/graft-test-indexes-${System.nanoTime()}")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("ERROR") }

  private val sf = "/root/testdata/sf0.001"
  lazy val emb: DataFrame = spark.read.parquet(s"$sf/embeddings.parquet")

  private def bruteTop(k: Int, q: Array[Float]): Seq[Long] = {
    import graft.functions._
    emb.select(col("vec_id"),
        array_distance_sq(toFloatVec(col("embedding")), floatVec(q.toSeq)).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(k)
      .collect().map(_.getLong(0)).toSeq
  }

  private lazy val q0: Array[Float] = {
    val r = emb.orderBy("vec_id").limit(1).collect()(0)
    r.getSeq[Float](r.fieldIndex("embedding")).toArray
  }

  test("distance expressions: interpreted == codegen == expected") {
    import graft.functions._
    val df = spark.sql("SELECT array(1.0f, 0.0f, 0.0f) a, array(0.0f, 1.0f, 0.0f) b")
    val row = df.select(
      array_distance(col("a"), col("b")),
      array_distance_sq(col("a"), col("b")),
      array_inner_product(col("a"), col("b")),
      array_cosine_similarity(col("a"), col("b"))).collect()(0)
    assert(math.abs(row.getDouble(0) - math.sqrt(2)) < 1e-12)
    assert(row.getDouble(1) == 2.0)
    assert(row.getDouble(2) == 0.0)
    assert(row.getDouble(3) == 0.0)
  }

  test("SQL registration works") {
    graft.functions.registerAll(spark)
    val r = spark.sql(
      "SELECT list_distance(array(3.0f, 0.0f), array(0.0f, 4.0f)) d").collect()(0)
    assert(r.getDouble(0) == 5.0)
  }

  test("flat index = exact brute force") {
    Ann.buildIndex(emb, "embedding", "vec_id", "t_flat",
      Ann.BuildParams(engine = "flat"))
    val got = Ann.search(emb, "vec_id", "t_flat", q0, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == bruteTop(10, q0))
  }

  test("rangeSearch: flat == brute-force radius filter; graph ⊆ exact, high recall") {
    import graft.functions._
    // radius at the brute-force 20th-NN distance → ~20 expected rows
    val d20 = emb.select(
        array_distance_sq(toFloatVec(col("embedding")), floatVec(q0.toSeq)).as("d"))
      .orderBy("d").limit(20).collect().map(_.getDouble(0)).last.toFloat
    val expect = emb.select(col("vec_id"),
        array_distance_sq(toFloatVec(col("embedding")), floatVec(q0.toSeq)).as("d"))
      .where(col("d") <= d20.toDouble)
      .collect().map(_.getLong(0)).toSet

    Ann.buildIndex(emb, "embedding", "vec_id", "t_range_flat",
      Ann.BuildParams(engine = "flat"))
    val gotFlat = Ann.rangeSearch(emb, "vec_id", "t_range_flat", q0, d20)
      .collect().map(_.getLong(0))
    assert(gotFlat.toSet == expect, "flat range-search must be exact")
    assert(gotFlat.length == expect.size, "no duplicate rows")

    // ivfflat with nprobe=1: the top-k path would approximate, but range
    // search prunes by stored cluster radii (triangle inequality) → exact
    Ann.buildIndex(emb, "embedding", "vec_id", "t_range_ivf",
      Ann.BuildParams(engine = "ivfflat", nlist = 8, nprobe = 1))
    val gotIvf = Ann.rangeSearch(emb, "vec_id", "t_range_ivf", q0, d20)
      .collect().map(_.getLong(0))
    assert(gotIvf.toSet == expect, "ivf radius pruning must stay exact")

    Ann.buildIndex(emb, "embedding", "vec_id", "t_range_g",
      Ann.BuildParams(engine = "diskann", numShards = 2, maxDegree = 32,
        buildComplexity = 64))
    val gotG = Ann.rangeSearch(emb, "vec_id", "t_range_g", q0, d20,
      searchComplexity = 100).collect().map(_.getLong(0)).toSet
    // graph distances are f32; allow last-ulp wobble at the radius boundary
    val dmap = emb.select(col("vec_id"),
        array_distance_sq(toFloatVec(col("embedding")), floatVec(q0.toSeq)).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gotG.forall(id => dmap(id) <= d20 * (1.0 + 1e-6)),
      "graph range hits must honor the radius")
    assert(gotG.size >= (expect.size * 9) / 10, s"recall ${gotG.size}/${expect.size}")
  }

  test("graph rangeSearch expanding-k: wide radius forces expansion, recall holds") {
    import graft.functions._
    // radius at the 300th-NN distance (of 500 rows): the initial k=64 pass
    // cannot cover it, so the loop must expand 64 → 256 → 1024 and then
    // stop on the exhaustion branch (hits < k). Termination + completeness
    // per the rangeSearch scaladoc contract.
    val d300 = emb.select(
        array_distance_sq(toFloatVec(col("embedding")), floatVec(q0.toSeq)).as("d"))
      .orderBy("d").limit(300).collect().map(_.getDouble(0)).last.toFloat
    val expect = emb.select(col("vec_id"),
        array_distance_sq(toFloatVec(col("embedding")), floatVec(q0.toSeq)).as("d"))
      .where(col("d") <= d300.toDouble)
      .collect().map(_.getLong(0)).toSet
    assert(expect.size >= 300)
    Ann.buildIndex(emb, "embedding", "vec_id", "t_range_wide",
      Ann.BuildParams(engine = "diskann", numShards = 2, maxDegree = 32,
        buildComplexity = 64))
    val got = Ann.rangeSearch(emb, "vec_id", "t_range_wide", q0, d300,
      searchComplexity = 100).collect().map(_.getLong(0)).toSet
    val dmap = emb.select(col("vec_id"),
        array_distance_sq(toFloatVec(col("embedding")), floatVec(q0.toSeq)).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.forall(id => dmap(id) <= d300 * (1.0 + 1e-6)),
      "hits must honor the radius")
    assert(got.size >= (expect.size * 9) / 10,
      s"recall ${got.size}/${expect.size} after expansion")
  }

  test("rangeSearchTable: flat == per-query brute filter; ivf pruning identical") {
    import graft.functions._
    val queries = emb.where(col("vec_id") < 3).select(col("vec_id"), col("embedding"))
    Ann.buildIndex(emb, "embedding", "vec_id", "t_rt_flat",
      Ann.BuildParams(engine = "flat"))
    def rows(idx: String) = Ann.rangeSearchTable(queries, "embedding", emb,
        "vec_id", idx, 1.5f)
      .select(col("vec_id"), col("tbl_vec_id"), col("_distance"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getFloat(2))).toSet
    val gotFlat = rows("t_rt_flat")

    // brute-force expectation per query
    val qs = queries.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).toArray)
    val expect = qs.flatMap { case (qid, q) =>
      emb.select(col("vec_id"),
          array_distance_sq(toFloatVec(col("embedding")), floatVec(q.toSeq)).as("d"))
        .where(col("d") <= 1.5)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1).toFloat))
    }.toSet
    assert(gotFlat == expect)

    Ann.buildIndex(emb, "embedding", "vec_id", "t_rt_ivf",
      Ann.BuildParams(engine = "ivfflat", nlist = 8, nprobe = 1))
    assert(rows("t_rt_ivf") == expect, "ivf cluster-radius pruning must stay exact")
  }

  test("diskann index: recall >= 0.9 over sf0.001 embeddings") {
    Ann.buildIndex(emb, "embedding", "vec_id", "t_disk",
      Ann.BuildParams(engine = "diskann", numShards = 2, maxDegree = 32,
        buildComplexity = 64))
    val truth = bruteTop(10, q0).toSet
    val got = Ann.search(emb, "vec_id", "t_disk", q0, 10, searchComplexity = 100)
      .collect().map(_.getLong(0))
    assert(got.length == 10)
    assert(got.count(truth) >= 9, s"recall ${got.count(truth)}/10")
  }

  test("search returns base columns + _distance ordered") {
    val res = Ann.search(emb, "vec_id", "t_flat", q0, 5)
    assert(res.columns.toSeq == Seq("vec_id", "embedding", "label", "_distance"))
    val d = res.collect().map(_.getFloat(3)).toSeq
    assert(d == d.sorted)
    assert(d.head == 0.0f) // q0 is row 0's own vector
  }

  test("oversample returns k*oversample rows") {
    val res = Ann.search(emb, "vec_id", "t_flat", q0, 2, oversample = 3)
    assert(res.count() == 6)
  }

  test("searchBatch: k rows per query, query_idx grouping") {
    val q1 = {
      val r = emb.orderBy(desc("vec_id")).limit(1).collect()(0)
      r.getSeq[Float](r.fieldIndex("embedding")).toArray
    }
    val res = Ann.searchBatch(emb, "vec_id", "t_disk", Seq(q0, q1), 3,
      searchComplexity = 100).collect()
    assert(res.length == 6)
    val byQ = res.groupBy(_.getInt(res(0).fieldIndex("query_idx")))
    assert(byQ(0).length == 3 && byQ(1).length == 3)
  }

  test("searchBatch exact/pq: nq=512 in ONE broadcast plan, parity with per-query") {
    // exact/pq engines must not build one sub-plan per query (nq-way union =
    // driver plan explosion); the batch routes through the broadcast gemm
    // plan, so the logical plan has no Union regardless of nq
    val all = emb.orderBy("vec_id").collect()
      .map(r => r.getSeq[Float](r.fieldIndex("embedding")).toArray)
    val qs = Array.tabulate(512)(i => all(i % all.length)).toSeq
    Ann.buildIndex(emb, "embedding", "vec_id", "t_b512pq",
      Ann.BuildParams(engine = "pq", pqM = 4, trainSample = 200))
    Ann.buildIndex(emb, "embedding", "vec_id", "t_b512ivfpq",
      Ann.BuildParams(engine = "ivfpq", pqM = 4, nlist = 8, nprobe = 2,
        trainSample = 200))
    Ann.buildIndex(emb, "embedding", "vec_id", "t_b512opqr",
      Ann.BuildParams(engine = "pq", pqM = 4, opq = true, refine = true,
        trainSample = 200))
    for (ix <- Seq("t_flat", "t_b512pq", "t_b512ivfpq", "t_b512opqr")) {
      val res = Ann.searchBatch(emb, "vec_id", ix, qs, 3)
      assert(!res.queryExecution.optimizedPlan.toString.contains("Union"),
        s"$ix: batch plan must be a single broadcast plan, not a per-query union")
      // job count must be CONSTANT in nq (broadcast build + AQE stages of ONE
      // plan — a regression to per-query serving would launch ≥512)
      spark.sparkContext.setJobGroup(s"batch512-$ix", "nq=512 batch", false)
      val rows = try res.select(col("query_idx"), col("vec_id"), col("_distance")).collect()
        finally spark.sparkContext.clearJobGroup()
      val nJobs = spark.sparkContext.statusTracker
        .getJobIdsForGroup(s"batch512-$ix").length
      assert(nJobs > 0 && nJobs <= 12,
        s"$ix: nq=512 batch ran $nJobs jobs — per-query serving leaked back")
      assert(rows.length == 512 * 3, s"$ix: expected 512*3 rows, got ${rows.length}")
      val byQ = rows.groupBy(_.getInt(0))
      assert(byQ.size == 512 && byQ.values.forall(_.length == 3))
      // sampled parity vs the single-query serving path — BIT-exact for both
      // engines: flat ranks by the same double-precision expression both
      // ways, and the gemm plan scores pq by the same float ADC accumulation
      // the single-query codes scan uses, so ids AND distances must agree
      // even at float-ulp near-ties.
      for (qi <- Seq(0, 127, 499, 511)) {
        val single = Ann.search(emb, "vec_id", ix, qs(qi), 3)
          .select(col("vec_id"), col("_distance")).collect()
          .map(r => (r.getLong(0), r.getFloat(1))).toSeq
        val got = byQ(qi).map(r => (r.getLong(1), r.getFloat(2)))
          .sortBy { case (id, d) => (d, id) }.toSeq
        assert(got == single, s"$ix q$qi: $got != $single")
      }
    }
  }

  test("searchTable: input cols + base cols + _distance, collisions prefixed") {
    import spark.implicits._
    val queries = Seq((100L, q0.toSeq)).toDF("vec_id", "qvec") // vec_id collides
    val res = Ann.searchTable(queries, "qvec", emb, "vec_id", "t_disk", 4,
      searchComplexity = 100)
    assert(res.columns.contains("tbl_vec_id"))
    assert(res.columns.contains("vec_id")) // the query-input one
    assert(res.count() == 4)
  }

  test("searchTable grid: shards>1 x query-partitions>1 == per-query search") {
    import spark.implicits._
    // the (query-block x shard) grid must merge shard-local top-k into the
    // same global top-k the single-query serving path produces
    Ann.buildIndex(emb, "embedding", "vec_id", "t_grid",
      Ann.BuildParams(engine = "diskann", numShards = 3, maxDegree = 32,
        buildComplexity = 64))
    val qRows = emb.orderBy("vec_id").limit(6).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](r.fieldIndex("embedding"))))
    val queries = spark.createDataFrame(qRows.toSeq).toDF("qid", "qvec")
      .repartition(4) // query partitions > 1
    val res = Ann.searchTable(queries, "qvec", emb, "vec_id", "t_grid", 5,
      searchComplexity = 100)
      .select(col("qid"), col("vec_id"), col("_distance"))
      .collect().groupBy(_.getLong(0))
    qRows.foreach { case (qid, qvec) =>
      val expect = Ann.search(emb, "vec_id", "t_grid", qvec.toArray, 5,
          searchComplexity = 100)
        .select(col("vec_id"), col("_distance")).collect()
        .map(r => (r.getLong(0), r.getFloat(1))).toSeq
      val got = res(qid).map(r => (r.getLong(1), r.getFloat(2)))
        .sortBy { case (id, d) => (d, id) }.toSeq
      assert(got == expect, s"grid results differ for query $qid")
    }
  }

  test("delete tombstones exclude rows; vacuum compacts") {
    Ann.buildIndex(emb, "embedding", "vec_id", "t_del",
      Ann.BuildParams(engine = "diskann", numShards = 1))
    val before = Ann.search(emb, "vec_id", "t_del", q0, 3, searchComplexity = 100)
      .collect().map(_.getLong(0))
    Ann.delete(spark, "t_del", Seq(before.head))
    val after = Ann.search(emb, "vec_id", "t_del", q0, 3, searchComplexity = 100)
      .collect().map(_.getLong(0))
    assert(!after.contains(before.head))
    assert(after.length == 3)
    val meta = Ann.vacuum(spark, "t_del")
    assert(meta.numDeleted == 0 && meta.numVectors == 499)
    val afterVac = Ann.search(emb, "vec_id", "t_del", q0, 3, searchComplexity = 100)
      .collect().map(_.getLong(0))
    assert(!afterVac.contains(before.head))
  }

  test("append makes new rows searchable") {
    import spark.implicits._
    val newVec = Array.fill(64)(9.9f)
    val extra = Seq((10000L, newVec.toSeq)).toDF("vec_id", "embedding")
    Ann.append(extra, "embedding", "vec_id", "t_del")
    val got = Ann.search(emb.unionByName(extra.withColumn("label", lit(0))
        .select("vec_id", "embedding", "label")),
      "vec_id", "t_del", newVec, 1, searchComplexity = 100).collect()
    assert(got(0).getLong(0) == 10000L)
  }

  test("ivfflat with nprobe recalls well on clustered data") {
    Ann.buildIndex(emb, "embedding", "vec_id", "t_ivf",
      Ann.BuildParams(engine = "ivfflat", nlist = 8, nprobe = 3))
    val got = Ann.search(emb, "vec_id", "t_ivf", q0, 10).collect().map(_.getLong(0))
    val truth = bruteTop(10, q0).toSet
    assert(got.count(truth) >= 7, s"ivf recall ${got.count(truth)}/10")
  }

  test("probed-scan rebalance engages for in-memory query batches") {
    // The gate must count QUERIES, not plan bytes: ArrayType.defaultSize
    // prices a 64-float vector at 4 bytes, so a driver-built LocalRelation
    // of 200 queries sized like ~15 under the old bytes heuristic and the
    // hot-cell rebalance silently skipped (measured 45x task skew on the
    // clustered 1.5M corpus — popular central cells bin-packed into one
    // scan split). Large in-memory batch → RoundRobin exchange; a few-query
    // lookup keeps the direct cluster-pruned scan.
    Ann.buildIndex(emb, "embedding", "vec_id", "t_ivf_rb",
      Ann.BuildParams(engine = "ivfflat", nlist = 8, nprobe = 2))
    val prevLocal = spark.conf.getOption("spark.graft.localMaxBytes")
    spark.conf.set("spark.graft.localMaxBytes", "0")
    try {
      import spark.implicits._
      def qBatch(n: Int) = emb.orderBy("vec_id").limit(n)
        .select(col("vec_id").as("qid"),
          graft.functions.toFloatVec(col("embedding")).as("qv"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
        .toSeq.toDF("qid", "qv")
      def hasRoundRobin(n: Int): Boolean =
        Ann.searchTable(qBatch(n), "qv", emb, "vec_id", "t_ivf_rb", 5)
          .queryExecution.executedPlan.toString.toLowerCase
          .contains("roundrobin")
      assert(hasRoundRobin(64),
        "64-query LocalRelation batch must take the rebalanced scan")
      assert(!hasRoundRobin(8),
        "8-query lookup must keep the direct cluster-pruned scan")
    } finally {
      prevLocal match {
        case Some(v) => spark.conf.set("spark.graft.localMaxBytes", v)
        case None => spark.conf.unset("spark.graft.localMaxBytes")
      }
    }
  }

  test("merge: flat indexes merge exactly (FAISS IndexFlat merge_from analog)") {
    Ann.buildIndex(emb.where(col("vec_id") % 2 === 0), "embedding", "vec_id",
      "t_mfa", Ann.BuildParams(engine = "flat"))
    Ann.buildIndex(emb.where(col("vec_id") % 2 === 1), "embedding", "vec_id",
      "t_mfb", Ann.BuildParams(engine = "flat"))
    val m = Ann.merge(spark, "t_mfa", "t_mfb")
    assert(m.numVectors == emb.count())
    val got = Ann.search(emb, "vec_id", "t_mfa", q0, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == bruteTop(10, q0), "merged flat search must equal brute force")
    // mixed-engine merges stay rejected
    Ann.buildIndex(emb, "embedding", "vec_id", "t_mfg",
      Ann.BuildParams(engine = "diskann", numShards = 1))
    assertThrows[IllegalArgumentException](Ann.merge(spark, "t_mfa", "t_mfg"))
  }

  test("setNprobe: runtime probe width; nprobe=nlist makes IVF exact") {
    // FAISS's mutable index.nprobe analog: same built structure, widened
    // probe set at serve time (faiss_index.hpp:38-43 runtime parameter)
    Ann.buildIndex(emb, "embedding", "vec_id", "t_ivf_np",
      Ann.BuildParams(engine = "ivfflat", nlist = 16, nprobe = 1))
    val narrow = Ann.search(emb, "vec_id", "t_ivf_np", q0, 10)
      .collect().map(_.getLong(0)).toSeq
    val updated = Ann.setNprobe(spark, "t_ivf_np", 16)
    assert(updated.nprobe == 16)
    val wide = Ann.search(emb, "vec_id", "t_ivf_np", q0, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(wide == bruteTop(10, q0), "probe-all IVF must equal brute force")
    assert(narrow.nonEmpty, "narrow-probe search must still return rows")
    // nprobe is capped at nlist and rejected for non-IVF engines
    assert(Ann.setNprobe(spark, "t_ivf_np", 999).nprobe == 16)
    Ann.buildIndex(emb, "embedding", "vec_id", "t_flat_np",
      Ann.BuildParams(engine = "flat"))
    assertThrows[IllegalArgumentException](Ann.setNprobe(spark, "t_flat_np", 2))
  }

  test("sharded recall: 8-shard diskann fan-out merge stays >= 0.9") {
    // SURVEY §7.3 hard part: sharded graphs lose global connectivity — but
    // the per-shard search is near-exhaustive on small shards and the merge
    // is exact, so recall must hold as shards multiply
    Ann.buildIndex(emb, "embedding", "vec_id", "t_sharded8",
      Ann.BuildParams(engine = "diskann", numShards = 8))
    val qs = Seq(q0, q0.map(v => 1.0f - v), q0.map(v => v * 0.5f))
    val recalls = qs.map { q =>
      val truth = bruteTop(10, q).toSet
      val got = Ann.search(emb, "vec_id", "t_sharded8", q, 10, searchComplexity = 128)
        .collect().map(_.getLong(0))
      got.count(truth) / 10.0
    }
    assert(recalls.sum / recalls.length >= 0.9, s"sharded recall $recalls")
  }

  test("searchTable on exact engines: flat matches brute force; ivf prunes") {
    import spark.implicits._
    Ann.buildIndex(emb, "embedding", "vec_id", "t_flat_st",
      Ann.BuildParams(engine = "flat"))
    val queries = Seq((900L, q0.toSeq)).toDF("qid", "qvec")
    val res = Ann.searchTable(queries, "qvec", emb, "vec_id", "t_flat_st", 5)
      .orderBy("_distance", "vec_id").collect()
    assert(res.length == 5)
    assert(res.map(_.getAs[Long]("vec_id")).toSeq == bruteTop(5, q0).toSeq,
      "flat searchTable must be exact")
    // ivf path: nprobe < nlist goes through the probe-explode join
    val resIvf = Ann.searchTable(queries, "qvec", emb, "vec_id", "t_ivf", 10)
      .collect()
    assert(resIvf.length == 10)
    val truth = bruteTop(10, q0).toSet
    assert(resIvf.map(_.getAs[Long]("vec_id")).count(truth) >= 7,
      "ivf searchTable recall")
    // a query table whose columns collide with the internal scan schema
    // (id/vec/cluster) must not capture the scan's columns
    val clash = Seq((7L, Array(9f), 3, q0.toSeq)).toDF("id", "vec", "cluster", "qvec")
    val resClash = Ann.searchTable(clash, "qvec", emb, "vec_id", "t_flat_st", 5)
      .orderBy("_distance", "vec_id").collect()
    assert(resClash.length == 5)
    assert(resClash.map(_.getAs[Long]("vec_id")).toSeq == bruteTop(5, q0).toSeq)
    assert(resClash.forall(_.getAs[Long]("id") == 7L), "query-side id preserved")
  }

  test("sq8 quantized index still finds the exact-match row") {
    Ann.buildIndex(emb, "embedding", "vec_id", "t_sq8",
      Ann.BuildParams(engine = "diskann", numShards = 1, quantization = "sq8"))
    val got = Ann.search(emb, "vec_id", "t_sq8", q0, 5, searchComplexity = 100)
      .collect().map(_.getLong(0))
    val truth = bruteTop(5, q0)
    assert(got.count(truth.toSet) >= 3)
    assert(Ann.indexInfo(spark).where(col("name") === "t_sq8")
      .collect()(0).getBoolean(7))
  }

  test("list and indexInfo report catalog state") {
    val names = Ann.list(spark).collect().map(_.getString(0)).toSet
    assert(Set("t_flat", "t_disk", "t_ivf").subsetOf(names))
    val info = Ann.indexInfo(spark).where(col("name") === "t_disk").collect()(0)
    assert(info.getLong(4) == 500L) // num_vectors
  }

  test("vectorDistances appends _distance to all rows") {
    val res = Ann.vectorDistances(emb, "embedding", q0)
    assert(res.count() == 500)
    assert(res.columns.last == "_distance")
    val minD = res.agg(min("_distance")).collect()(0).getFloat(0)
    assert(minD == 0.0f)
  }

  test("streaming build from raw binary file") {
    val tmp = java.io.File.createTempFile("vecs", ".bin")
    val n = 500; val dim = 8
    val bb = java.nio.ByteBuffer.allocate(8 + n * dim * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(n); bb.putInt(dim)
    val rnd = new scala.util.Random(42)
    val all = Array.fill(n)(Array.fill(dim)(rnd.nextFloat()))
    all.foreach(_.foreach(bb.putFloat))
    java.nio.file.Files.write(tmp.toPath, bb.array())
    try {
      val (nv, d, samp) = Ann.streamingBuild(spark, tmp.getAbsolutePath, "t_stream",
        Ann.BuildParams(numShards = 2))
      assert(nv == 500 && d == 8 && samp == 500) // sample = max(√N,1000) capped at N
      val truth = all.zipWithIndex
        .map { case (v, i) => (VectorOps.l2Sq(v, all(7)), i.toLong) }
        .sortBy(x => (x._1, x._2)).take(5).map(_._2).toSet
      val hits = Ann.searchHits(spark, "t_stream", all(7), 5, searchComplexity = 100)
        .collect().map(_.getLong(0))
      assert(hits.count(truth) >= 4)
    } finally tmp.delete()
    intercept[IllegalArgumentException](
      Ann.streamingBuild(spark, "/nonexistent/path.bin", "t_bad"))
  }

  test("error cases: missing index, dimension mismatch") {
    intercept[IllegalArgumentException](
      Ann.searchHits(spark, "no_such_index", q0, 5))
    intercept[IllegalArgumentException](
      Ann.searchHits(spark, "t_disk", Array(1.0f), 5))
  }
}
