package graft.plans

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{toFloatVec, floatVec, array_distance}

/** Physical-plan assertions for the 100 TB contract: columns prune to the
 *  scan, filters push to parquet, small dimensions broadcast, aggregates
 *  partial-aggregate map-side, and exact top-k uses TakeOrderedAndProject
 *  (never a global sort). */
class PlanQualitySpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val sf = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("projection prunes the parquet scan to referenced columns") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"expected 2-column ReadSchema:\n$p")
  }

  test("filters push down to the parquet scan") {
    val df = spark.read.parquet(s"$sf/orders.parquet")
      .where(col("o_custkey") === 42L).select("o_orderkey")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(o_custkey), EqualTo(o_custkey,42)]"),
      s"expected pushed EqualTo:\n$p")
  }

  test("exact top-k by distance is TakeOrderedAndProject, not a global sort") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = (0 until 64).map(i => (i % 8) / 8.0f)
    spark.conf.set("spark.graft.ann.rewriteEnabled", "false")
    val df = emb.orderBy(array_distance(toFloatVec(col("embedding")), floatVec(q)))
      .limit(10)
    val p = plan(df)
    spark.conf.set("spark.graft.ann.rewriteEnabled", "true")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), s"global sort leaked:\n$p")
  }

  test("small dimension joins broadcast; aggregates partial-aggregate") {
    val c = spark.read.parquet(s"$sf/customer.parquet")
      .where(col("c_mktsegment") === "BUILDING")
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val j = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderdate").agg(sum("o_totalprice").as("t"))
    val p = plan(j)
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(p.contains("partial_sum"), s"expected map-side partial aggregation:\n$p")
  }

  test("q3_join hints the orders-key broadcast only under spark.graft.q3.broadcastMaxBytes") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    def q3(maxBytes: Long): DataFrame = {
      spark.conf.set("spark.graft.q3.broadcastMaxBytes", maxBytes.toString)
      try graft.SparkEntry.queries("q3_join")(spark, sf)
      finally spark.conf.unset("spark.graft.q3.broadcastMaxBytes")
    }
    def keysHinted(df: DataFrame): Boolean = df.queryExecution.analyzed.exists {
      case h: ResolvedHint => h.hints.strategy.contains(BROADCAST) &&
        h.output.map(_.name) == Seq("o_orderkey")
      case _ => false
    }
    val hinted = q3(1L << 30) // far above the sf0.001 orders scan
    assert(keysHinted(hinted), hinted.queryExecution.analyzed.toString)
    val p = plan(hinted)
    assert("BroadcastHashJoin \\[l_orderkey#\\d+L?\\], \\[o_orderkey#\\d+L?\\], Inner, BuildRight"
      .r.findFirstIn(p).isDefined, s"orders keys not broadcast:\n$p")
    val unhinted = q3(1L)
    assert(!keysHinted(unhinted), unhinted.queryExecution.analyzed.toString)
  }

  test("anti-join plans as BroadcastHashJoin LeftAnti, not a cartesian shape") {
    val p = plan(graft.SparkEntry.queries("q_antijoin")(spark, sf))
    assert(p.contains("LeftAnti"), s"expected anti join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product in anti join:\n$p")
  }

  test("multi-way dimension join broadcasts both dimensions") {
    val p = plan(graft.SparkEntry.queries("q_multijoin")(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"expected 2 broadcast joins (nation, region):\n$p")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      s"expected map-side partial aggregation:\n$p")
  }

  test("ivfpq probe scan prunes unprobed cluster partitions") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextFloat() * 10 - 5))
    val rows = (0L until 400L).map { i =>
      val c = centers((i % 8).toInt)
      (i, c.map(x => x + rnd.nextFloat() * 0.3f - 0.15f))
    }
    val df = rows.toDF("id", "vec")
    val root = s"/tmp/graft-pq-plan-${System.nanoTime()}"
    spark.conf.set("spark.graft.ann.root", root)
    try {
      graft.index.Ann.buildIndex(df, "vec", "id", "plan_ivfpq",
        graft.index.Ann.BuildParams(engine = "ivfpq", pqM = 4, nlist = 8,
          nprobe = 2, trainSample = 400))
      // the distributed plan: below the gate the search runs on the driver
      val p = graft.core.RouteParity.distributed(spark)(plan(
        graft.index.Ann.searchHits(spark, "plan_ivfpq", rows.head._2, 10)))
      // nprobe=2 of nlist=8: the cluster partition filter must reach the scan
      assert(p.contains("PartitionFilters") && p.contains("cluster"),
        s"expected cluster partition pruning:\n$p")
    } finally spark.conf.unset("spark.graft.ann.root")
  }

  test("range search on ivfflat prunes cluster partitions; flat prunes columns") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextFloat() * 10 - 5))
    val rows = (0L until 400L).map { i =>
      val c = centers((i % 8).toInt)
      (i, c.map(x => x + rnd.nextFloat() * 0.3f - 0.15f))
    }
    val df = rows.toDF("id", "vec")
    val root = s"/tmp/graft-range-plan-${System.nanoTime()}"
    spark.conf.set("spark.graft.ann.root", root)
    try {
      graft.index.Ann.buildIndex(df, "vec", "id", "plan_range_ivf",
        graft.index.Ann.BuildParams(engine = "ivfflat", nlist = 8, nprobe = 2))
      val p1 = plan(graft.index.Ann.rangeSearch(df, "id", "plan_range_ivf",
        rows.head._2, 5f))
      // nprobe=2 of nlist=8: only probed clusters may be scanned
      assert(p1.contains("PartitionFilters") && p1.contains("cluster"),
        s"expected cluster partition pruning:\n$p1")

      graft.index.Ann.buildIndex(df, "vec", "id", "plan_range_flat",
        graft.index.Ann.BuildParams(engine = "flat"))
      val p2 = plan(graft.index.Ann.rangeSearch(df, "id", "plan_range_flat",
        rows.head._2, 5f))
      // the radius filter needs only (id, vec): no other index column may load
      assert(p2.contains("ReadSchema: struct<id:bigint,vec:array<float>>"),
        s"expected 2-column ReadSchema on the index scan:\n$p2")
    } finally spark.conf.unset("spark.graft.ann.root")
  }

  test("distance expressions stay inside whole-stage codegen") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = (0 until 64).map(i => (i % 8) / 8.0f)
    val df = emb.select(col("vec_id"),
      array_distance(toFloatVec(col("embedding")), floatVec(q)).as("d"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1)"), s"expected WholeStageCodegen stage:\n$p")
  }

  test("round-11 operators: no cartesian products; domain mixing broadcasts " +
    "its counts and keeps the corpus shuffle-free") {
    import graft.text.TextOps
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for ((name, df) <- Seq(
        "lm_score" -> TextOps.lmScore(docs, "text", "doc_id"),
        "domain_mix" -> TextOps.domainMix(docs, "source", "doc_id",
          Map("src0" -> 5L), 2L),
        "domain_mix_tokens" -> TextOps.domainMixTokens(docs, "source", "text",
          "doc_id", Map("src0" -> 100L), 50L),
        "dedup_vs_corpus" -> TextOps.dedupVsCorpus(
          docs.where(col("doc_id") % 10 === 0),
          docs.where(col("doc_id") % 10 =!= 0), "text", "doc_id"))) {
      val pl = plan(df)
      assert(!pl.contains("CartesianProduct"), s"$name went cartesian:\n$pl")
    }
    val mixPlan = plan(TextOps.domainMix(docs, "source", "doc_id",
      Map("src0" -> 5L), 2L))
    assert(mixPlan.contains("BroadcastHashJoin"),
      s"domain_mix did not broadcast its counts:\n$mixPlan")
  }

  test("round-7 operators: no cartesian products, packing keeps ONE exchange") {
    import graft.text.TextOps
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for ((name, df) <- Seq(
        "dedup_lines" -> TextOps.dedupLines(docs, "text", "doc_id", 3),
        "pack_sequences" -> TextOps.packSequences(docs, "text", "doc_id", "lang", 256L),
        "hashed_tf" -> docs.select(explode(TextOps.hashedTf(col("text"), 64))),
        "rare_terms_dist" -> {
          spark.conf.set("spark.graft.localMaxBytes", "0")
          try TextOps.rareTerms(docs, "text", "doc_id", 3)
          finally spark.conf.unset("spark.graft.localMaxBytes")
        })) {
      val pl = plan(df)
      assert(!pl.contains("CartesianProduct"), s"$name went cartesian:\n$pl")
    }
    // the segmented packing engine's contract: exactly ONE shuffle (the
    // range repartition) in the whole lineage — its passes must reuse that
    // shuffle's output, never add exchanges. The result is an RDD-backed
    // frame, so count ShuffleDependency in the RDD lineage, not Exchange
    // nodes in the SQL plan. (The size gate would route this toy corpus
    // serial — force the segmented engine, the one under test.)
    spark.conf.set("spark.graft.localMaxBytes", "0")
    val packRdd =
      try TextOps.packSequences(docs, "text", "doc_id", "lang", 256L).rdd
      finally spark.conf.unset("spark.graft.localMaxBytes")
    def countShuffles(r: org.apache.spark.rdd.RDD[_],
        seen: scala.collection.mutable.Set[Int]): Int =
      if (!seen.add(r.id)) 0
      else r.dependencies.map {
        case s: org.apache.spark.ShuffleDependency[_, _, _] =>
          1 + countShuffles(s.rdd, seen)
        case d => countShuffles(d.rdd, seen)
      }.sum
    val shuffles = countShuffles(packRdd, scala.collection.mutable.Set.empty)
    assert(shuffles == 1, s"pack_sequences expected 1 shuffle in lineage, got $shuffles")
  }

  test("quantized table scoring stays inside whole-stage codegen (no UDF boundary)") {
    import graft.index.Ann
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    Ann.buildIndex(emb, "embedding", "vec_id", "planq_ivfpq",
      Ann.BuildParams(engine = "ivfpq", nlist = 8, nprobe = 2, pqM = 8))
    val queries = emb.limit(4)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val df = Ann.searchTable(queries, "qvec", emb, "vec_id", "planq_ivfpq", 5)
    df.collect() // finalize AQE so codegen `*(n)` markers appear
    val p = df.queryExecution.executedPlan.toString
    val scoreLines = p.linesIterator.filter(_.contains("pq_adc_score")).toSeq
    assert(scoreLines.nonEmpty, s"expected pq_adc_score in the plan:\n$p")
    // `*(n)` prefixes mark whole-stage-codegen spans; the scoring project
    // must carry one, or the whole probe-join stage falls back to
    // interpreted row processing (the regression that cost 30s vs 5.6s at
    // 1.5M x 512q)
    assert(scoreLines.exists(_.contains("*(")),
      s"pq_adc_score fell out of codegen:\n${scoreLines.mkString("\n")}\n$p")
  }

  test("quantized range distance stays inside whole-stage codegen") {
    import graft.index.Ann
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    Ann.buildIndexFactory(emb, "embedding", "vec_id", "planq_risq", "IVF4,SQ8",
      Ann.BuildParams(nprobe = 1))
    val q = emb.orderBy("vec_id").limit(1)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val df = Ann.rangeSearch(emb, "vec_id", "planq_risq", q, 16.5f)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val distLines = p.linesIterator.filter(_.contains("quant_range_dist")).toSeq
    assert(distLines.nonEmpty, s"expected quant_range_dist in the plan:\n$p")
    // the scan -> decode-distance -> radius-filter span must be one
    // generated loop, not an interpreted UDF boundary (PqAdcScore lesson)
    assert(distLines.exists(_.contains("*(")),
      s"quant_range_dist fell out of codegen:\n${distLines.mkString("\n")}\n$p")
  }

  test("fused text kernels compile to static TextKernels calls inside whole-stage codegen") {
    import graft.text.TextOps
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = docs.select(col("doc_id"),
      TextOps.termCountsCol(col("text")).as("tc"),
      TextOps.wordLines(col("text"), 4).as("wl"),
      graft.functions.mkCol(graft.expressions.NgramRepetition(
        graft.functions.mkExpr(col("text")), 2)).as("rep"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    for (k <- Seq("term_counts", "word_lines", "ngram_repetition"))
      assert(p.linesIterator.exists(l => l.contains(k) && l.contains("*(")),
        s"$k is outside a whole-stage codegen span:\n$p")
    val code = codegenStringSeq(df.queryExecution.executedPlan).map(_._2).mkString("\n")
    for (k <- Seq("termCounts", "wordLines", "ngramRepetition"))
      assert(code.contains(s"graft.expressions.TextKernels.$k("),
        s"generated code does not call TextKernels.$k statically:\n$code")
  }

  /** Filter conditions evaluated directly over a parquet scan, plus each
   *  scan's own data filters — where an inferred predicate would re-run a
   *  projected kernel once per scanned row. */
  private def scanFilters(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    def overScan(p: SparkPlan): Boolean = p match {
      case _: FileSourceScanExec => true
      case c: ColumnarToRowExec => overScan(c.child)
      case i: InputAdapter => overScan(i.child)
      case _ => false
    }
    df.collect()
    new AdaptiveSparkPlanHelper {}.collectWithSubqueries(df.queryExecution.executedPlan) {
      case f: FilterExec if overScan(f.child) => f.condition.sql
      case s: FileSourceScanExec => s.dataFilters.map(_.sql).mkString(" AND ")
    }
  }

  test("dedup_blocklist never hashes text inside a scan filter") {
    val df = graft.SparkEntry.queries("dedup_blocklist")(spark, sf)
    val filters = scanFilters(df)
    assert(filters.nonEmpty, "expected at least one parquet scan")
    assert(!filters.exists(_.contains("rolling_hash")),
      s"rolling_hash pushed into a scan filter:\n${filters.mkString("\n")}")
  }

  test("exact-rank ANN entries rank in SQL, never through an ExistingRDD") {
    val root = s"/tmp/graft-rank-plan-${System.nanoTime()}"
    spark.conf.set("spark.graft.ann.root", root)
    try for (name <- Seq("ann_sq8_exact", "ann_sq4_exact", "ann_sq6_exact",
        "ann_pca_exact", "ann_pcar_exact", "ann_imi_exact", "ann_imi_probe1",
        "ann_imipq_exact", "ann_ivfsq_exact", "ann_ivfsq4_exact",
        "ann_ivfsq6_exact", "ann_ivf_exact", "ann_ivfhnsw_exact",
        "ann_merge_flat", "ann_diskann_exact", "ann_hnsw_exact", "ann_pq_exact",
        "ann_opq_exact", "ann_ivfpq_exact", "ann_opqivf_exact",
        "ann_serve_filtered", "ann_filtered_flat")) {
      val p = plan(graft.SparkEntry.queries(name)(spark, sf))
      assert(!p.contains("ExistingRDD"), s"$name plans an ExistingRDD:\n$p")
    } finally {
      spark.conf.unset("spark.graft.ann.root")
      graft.index.IndexCatalog.deleteTree(root)
    }
  }
}
