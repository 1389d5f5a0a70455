package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.Ann
import graft.text.TextOps

/**
 * 10× scale smoke: replicate sf0.1 with id offsets (text/vectors perturbed
 * per replica so near-dup structure survives instead of collapsing to exact
 * copies) and run the heavy distributed plans — searchTable grid,
 * ngram_dup_pairs, dedup_minhash_keep, the tiled exact-cosine pair route,
 * and IVF radius search — recording wall time and per-stage task-skew so a
 * straggler or OOM at 10× the bench scale is caught empirically, not argued
 * from the plan shape. Emits a BENCH-style JSON artifact (SCALE_r{N}.json).
 */
object ScaleSmoke {

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outJson = if (args.length > 1) args(1) else "SCALE_r07.json"
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val scaleDir = s"target/scale$factor"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.graft.ann.root", s"$scaleDir/indexes")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val stages = new StageStats
    spark.sparkContext.addSparkListener(stages)

    // ---- replicate with id offsets (idempotent: skip if already written)
    val off = 10000000L
    def replicated(table: String, build: (DataFrame, Int) => DataFrame): DataFrame = {
      val path = s"$scaleDir/$table.parquet"
      if (!new java.io.File(path).exists()) {
        val src = spark.read.parquet(s"$base/$table.parquet")
        (0 until factor).map(r => build(src, r)).reduce(_ unionByName _)
          .repartition(cpus.toInt).write.mode("overwrite").parquet(path)
      }
      spark.read.parquet(path)
    }
    val docs10 = replicated("documents", (d, r) =>
      d.withColumn("doc_id", col("doc_id") + lit(r * off))
        .withColumn("text",
          if (r == 0) col("text") else concat(col("text"), lit(s" replica$r"))))
    val emb10 = replicated("embeddings", (d, r) =>
      d.withColumn("vec_id", col("vec_id") + lit(r * off))
        .withColumn("embedding",
          if (r == 0) col("embedding")
          else transform(col("embedding"), x => x + lit(r * 1e-4f))
            .cast("array<float>")))
    val nDocs = docs10.count(); val nVecs = emb10.count()
    System.err.println(s"[scale] $nDocs docs, $nVecs vectors (${factor}x $base)")

    // force every driver-local fast path OFF — this smoke tests the
    // distributed routes that a 100 TB deployment would take
    spark.conf.set("spark.graft.localMaxBytes", "0")
    spark.conf.set("spark.graft.neardup.broadcastMaxBytes", "0")

    val ops = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Any]]
    // SPARK_GRAFT_SCALE_SKIP=a,b skips named ops: the 300× octave runs
    // without neardup_cos_tiled, whose output is quadratic BY CONTRACT
    // (every ≥-threshold pair is emitted; 9.9M pairs at 100× → ~90M at
    // 300×) — the LSH route is the documented scale path for that op
    val skipOps = sys.env.get("SPARK_GRAFT_SCALE_SKIP")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    // SPARK_GRAFT_SCALE_ONLY=a,b runs ONLY the named ops (new ops get their
    // own artifact against the cached replica parquet without re-running
    // the whole ladder)
    val onlyOps = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").toSet).filter(_.nonEmpty)
    // annotations made from INSIDE an op's own run body land here and are
    // folded in when the op entry is created (ops(name) exists only after
    // the body returns — semdedup's k/max_cluster silently vanished from
    // every artifact through r13 because of this)
    val pendingAnn = scala.collection.mutable.Map.empty[String, Map[String, Any]]
    def run(name: String)(body: => Long): Unit = {
      if (skipOps(name) || !onlyOps.forall(_.contains(name))) {
        System.err.println(s"[scale] $name SKIPPED (env)"); return }
      stages.clear()
      val h0 = HostLoad.sample()
      val t0 = System.nanoTime()
      val rows = body
      val sec = (System.nanoTime() - t0) / 1e9
      val (hostBusy, hostSteal) = HostLoad.frac(h0, HostLoad.sample())
      stages.drain(spark.sparkContext)
      val StageStats.Skew(skew, stage, majorSkew, majorStage) = stages.skew()
      ops(name) = Map("sec" -> sec, "rows" -> rows,
        "worst_task_skew" -> skew, "skew_stage" -> stage,
        "major_stage_skew" -> majorSkew, "major_skew_stage" -> majorStage,
        "host_busy" -> f"$hostBusy%.3f".toDouble,
        "host_steal" -> f"$hostSteal%.3f".toDouble)
      pendingAnn.remove(name).foreach(m => ops(name) = ops(name) ++ m)
      System.err.println(f"[scale] $name%-22s $sec%7.2fs rows=$rows " +
        f"skew=$skew%.2f major=$majorSkew%.2f busy=$hostBusy%.2f steal=$hostSteal%.2f")
    }
    // named ops may attach extra audit counters to their artifact entry —
    // callable from a later op's body (entry exists) or from the op's own
    // body (buffered until the entry is created)
    def annotate(name: String, kv: (String, Any)*): Unit =
      if (ops.contains(name)) ops(name) = ops(name) ++ kv.toMap
      else pendingAnn(name) = pendingAnn.getOrElse(name, Map.empty) ++ kv.toMap

    val q0 = {
      val r = emb10.orderBy("vec_id").limit(1).collect()(0)
      r.getSeq[Float](r.fieldIndex("embedding")).toArray
    }

    run("diskann_build") {
      Ann.buildIndex(emb10, "embedding", "vec_id", "s10_disk",
        Ann.BuildParams(engine = "diskann", numShards = 8,
          maxDegree = 32, buildComplexity = 64,
          // 8 build tasks on local[32]: give each task its idle cores
          // (cluster equivalent: spark.task.cpus)
          buildThreads = math.max(1, cpus.toInt / 8)))
      nVecs
    }
    run("search_table_grid") {
      val queries = emb10.where(col("vec_id") % 39L === 0L)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.searchTable(queries, "qvec", emb10, "vec_id", "s10_disk", 10,
        searchComplexity = 64).count()
    }
    run("ivfflat_build") {
      Ann.buildIndex(emb10, "embedding", "vec_id", "s10_ivf",
        Ann.BuildParams(engine = "ivfflat", nlist = 100, nprobe = 4))
      nVecs
    }
    run("ann_range_ivf") {
      // radius at the brute 200th-NN distance of q0 (exact via radii pruning)
      val d = emb10.select(graft.functions.array_distance_sq(
          graft.functions.toFloatVec(col("embedding")),
          graft.functions.floatVec(q0.toSeq)).as("d"))
        .orderBy("d").limit(200).collect().map(_.getDouble(0)).last.toFloat
      Ann.rangeSearch(emb10, "vec_id", "s10_ivf", q0, d).count()
    }
    run("ngram_dup_pairs") {
      TextOps.ngramDupPairs(docs10, "text", "doc_id").count()
    }
    // cap audit beside the pair count: at replication factors above dfMax
    // (default 50) EVERY duplicated n-gram's bucket exceeds the cap, so the
    // pair op correctly reports 0 pairs — `rows` here is the count of
    // DROPPED (over-cap) buckets, the artifact's proof the zero above is
    // cap saturation, not absence of duplication
    run("ngram_cap_audit") {
      val r = TextOps.ngramBucketStats(docs10, "text").collect()(0)
      System.err.println(s"[scale]   ngram buckets: total=${r.getAs[Long]("ngrams_total")} " +
        s"kept=${r.getAs[Long]("ngrams_kept")} " +
        s"dropped_over_cap=${r.getAs[Long]("ngrams_dropped_over_cap")} " +
        s"max_df=${r.getAs[Long]("max_df")}")
      r.getAs[Long]("ngrams_dropped_over_cap")
    }
    run("dedup_minhash_keep") {
      TextOps.dedupByMinhash(docs10, "text", "doc_id", minJaccard = 0.6).count()
    }
    // band-bucket cap audit beside the dedup timing: attributes top-octave
    // growth to emitted pair mass by data (round-12 watch item — the 1000×
    // replica corpus puts every doc in a ~factor-member clique, so in-bucket
    // pair mass grows with clique² until the cap absorbs it; these counters
    // show exactly how much it absorbed)
    run("lsh_cap_audit") {
      val r = TextOps.lshBucketStats(docs10, "text", "doc_id").collect()(0)
      val g = (c: String) => r.getLong(r.fieldIndex(c))
      annotate("dedup_minhash_keep",
        "buckets_pairful" -> g("buckets_pairful"),
        "buckets_over_cap" -> g("buckets_over_cap"),
        "clique_pairs" -> g("clique_pairs"),
        "emitted_pairs" -> g("emitted_pairs"),
        "capped_away_pairs" -> g("capped_away_pairs"),
        "max_bucket" -> g("max_bucket"))
      System.err.println(s"[scale]   lsh buckets: pairful=${g("buckets_pairful")} " +
        s"over_cap=${g("buckets_over_cap")} clique_pairs=${g("clique_pairs")} " +
        s"emitted=${g("emitted_pairs")} capped_away=${g("capped_away_pairs")} " +
        s"max=${g("max_bucket")}")
      g("emitted_pairs")
    }
    run("neardup_cos_tiled") {
      TextOps.cosineExactPairs(emb10, "embedding", "vec_id", 0.9).count()
    }
    run("semdedup") {
      // k ∝ N (the SemDeDup scaling contract: cluster count grows with the
      // corpus so per-cluster membership — and with it the within-cluster
      // pairwise work — stays ~constant, here ~500). Above the two-level
      // gate (512 centroids) assignment probes a coarse √k-quantizer per
      // row instead of scanning all k.
      val k = math.max(64, (nVecs / 500).toInt)
      val cents = graft.text.SemDedup.trainedCentroids(emb10, "embedding",
        k, iters = 4)
      val out = graft.text.SemDedup.semdedup(emb10, "embedding", "vec_id",
        cents, 0.95)
      out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dropped = out.where(!col("kept")).count()
      // cluster-size audit: per-task resident memory is ONE cluster's
      // vectors, so max_cluster bounds it in the artifact (k ∝ N should
      // hold mean ~500 and a max within a small factor of it)
      val sizes = out.groupBy("cluster").agg(count(lit(1)).as("n"))
        .agg(max("n").as("mx"), avg("n").as("mean")).collect()(0)
      // assignment-route audit: which side of the two-level gate this run
      // took (the gate used to engage silently — r14 advisory)
      val (route, kCoarse, np) = graft.text.SemDedup.assignRouteInfo(cents.length)
      annotate("semdedup", "k" -> k,
        "max_cluster" -> sizes.getLong(0),
        "mean_cluster" -> f"${sizes.getDouble(1)}%.1f".toDouble,
        "assign_route" -> route, "assign_k_coarse" -> kCoarse,
        "assign_nprobe" -> np)
      out.unpersist(blocking = false)
      System.err.println(s"[scale]   semdedup k=$k max_cluster=${sizes.getLong(0)} " +
        f"mean=${sizes.getDouble(1)}%.1f dropped=$dropped")
      dropped
    }
    run("dedup_lines") {
      TextOps.dedupLines(docs10, "text", "doc_id", 3).count()
    }
    run("pack_sequences") {
      TextOps.packSequences(docs10, "text", "doc_id", "lang", 256L).count()
    }
    val curateCfg = graft.text.Curate.Config(langs = Set("en", "de"),
      minQuality = 0.3, maxDupBigramFrac = 0.5, minJaccard = 0.6,
      evalPred = id => id % 5 === 0,
      samplePermille = org.apache.spark.sql.functions.lit(700))
    run("curate_report") {
      graft.text.Curate.report(docs10, "text", "doc_id", curateCfg).count()
    }
    // cap audit for curate_report's OWN near-dup stage: lshBucketStats over
    // the gate-survivor frame that stage actually buckets, so top-octave
    // curate growth is attributed by its own emitted/capped pair mass, not
    // by analogy to dedup_minhash_keep's audit on the full corpus
    run("curate_cap_audit") {
      val surv = graft.text.Curate.gateSurvivors(docs10, "text", "doc_id",
        curateCfg)
      val r = TextOps.lshBucketStats(surv, "text", "doc_id").collect()(0)
      val g = (c: String) => r.getLong(r.fieldIndex(c))
      annotate("curate_report",
        "nd_buckets_pairful" -> g("buckets_pairful"),
        "nd_buckets_over_cap" -> g("buckets_over_cap"),
        "nd_clique_pairs" -> g("clique_pairs"),
        "nd_emitted_pairs" -> g("emitted_pairs"),
        "nd_capped_away_pairs" -> g("capped_away_pairs"),
        "nd_max_bucket" -> g("max_bucket"))
      System.err.println(s"[scale]   curate nd buckets: pairful=${g("buckets_pairful")} " +
        s"over_cap=${g("buckets_over_cap")} clique_pairs=${g("clique_pairs")} " +
        s"emitted=${g("emitted_pairs")} capped_away=${g("capped_away_pairs")} " +
        s"max=${g("max_bucket")}")
      g("emitted_pairs")
    }

    val total = ops.values.map(_("sec").asInstanceOf[Double]).sum
    val worst = ops.values.map(_("worst_task_skew").asInstanceOf[Double]).max
    val worstMajor = ops.values.map(_("major_stage_skew").asInstanceOf[Double]).max
    val opsJson = ops.map { case (k, v) =>
      val fields = v.map { case (f, x) =>
        val lit = x match {
          case s: String => "\"" + s + "\""
          case other => other.toString
        }
        s""""$f":$lit"""
      }.mkString(",")
      s""""$k":{$fields}"""
    }.mkString("{", ",", "}")
    // heap matters for reading growth ratios across octaves: a shuffle that
    // fits at one octave and spills at the next shows superlinear wall time
    // with zero data skew — record the budget so artifacts are comparable
    val heapGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    val json = s"""{"metric":"scale${factor}x_total","value":$total,"unit":"sec",""" +
      s""""ops":$opsJson,"docs":$nDocs,"vectors":$nVecs,"base":"$base",""" +
      s""""factor":$factor,"heap_gb":${f"$heapGb%.1f"},"worst_task_skew":$worst,""" +
      s""""worst_major_stage_skew":$worstMajor}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      json.getBytes("UTF-8"))
    spark.stop()
  }
}
