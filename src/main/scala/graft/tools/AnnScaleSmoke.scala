package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.index.{Ann, IndexCatalog, ShardCache}

/**
 * ANN serving at REAL index size — the round-8 scale proof. Builds diskann
 * and ivfflat indexes over a ~1.5M-vector corpus at a shard size that
 * exceeds the ShardCache mmap threshold, so graph serving takes the
 * disk-resident `DiskannMmapIndex` route (the reference's whole reason to
 * exist: rust_lib/src/disk_provider.rs:182-279 serves shards that do not
 * fit heap) — then measures serve latency for every search surface and
 * MEASURED recall@10 vs exact brute force over the full corpus.
 *
 * Vectors are deterministic hash jitter (xxhash64 over (vec_id, dim) —
 * uniform in [0,1)^64), generated in parallel by Spark and persisted once:
 * no driver materialization, reproducible across runs.
 *
 * Emits SCALE_ANN_r{N}.json: build + serve seconds, max shard bytes vs the
 * mmap threshold (proving the route engaged), recall, task skew. Pass/fail
 * bars from VERDICT r7 item 1: recall >= 0.9, no OOM, skew < 4x.
 */
object AnnScaleSmoke {

  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("SCALE_ANN_r08.json")
    val nVecs = sys.env.getOrElse("SPARK_GRAFT_ANN_VECS", "1500000").toLong
    val dim = 64
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_ANN_MODE=clustered swaps the uniform-random corpus (the
    // adversarial case: no neighborhood structure for IVF/PQ to exploit)
    // for a mixture-of-clusters corpus shaped like real embedding tables:
    // K centers uniform in [0,1]^64, each vector = its center + small
    // per-dim jitter. Between-center L2 ≈ sqrt(64/6) ≈ 3.3 while
    // within-cluster L2 ≈ 0.5, so true top-10 neighbors co-locate in one
    // natural cluster — the regime where IVF probe recall and PQ ADC
    // ranking are meaningful rather than probe-fraction-bound.
    // serve-time beam width for every graph search/recall site (the smoke's
    // recall knob: fixed-beam recall declines as N grows on uniform data;
    // SPARK_GRAFT_ANN_SC=512 with SPARK_GRAFT_ANN_REUSE=1 re-scores the
    // same built indexes at a wider beam)
    val serveSc = sys.env.getOrElse("SPARK_GRAFT_ANN_SC", "256").toInt
    // SPARK_GRAFT_ANN_MODE=aniso: the clustered corpus with ANISOTROPIC
    // coordinates — per-dim variance decays (information concentrates in
    // the leading z-dims) and a fixed dense orthogonal mix rotates the
    // whole space, so no axis-aligned subspace split is natural. This is
    // the setting OPQ exists for (its rotation re-aligns the PQ split with
    // the variance structure); the uniform/clustered corpora are isotropic
    // per-dim, where OPQ reads parity by construction (SCALE.md r17).
    val mode = sys.env.getOrElse("SPARK_GRAFT_ANN_MODE", "uniform")
    require(mode == "uniform" || mode == "clustered" || mode == "aniso",
      s"bad mode $mode")
    val kClusters = sys.env.getOrElse("SPARK_GRAFT_ANN_CLUSTERS", "1024").toInt
    val workDir =
      if (mode == "clustered") s"target/annscale${nVecs}_cl$kClusters"
      else if (mode == "aniso") s"target/annscale${nVecs}_an$kClusters"
      else s"target/annscale$nVecs"
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.graft.ann.root", s"$workDir/indexes")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val stages = new StageStats
    spark.sparkContext.addSparkListener(stages)
    // the smoke must take the DISTRIBUTED serving routes, not driver-local
    // fast paths, until the serve-latency section measures the local graph
    spark.conf.set("spark.graft.localMaxBytes", "0")

    // ---- corpus: deterministic, generated in parallel, persisted once ----
    val path = s"$workDir/embeddings.parquet"
    if (!new java.io.File(path).exists()) {
      def u01(seed: org.apache.spark.sql.Column) =
        pmod(xxhash64(seed), lit(100000L)).cast("double") / lit(100000.0)
      // aniso: clustered z-space with 1/(1 + d/4) per-dim scale, then a
      // fixed orthogonal mix M·z — distances (hence true neighbors) match
      // the unmixed corpus exactly, but stored coordinates are correlated
      // across every axis-aligned subspace. Deterministic: SplitMix64 per
      // (vec_id, dim) + a seeded polar-orthogonalized mixing matrix.
      val anisoVec: org.apache.spark.sql.Column = if (mode != "aniso") null else {
        val mix = {
          val r = new java.util.Random(42)
          graft.index.OpqCodec.polar(
            Array.fill(dim * dim)(r.nextDouble() * 2 - 1), dim)
        }
        val mixB = spark.sparkContext.broadcast(mix)
        val kC = kClusters
        val dimC = dim
        val mkVec = udf((id: Long) => {
          def h(seed: Long): Long = {
            var z = (seed + 1) * 0x9E3779B97F4A7C15L
            z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
            z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
            z ^ (z >>> 31)
          }
          def u(seed: Long): Double =
            (h(seed) >>> 11).toDouble / 9007199254740992.0
          val cid = math.floorMod(h(id ^ 0x5eedL), kC.toLong)
          val zv = Array.tabulate(dimC) { d =>
            val center = u(cid * dimC + d + 7000000000L)
            val jit = (u(id * dimC + d) - 0.5) * 0.12
            ((center + jit) / (1.0 + d * 0.25)).toFloat
          }
          graft.index.OpqCodec.rotate(mixB.value, zv)
        })
        mkVec(col("vec_id"))
      }
      val vec =
        if (mode == "aniso") anisoVec
        else if (mode == "clustered") {
          val cid = pmod(xxhash64(col("vec_id"), lit(0x5eedL)),
            lit(kClusters.toLong))
          transform(sequence(lit(0), lit(dim - 1)), d =>
            (u01(cid * lit(dim) + d + lit(7000000000L)) +
              (u01(col("vec_id") * lit(dim) + d) - lit(0.5)) * lit(0.12))
              .cast("float"))
        } else
          transform(sequence(lit(0), lit(dim - 1)),
            d => u01(col("vec_id") * lit(dim) + d).cast("float"))
      spark.range(nVecs).toDF("vec_id")
        .select(col("vec_id"), vec.as("embedding"))
        .repartition(cpus.toInt)
        .write.mode("overwrite").parquet(path)
    }
    val emb = spark.read.parquet(path)
    val n = emb.count()
    System.err.println(s"[annscale] corpus: $n vectors x $dim dims, mode=$mode" +
      (if (mode == "clustered") s" ($kClusters clusters)" else ""))

    val ops = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Any]]
    // dev-iteration switch: SPARK_GRAFT_ANN_OPS=a,b runs only the named ops
    val onlyOps = sys.env.get("SPARK_GRAFT_ANN_OPS").map(_.split(",").toSet)
    def run(name: String)(body: => Long): Unit = {
      if (onlyOps.exists(o => !o(name))) return
      stages.clear()
      val h0 = HostLoad.sample()
      val t0 = System.nanoTime()
      val rows = body
      val sec = (System.nanoTime() - t0) / 1e9
      val (hostBusy, hostSteal) = HostLoad.frac(h0, HostLoad.sample())
      stages.drain(spark.sparkContext)
      val StageStats.Skew(skew, _, majorSkew, _) = stages.skew()
      ops(name) = Map("sec" -> sec, "rows" -> rows, "worst_task_skew" -> skew,
        "major_stage_skew" -> majorSkew,
        "host_busy" -> f"$hostBusy%.3f".toDouble,
        "host_steal" -> f"$hostSteal%.3f".toDouble)
      System.err.println(f"[annscale] $name%-24s $sec%8.2fs rows=$rows " +
        f"skew=$skew%.2f major=$majorSkew%.2f busy=$hostBusy%.2f steal=$hostSteal%.2f")
    }
    // Serve ops report the MIN of two timed executions (idempotent reads;
    // same treatment Bench gives every query): a single-shot serve time
    // right after the build phase carries that phase's GC debt — measured
    // 29 s vs 15 s for the identical ivfpq TABLE serve with and without a
    // preceding 1.5M build in the same JVM — and the min over two runs is
    // the steady-state number a serving deployment sees. Skew is taken
    // from the min trial's stage set (stages are cleared between trials).
    def runServe(name: String)(body: => Long): Unit = {
      if (onlyOps.exists(o => !o(name))) return
      var best = Double.MaxValue; var rows = 0L
      var skew = 1.0; var majorSkew = 1.0
      var hostBusy = -1.0; var hostSteal = -1.0
      var i = 0
      while (i < 2) {
        i += 1
        stages.clear()
        val h0 = HostLoad.sample()
        val t0 = System.nanoTime()
        rows = body
        val sec = (System.nanoTime() - t0) / 1e9
        val (hb, hs) = HostLoad.frac(h0, HostLoad.sample())
        stages.drain(spark.sparkContext)
        if (sec < best) {
          best = sec
          hostBusy = hb; hostSteal = hs
          val sk = stages.skew(); skew = sk.worst; majorSkew = sk.major
        }
      }
      ops(name) = Map("sec" -> best, "rows" -> rows, "worst_task_skew" -> skew,
        "major_stage_skew" -> majorSkew,
        "host_busy" -> f"$hostBusy%.3f".toDouble,
        "host_steal" -> f"$hostSteal%.3f".toDouble)
      System.err.println(f"[annscale] $name%-24s $best%8.2fs rows=$rows " +
        f"skew=$skew%.2f major=$majorSkew%.2f busy=$hostBusy%.2f steal=$hostSteal%.2f (min of 2)")
    }

    // shard count chosen so ONE SHARD EXCEEDS the mmap threshold: the build
    // must produce files ShardCache will serve via DiskannMmapIndex
    // 8 shards: each ~85 MB (past the 64 MB mmap threshold), and the build
    // parallelizes across tasks. Degree/complexity sized for uniform-random
    // 64-d — the HARDEST neighborhood structure a graph index faces (real
    // embeddings cluster; this corpus has no manifold to exploit) — so the
    // recall bar is met on the adversarial case, not a friendly one.
    val shards = 8
    // per-shard build threads: 8 build tasks on a local[32] JVM leave 24
    // cores idle — the parallel insert loop (VamanaIndex.addAllParallel)
    // uses them. Cluster equivalent: spark.task.cpus = buildThreads.
    val buildThreads = sys.env.getOrElse("SPARK_GRAFT_ANN_BUILD_THREADS",
      math.max(1, cpus.toInt / shards).toString).toInt
    System.err.println(s"[annscale] graph build threads per shard: $buildThreads")
    // SPARK_GRAFT_ANN_REUSE=1: dev-iteration switch — reuse indexes already
    // on disk from a prior run (serve ops only; build timings not recorded)
    val reuse = sys.env.get("SPARK_GRAFT_ANN_REUSE").contains("1") &&
      IndexCatalog.list(Ann.root(spark)).exists(_.name == "as_disk")
    if (!reuse) run("diskann_build") {
      Ann.buildIndex(emb, "embedding", "vec_id", "as_disk",
        Ann.BuildParams(engine = "diskann", numShards = shards,
          maxDegree = 48, buildComplexity = 96, buildThreads = buildThreads))
      n
    }
    // SPARK_GRAFT_ANN_OPS runs that skip diskann_build have no as_disk —
    // tolerate it (targeted recall-matrix runs, e.g. the aniso OPQ row)
    val shardBytes = IndexCatalog.list(Ann.root(spark)).find(_.name == "as_disk")
      .map(_.shards.map(s => new java.io.File(s.file).length()).max).getOrElse(0L)
    val mmapEngaged = shardBytes >= ShardCache.mmapThreshold
    System.err.println(s"[annscale] max shard $shardBytes bytes, " +
      s"mmap threshold ${ShardCache.mmapThreshold} -> mmap=$mmapEngaged")

    // IVF cell count must track data shape (FAISS guidance nlist ≈ √N):
    // on the uniform corpus structure doesn't exist, so more/smaller cells
    // only shrink the probed fraction — 256 is the honest point there; on
    // the clustered corpus nlist MUST reach the natural cluster count or
    // every cell spans several blobs and PQ residuals carry between-blob
    // variance (measured: kf16 recall 0.26 at nlist 256 vs the nlist-1024
    // run). The clustered default probes the same 12.5% cell fraction.
    val nlist = sys.env.get("SPARK_GRAFT_ANN_NLIST").map(_.toInt)
      .getOrElse(if (mode == "uniform") 256 else 1024)
    val ivfNprobe = sys.env.get("SPARK_GRAFT_ANN_NPROBE").map(_.toInt)
      .getOrElse(8)
    val pqNprobe = math.max(ivfNprobe, 32)
    if (!reuse) run("ivfflat_build") {
      Ann.buildIndex(emb, "embedding", "vec_id", "as_ivf",
        Ann.BuildParams(engine = "ivfflat", nlist = nlist, nprobe = ivfNprobe))
      n
    }

    // hnsw at the same scale: insertion is serial per shard (HNSW's level
    // structure owns its insert order — no addAllParallel analog), so
    // parallelism comes from the SHARD axis instead: 32 shards = 32
    // concurrent build tasks (cluster: spread across executors). Serving
    // fans every query across the 32 shard-local graphs and merges top-k —
    // the same grid plan as diskann, more smaller cells.
    val hnswShards = 32
    if (!reuse) run("hnsw_build") {
      Ann.buildIndex(emb, "embedding", "vec_id", "as_hnsw",
        Ann.BuildParams(engine = "hnsw", numShards = hnswShards))
      n
    }

    // ---- serve: every search surface against the mmap-resident shards ----
    val qRows = emb.where(col("vec_id") % (n / 512) === 0L).limit(512)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    qRows.write.mode("overwrite").parquet(s"$workDir/queries.parquet")
    val queries = spark.read.parquet(s"$workDir/queries.parquet")
    val q0 = queries.orderBy("qid").limit(1).collect()(0)
      .getSeq[Float](1).toArray

    runServe("search_single") {
      Ann.search(emb, "vec_id", "as_disk", q0, 10, searchComplexity = serveSc).count()
    }
    runServe("search_table_512q") {
      Ann.searchTable(queries, "qvec", emb, "vec_id", "as_disk", 10,
        searchComplexity = serveSc).count()
    }
    runServe("search_batch_512q") {
      val qs = queries.orderBy("qid").collect().map(_.getSeq[Float](1).toArray).toSeq
      Ann.searchBatch(emb, "vec_id", "as_disk", qs, 10,
        searchComplexity = serveSc).count()
    }
    runServe("ivf_search_table_512q") {
      Ann.searchTable(queries, "qvec", emb, "vec_id", "as_ivf", 10).count()
    }
    if (IndexCatalog.list(Ann.root(spark)).exists(_.name == "as_hnsw"))
      runServe("hnsw_search_table_512q") {
      Ann.searchTable(queries, "qvec", emb, "vec_id", "as_hnsw", 10,
        searchComplexity = serveSc).count()
    }

    // ---- serve-time nprobe sweep (Ann.setNprobe — FAISS's mutable
    // index.nprobe): the SAME built IVF structure at widened probe sets,
    // measured as catalog clones so the shared-ground-truth recall pass
    // scores every width against one exact truth. This is the recall/latency
    // trade-off curve the SERVING.md matrix cites for the probe-bound rows.
    val ivfSweep = Seq(32, 64)
    def haveIdx(nm: String) = IndexCatalog.list(Ann.root(spark)).exists(_.name == nm)
    if (haveIdx("as_ivf")) {
      val ivfMeta = IndexCatalog.load(Ann.root(spark), "as_ivf")
      ivfSweep.foreach { np =>
        IndexCatalog.save(Ann.root(spark),
          ivfMeta.copy(name = s"as_ivf_np$np", nprobe = np))
        // clones share the cluster-partitioned parquet via sourcePath; only
        // the tiny per-index sidecars (centroids, radii) need copying
        Seq("centroids.bin", "radii.bin").foreach { f =>
          val src = java.nio.file.Paths.get(
            IndexCatalog.indexDir(Ann.root(spark), "as_ivf"), f)
          if (java.nio.file.Files.exists(src))
            java.nio.file.Files.copy(src, java.nio.file.Paths.get(
              IndexCatalog.indexDir(Ann.root(spark), s"as_ivf_np$np"), f),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        runServe(s"ivf_search_table_512q_np$np") {
          Ann.searchTable(queries, "qvec", emb, "vec_id", s"as_ivf_np$np", 10).count()
        }
      }
    }

    // ---- quantized serving at scale (round-9 verdict item 2) ----
    // SQ8 diskann: same graph parameters as as_disk; shards carry the SQ8
    // appendix and serve QUANTIZED from the mapped codes (DiskannMmapIndex
    // round-9 route) — the memory story measured below.
    // builds are skipped ONLY under the explicit SPARK_GRAFT_ANN_REUSE dev
    // switch — an existence check here once silently dropped the quantized
    // build ops from a regenerated artifact because a prior run's indexes
    // were still on disk
    def haveIndex(nm: String) = IndexCatalog.list(Ann.root(spark)).exists(_.name == nm)
    if (!reuse) run("sq8_build") {
      Ann.buildIndex(emb, "embedding", "vec_id", "as_sq8",
        Ann.BuildParams(engine = "diskann", quantization = "sq8",
          numShards = shards, maxDegree = 48, buildComplexity = 96,
          buildThreads = buildThreads))
      n
    }
    // nprobe 32/256: uniform-random vectors have no cluster structure for
    // IVF to exploit (true neighbors scatter across clusters), so the probe
    // fraction dominates recall — 32 is the honest serving point for the
    // adversarial corpus; PQ,RFlat (refine=true) is the accuracy knob that
    // trades the storage win back for exact re-ranking
    if (!reuse) run("ivfpq_build") {
      Ann.buildIndex(emb, "embedding", "vec_id", "as_ivfpq",
        Ann.BuildParams(engine = "ivfpq", nlist = nlist, nprobe = pqNprobe,
          pqM = 8))
      n
    }
    // RFlat refine: the accuracy knob — same ADC candidate ranking, then an
    // exact re-rank of refineFactor·k candidates against the raw vectors
    // (which the index must therefore keep — the storage win is traded
    // back). Measured beside plain ivfpq so the matrix shows both ends.
    if (!reuse) run("ivfpqr_build") {
      Ann.buildIndex(emb, "embedding", "vec_id", "as_ivfpqr",
        Ann.BuildParams(engine = "ivfpq", nlist = nlist, nprobe = pqNprobe,
          pqM = 8, refine = true))
      n
    }
    // IVF,SQ8 (round-16 engine family): u8 scalar codes under inverted
    // lists — per-dim reconstruction (vs ivfpq's subspace centroids) at the
    // same 4x compression, so its recall ceiling is the IVF probe ceiling
    // rather than ADC quality. Build gated on existence, not just !reuse,
    // so an OPS-filtered REUSE run can add this row to an existing corpus.
    if (!reuse || !haveIdx("as_ivfsq")) run("ivfsq_build") {
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "as_ivfsq",
        s"IVF$nlist,SQ8", Ann.BuildParams(nprobe = pqNprobe))
      n
    }
    runServe("sq8_search_table_512q") {
      Ann.searchTable(queries, "qvec", emb, "vec_id", "as_sq8", 10,
        searchComplexity = serveSc).count()
    }
    runServe("ivfsq_search_table_512q") {
      Ann.searchTable(queries, "qvec", emb, "vec_id", "as_ivfsq", 10).count()
    }
    runServe("ivfpq_search_table_512q") {
      Ann.searchTable(queries, "qvec", emb, "vec_id", "as_ivfpq", 10).count()
    }
    runServe("ivfpqr_search_table_512q") {
      Ann.searchTable(queries, "qvec", emb, "vec_id", "as_ivfpqr", 10).count()
    }
    // ---- binary LSH at scale (round-15 engine family): 64-bit sign codes,
    // the codes-only table is ~16 B/row (the compression extreme of the
    // matrix) and the Hamming scan is ONE codegen'd bit_count(XOR) pass;
    // the RFlat variant trades storage back for an exact re-rank of kf·k
    // candidates — sign-LSH recall on adversarial uniform vectors is the
    // honest lower bound, the refine column shows what the two-phase serve
    // recovers.
    if (!reuse) run("lsh_build") {
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "as_lsh", "LSH64")
      n
    }
    if (!reuse) run("lshr_build") {
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "as_lshr", "LSH64,RFlat",
        Ann.BuildParams(refineK = 16))
      n
    }
    // `rt`-trained variant (round-16 family): rotation makes the projection
    // a proper random rotation and trained thresholds center each bit on
    // its mean — the code-balance training FAISS offers for exactly this
    // uniform-corpus case; measured beside the untrained row so the matrix
    // prices what the training buys at 1.5M
    if (!reuse || !haveIdx("as_lshrt")) run("lshrt_build") {
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "as_lshrt", "LSH64rt")
      n
    }
    runServe("lsh_search_table_512q") {
      Ann.searchTable(queries, "qvec", emb, "vec_id", "as_lsh", 10).count()
    }
    runServe("lshr_search_table_512q") {
      Ann.searchTable(queries, "qvec", emb, "vec_id", "as_lshr", 10).count()
    }
    // 256-bit codes (round-17 family): 4 array<bigint> words ranked by
    // summed per-word XOR popcounts — the 1.5M matrix showed 64-bit codes
    // cap recall@10 at ~0.13 even rt-trained; this row prices what 4× more
    // bits buy at a still-32B/row code table. rt = padded random rotation
    // (nbits > dim) + trained thresholds, the FAISS balance-the-bits combo.
    if (!reuse || !haveIdx("as_lsh256")) run("lsh256_build") {
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "as_lsh256", "LSH256rt")
      n
    }
    if (haveIdx("as_lsh256")) runServe("lsh256_search_table_512q") {
      Ann.searchTable(queries, "qvec", emb, "vec_id", "as_lsh256", 10).count()
    }
    // IVF over packed 4-bit scalar codes (round-17): 8× vector compression
    // under inverted lists — recall stays probe-ceiling-bound like ivfsq,
    // the row prices what halving the code again costs in ADC fidelity.
    if (!reuse || !haveIdx("as_ivfsq4")) run("ivfsq4_build") {
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "as_ivfsq4",
        s"IVF$nlist,SQ4", Ann.BuildParams(nprobe = pqNprobe))
      n
    }
    if (haveIdx("as_ivfsq4")) runServe("ivfsq4_search_table_512q") {
      Ann.searchTable(queries, "qvec", emb, "vec_id", "as_ivfsq4", 10).count()
    }
    // OPQ transform chain over ivfpq (round-17): FAISS's billion-scale
    // recipe `OPQ<m>,IVF<n>,PQ<m>` priced head-to-head with plain IVFPQ at
    // the SAME byte budget (identical nlist/m/nprobe) — the learned
    // rotation's ADC-recall recovery is the whole pitch, and it should show
    // most clearly where plain PQ's fixed subspace split is worst.
    if (!reuse || !haveIdx("as_opqivfpq")) run("opqivfpq_build") {
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "as_opqivfpq",
        s"OPQ8,IVF$nlist,PQ8", Ann.BuildParams(nprobe = pqNprobe))
      n
    }
    if (haveIdx("as_opqivfpq")) runServe("opqivfpq_search_table_512q") {
      Ann.searchTable(queries, "qvec", emb, "vec_id", "as_opqivfpq", 10).count()
    }
    // ---- IMI2x8 at scale (round-17): 65,536 product cells from two
    // 256-centroid half trainings — a cell count k-means cannot reach
    // (65k centroids over a 25.6k training sample is ill-posed; the
    // multi-index construction is how FAISS gets there). Serving differs
    // from ivfflat AT EQUAL NLIST only in probe SELECTION — the
    // `as_imi_flat` catalog clone (imiB=0, same centroids/radii/parquet)
    // IS that ivfflat, selecting probes by the 65,536-row product-table
    // scan where as_imi runs the decomposed per-half heap merge
    // (KMeansLite.nearestPImi, O(2·2^8) distances) — so the serve pair
    // measures exactly the decomposition's delta, and the probe_select
    // microbench prices selection alone.
    // Since r18 the 65,536-cell table lands in the BUCKETED layout
    // (cluster % 1024 directories, cluster a sorted data column —
    // Ann.writeClustered), so the build no longer pays a dir-per-cell
    // write commit (271.3 s in r17) and probes prune via bucket dirs +
    // pushed row-group cluster filters.
    val imiNprobe = 512 // ~0.8% of cells — fraction, not count, is the knob
    if (!reuse || !haveIdx("as_imi")) run("imi2x8_build") {
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "as_imi", "IMI2x8",
        Ann.BuildParams(nprobe = imiNprobe))
      n
    }
    if (haveIdx("as_imi")) {
      val imiMeta = IndexCatalog.load(Ann.root(spark), "as_imi")
      IndexCatalog.save(Ann.root(spark),
        imiMeta.copy(name = "as_imi_flat", imiB = 0))
      Seq("centroids.bin", "radii.bin").foreach { f =>
        val src = java.nio.file.Paths.get(
          IndexCatalog.indexDir(Ann.root(spark), "as_imi"), f)
        if (java.nio.file.Files.exists(src))
          java.nio.file.Files.copy(src, java.nio.file.Paths.get(
            IndexCatalog.indexDir(Ann.root(spark), "as_imi_flat"), f),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      runServe("imi_search_table_512q") {
        Ann.searchTable(queries, "qvec", emb, "vec_id", "as_imi", 10).count()
      }
      runServe("imiflat_search_table_512q") {
        Ann.searchTable(queries, "qvec", emb, "vec_id", "as_imi_flat", 10).count()
      }
      // probe-selection microbench, driver-side (no Spark job): the same
      // 512 queries × nprobe=512 selection over the same 65,536-cell table,
      // through each clone's coarse quantizer (table decoded before timing)
      val imiCoarse = graft.index.Coarse.of(spark, imiMeta)
      val flatCoarse = graft.index.Coarse.of(spark,
        IndexCatalog.load(Ann.root(spark), "as_imi_flat"))
      val imiCents = imiCoarse.cents
      flatCoarse.cents
      val qsArr = queries.orderBy("qid").collect().map(_.getSeq[Float](1).toArray)
      run("probe_select_decomposed_512q") {
        qsArr.foreach(q => imiCoarse.probes(q, imiNprobe))
        qsArr.length.toLong
      }
      run("probe_select_product_512q") {
        qsArr.foreach(q => flatCoarse.probes(q, imiNprobe))
        qsArr.length.toLong
      }
      // ---- IVF_HNSW at scale (round-17): the HNSW coarse quantizer over
      // the SAME 65,536-cell centroid table — a third catalog clone
      // (imiB=0, coarseHnswM=32, same parquet/radii), so the serve pair vs
      // as_imi_flat isolates exactly what graph probe selection changes,
      // and the probe_select microbench prices selection alone against
      // both the exact O(nlist) scan and the IMI decomposition. The
      // coarse graph build is the one-off driver cost the clone pays.
      locally {
        // clone first (save() mkdirs the index dir the graph build writes
        // into), then pay the one-off coarse-graph cost as its own op
        val hnswMeta = imiMeta.copy(name = "as_ivfhnsw", imiB = 0, coarseHnswM = 32)
        IndexCatalog.save(Ann.root(spark), hnswMeta)
        val radii = java.nio.file.Paths.get(
          IndexCatalog.indexDir(Ann.root(spark), "as_imi"), "radii.bin")
        if (java.nio.file.Files.exists(radii))
          java.nio.file.Files.copy(radii, java.nio.file.Paths.get(
            IndexCatalog.indexDir(Ann.root(spark), "as_ivfhnsw"), "radii.bin"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // the clone's quantizer: the same table and its probe graph (the
        // build's batch-parallel deterministic HnswIndex.addAll — the r17
        // sequential loop cost 31 s at these 65,536 cells)
        run("ivfhnsw_coarse_build") {
          graft.index.Coarse.write(IndexCatalog.indexDir(Ann.root(spark), "as_ivfhnsw"),
            imiCents, imiCents(0).length, Ann.BuildParams(coarseHnswM = 32))
          imiCents.length.toLong
        }
        val coarse = graft.index.Coarse.of(spark, hnswMeta)
        runServe("ivfhnsw_search_table_512q") {
          Ann.searchTable(queries, "qvec", emb, "vec_id", "as_ivfhnsw", 10).count()
        }
        coarse.probes(qsArr(0), imiNprobe) // decode the graph before timing
        run("probe_select_hnsw_512q") {
          qsArr.foreach(q => coarse.probes(q, imiNprobe))
          qsArr.length.toLong
        }
        // probe-set quality: mean overlap of the graph's nprobe=512 set
        // with the exact top-512 cells (the selection-level recall that
        // bounds any serve-level recall delta vs as_imi_flat)
        var overlap = 0L
        qsArr.foreach { q =>
          val exact = flatCoarse.probes(q, imiNprobe).toSet
          overlap += coarse.probes(q, imiNprobe).count(exact)
        }
        if (ops.contains("probe_select_hnsw_512q"))
          ops("probe_select_hnsw_512q") = ops("probe_select_hnsw_512q") +
            ("probe_recall" ->
              f"${overlap.toDouble / (qsArr.length.toLong * imiNprobe)}%.4f".toDouble)
      }
    }
    // ---- RFlat k_factor sweep (IndexMeta.refineK — FAISS's mutable
    // IndexRefineFlat.k_factor): the default k_factor=4 re-ranks only 40
    // ADC candidates, so refine recall is bounded by ADC's top-40 quality,
    // far below the nprobe=32 CANDIDATE ceiling the probe sweep measures.
    // kf=16 re-ranks 160, kf=64 re-ranks 640 — the widening windows that
    // show refine recovering toward that ceiling (on the clustered corpus
    // the window must approach the natural-cluster population before
    // within-blob ADC noise stops costing recall). Same catalog-clone trick
    // as the nprobe sweep: shared cluster-partitioned parquet, tiny
    // sidecars copied.
    val kfSweep = Seq(16, 64)
    if (haveIdx("as_ivfpqr")) {
      val pqrMeta = IndexCatalog.load(Ann.root(spark), "as_ivfpqr")
      kfSweep.foreach { kf =>
        IndexCatalog.save(Ann.root(spark),
          pqrMeta.copy(name = s"as_ivfpqr_kf$kf", refineK = kf))
        Seq("centroids.bin", "radii.bin", "pq.bin", "rotation.bin").foreach { f =>
          val src = java.nio.file.Paths.get(
            IndexCatalog.indexDir(Ann.root(spark), "as_ivfpqr"), f)
          if (java.nio.file.Files.exists(src))
            java.nio.file.Files.copy(src, java.nio.file.Paths.get(
              IndexCatalog.indexDir(Ann.root(spark), s"as_ivfpqr_kf$kf"), f),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        runServe(s"ivfpqr_kf${kf}_search_table_512q") {
          Ann.searchTable(queries, "qvec", emb, "vec_id", s"as_ivfpqr_kf$kf", 10).count()
        }
      }
    }

    // ---- measured recall@10 vs exact brute force over the full corpus ----
    // One measureRecallMany call for every engine (5 built + nprobe-sweep
    // clones): the exact ground
    // truth (1.5M × 200q crossJoin, the expensive side) is computed ONCE
    // and every engine's hits are scored against it with a broadcast-join
    // scan — ~5× less smoke wall-time than the per-engine measureRecall
    // loop rounds 8-10 ran, with spec-pinned bit-parity (RecallManySpec).
    val sweepNames = ivfSweep.map(np => s"as_ivf_np$np").filter(haveIdx)
    val recallEngines =
      (Seq("as_disk", "as_ivf", "as_sq8", "as_ivfsq", "as_ivfpq", "as_ivfpqr") ++
        sweepNames ++ kfSweep.map(kf => s"as_ivfpqr_kf$kf") ++
        Seq("as_lsh", "as_lshr", "as_lshrt", "as_lsh256", "as_ivfsq4",
          "as_opqivfpq", "as_imi", "as_hnsw")).filter(haveIdx)
    var recallByName = Map.empty[String, (Double, Double)]
    run("recall_at10_200q_all") {
      val rows = Ann.measureRecallMany(emb, "embedding", "vec_id",
        recallEngines, k = 10, sampleN = 200, searchComplexity = serveSc).collect()
      recallByName = rows.map(r => r.getAs[String]("name") ->
        (r.getAs[Double]("recall"), r.getAs[Double]("recall_ids"))).toMap
      rows.length.toLong
    }
    // skipped-op resilience (SPARK_GRAFT_ANN_OPS latency-only runs): -1 = not measured
    val (recall, recallIds) = recallByName.getOrElse("as_disk", (-1.0, -1.0))
    System.err.println(f"[annscale] recall@10 = $recall%.4f (ids $recallIds%.4f, bar 0.9)")
    // the IVF probe ceiling (nprobe 8/256 on clusterless data): quantized
    // IVF variants can never beat this — it contextualizes ivfpq's recall
    val (ivfRecall, ivfRecallIds) = recallByName.getOrElse("as_ivf", (-1.0, -1.0))
    System.err.println(f"[annscale] ivfflat recall@10 = $ivfRecall%.4f (ids $ivfRecallIds%.4f)")
    val sweepRecalls = sweepNames.flatMap { nm =>
      recallByName.get(nm).map { case (r, _) =>
        val np = nm.stripPrefix("as_ivf_np").toInt
        System.err.println(f"[annscale] ivfflat nprobe=$np recall@10 = $r%.4f")
        np -> r
      }
    }
    val (sq8Recall, sq8RecallIds) = recallByName.getOrElse("as_sq8", (-1.0, -1.0))
    System.err.println(f"[annscale] sq8 recall@10 = $sq8Recall%.4f (ids $sq8RecallIds%.4f)")
    val (pqRecall, pqRecallIds) = recallByName.getOrElse("as_ivfpq", (-1.0, -1.0))
    System.err.println(f"[annscale] ivfpq recall@10 = $pqRecall%.4f (ids $pqRecallIds%.4f)")
    val (ivfsqRecall, ivfsqRecallIds) = recallByName.getOrElse("as_ivfsq", (-1.0, -1.0))
    System.err.println(f"[annscale] ivfsq recall@10 = $ivfsqRecall%.4f (ids $ivfsqRecallIds%.4f)")
    val (pqrRecall, pqrRecallIds) = recallByName.getOrElse("as_ivfpqr", (-1.0, -1.0))
    System.err.println(f"[annscale] ivfpq+rflat recall@10 = $pqrRecall%.4f (ids $pqrRecallIds%.4f)")
    val pqrKfRecalls = kfSweep.flatMap { kf =>
      recallByName.get(s"as_ivfpqr_kf$kf").map { case (r, _) =>
        System.err.println(f"[annscale] ivfpq+rflat kf$kf recall@10 = $r%.4f")
        kf -> r
      }
    }
    val (lshRecall, _) = recallByName.getOrElse("as_lsh", (-1.0, -1.0))
    val (lshrRecall, _) = recallByName.getOrElse("as_lshr", (-1.0, -1.0))
    val (lshrtRecall, _) = recallByName.getOrElse("as_lshrt", (-1.0, -1.0))
    System.err.println(f"[annscale] lsh recall@10 = $lshRecall%.4f; " +
      f"lsh+rflat(kf16) = $lshrRecall%.4f; lsh-rt = $lshrtRecall%.4f")
    val (lsh256Recall, _) = recallByName.getOrElse("as_lsh256", (-1.0, -1.0))
    val (ivfsq4Recall, _) = recallByName.getOrElse("as_ivfsq4", (-1.0, -1.0))
    val (imiRecall, _) = recallByName.getOrElse("as_imi", (-1.0, -1.0))
    val (opqIvfpqRecall, _) = recallByName.getOrElse("as_opqivfpq", (-1.0, -1.0))
    System.err.println(f"[annscale] lsh256-rt recall@10 = $lsh256Recall%.4f; " +
      f"ivfsq4 = $ivfsq4Recall%.4f; imi2x8 = $imiRecall%.4f; " +
      f"opq+ivfpq = $opqIvfpqRecall%.4f (vs ivfpq $pqRecall%.4f)")
    val hnswRecall = recallByName.get("as_hnsw").map(_._1)
    hnswRecall.foreach(r =>
      System.err.println(f"[annscale] hnsw recall@10 = $r%.4f ($hnswShards shards)"))

    // ---- quantized memory accounting (measured, not claimed) ----
    // Regions a search actually reads per route (exact byte math from the
    // .diskann layout): full-precision serving touches the raw-vector region
    // + adjacency; quantized serving touches the u8 codes + adjacency. The
    // heap route is measured by actually decoding all shards.
    import graft.core.{DiskannFormat, DiskannMmapIndex}
    var quantizedMmap = false
    var mmapHeap = 0L
    var heapRouteHeap = 0L
    val adjBytes = n * 48L * 4
    val residentFull = n * dim.toLong * 4 + adjBytes
    val residentQuant = n * dim.toLong + adjBytes
    if (haveIndex("as_sq8")) {
    val sq8Meta = IndexCatalog.load(Ann.root(spark), "as_sq8")
    val rt = Runtime.getRuntime
    def heapUsed(): Long = {
      System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(100)
      rt.totalMemory - rt.freeMemory
    }
    ShardCache.invalidate()
    val h0 = heapUsed()
    val mmLoaded = sq8Meta.shards.map(sh =>
      ShardCache.get(sh.file, sh.idsFile, cosine = false))
    mmLoaded.foreach(_.index.search(q0, 10, 64)) // touch the route
    quantizedMmap = mmLoaded.forall(l => l.index match {
      case m: DiskannMmapIndex => m.isQuantized
      case _ => false
    })
    mmapHeap = math.max(0L, heapUsed() - h0)
    val h1 = heapUsed()
    val heapLoaded = sq8Meta.shards.map(sh => DiskannFormat.readFile(sh.file))
    heapRouteHeap = math.max(0L, heapUsed() - h1)
    heapLoaded.foreach(ix => require(ix.size >= 0)) // keep strongly reachable
    System.err.println(
      f"[annscale] sq8 serve memory: mmap-route heap ${mmapHeap / 1e6}%.1f MB " +
      f"(quantized_mmap=$quantizedMmap) vs heap-route ${heapRouteHeap / 1e6}%.1f MB; " +
      f"resident regions full ${residentFull / 1e6}%.1f MB vs quant ${residentQuant / 1e6}%.1f MB " +
      f"(vector region 4.0x, whole-search ${residentFull.toDouble / residentQuant}%.2fx)")
    }
    // IVFPQ storage on disk vs full-precision IVF (codes replace vectors)
    def dirBytes(p: String): Long = {
      val d = new java.io.File(p)
      if (!d.isDirectory) 0L
      else java.nio.file.Files.walk(d.toPath).filter(_.toFile.isFile)
        .mapToLong(_.toFile.length).sum
    }
    val ivfBytes =
      if (haveIndex("as_ivf")) dirBytes(IndexCatalog.load(Ann.root(spark), "as_ivf").sourcePath)
      else 0L
    val ivfpqBytes =
      if (haveIndex("as_ivfpq")) dirBytes(IndexCatalog.load(Ann.root(spark), "as_ivfpq").sourcePath)
      else 0L
    val ivfpqrBytes =
      if (haveIndex("as_ivfpqr")) dirBytes(IndexCatalog.load(Ann.root(spark), "as_ivfpqr").sourcePath)
      else 0L
    val lshBytes =
      if (haveIndex("as_lsh")) dirBytes(IndexCatalog.load(Ann.root(spark), "as_lsh").sourcePath)
      else 0L
    val ivfsqBytes =
      if (haveIndex("as_ivfsq")) dirBytes(IndexCatalog.load(Ann.root(spark), "as_ivfsq").sourcePath)
      else 0L
    val ivfsq4Bytes =
      if (haveIndex("as_ivfsq4")) dirBytes(IndexCatalog.load(Ann.root(spark), "as_ivfsq4").sourcePath)
      else 0L
    val lsh256Bytes =
      if (haveIndex("as_lsh256")) dirBytes(IndexCatalog.load(Ann.root(spark), "as_lsh256").sourcePath)
      else 0L
    System.err.println(
      f"[annscale] ivf storage ${ivfBytes / 1e6}%.1f MB vs ivfpq ${ivfpqBytes / 1e6}%.1f MB " +
      f"(${ivfBytes.toDouble / math.max(1, ivfpqBytes)}%.1fx); ivfpq+rflat ${ivfpqrBytes / 1e6}%.1f MB; " +
      f"lsh codes ${lshBytes / 1e6}%.1f MB (${ivfBytes.toDouble / math.max(1, lshBytes)}%.1fx)")

    // ---- serve-latency percentiles (round-9 verdict item 3): 200 warm ----
    // sequential single-query searches against the mmap-served graph.
    // Two layers: the driver-local shard search (collectHits — pure index
    // cost, the reference's per-query number) and the full SQL surface
    // (Ann.search end-to-end, which adds the fetch-back Spark job).
    val qs200 = queries.orderBy("qid").limit(200).collect()
      .map(_.getSeq[Float](1).toArray)
    spark.conf.unset("spark.graft.localMaxBytes")
    def pct(sorted: Array[Double], p: Double): Double =
      sorted(math.min(sorted.length - 1, math.round(p * (sorted.length - 1)).toInt))
    if (onlyOps.forall(o => o("latency_search_200q") || o("latency_e2e_200q")))
      qs200.take(10).foreach(q => Ann.collectHits(spark, "as_disk", q, 10, 256, 1))
    // percentile loops take the PASS with the lower p50 of two (the serve-op
    // min-of-2 treatment): the pass right after the recall phase's
    // full-corpus crossJoin carries its GC debt — measured 13.5 ms vs
    // ~5 ms p50 for the identical in-process search with and without that
    // phase preceding it in the same JVM
    def bestOf2(pass: => Array[Double]): Array[Double] = {
      val a = pass; val b = pass
      if (pct(b, 0.5) < pct(a, 0.5)) b else a
    }
    var searchLat: Array[Double] = Array()
    run("latency_search_200q") {
      searchLat = bestOf2(qs200.map { q =>
        val t0 = System.nanoTime()
        Ann.collectHits(spark, "as_disk", q, 10, 256, 1)
        (System.nanoTime() - t0) / 1e6
      }.sorted)
      qs200.length.toLong
    }
    var e2eLat: Array[Double] = Array()
    run("latency_e2e_200q") {
      e2eLat = bestOf2(qs200.map { q =>
        val t0 = System.nanoTime()
        Ann.search(emb, "vec_id", "as_disk", q, 10, searchComplexity = serveSc).count()
        (System.nanoTime() - t0) / 1e6
      }.sorted)
      qs200.length.toLong
    }
    // the job-free serving surface (Ann.searchHits → LocalRelation): e2e
    // for an ids+distances caller, the r9-item-6 driver-local serve
    var e2eLocalLat: Array[Double] = Array()
    run("latency_e2e_local_200q") {
      e2eLocalLat = bestOf2(qs200.map { q =>
        val t0 = System.nanoTime()
        Ann.searchHits(spark, "as_disk", q, 10, searchComplexity = serveSc).collect()
        (System.nanoTime() - t0) / 1e6
      }.sorted)
      qs200.length.toLong
    }
    // ---- concurrent serve latency (round-12 verdict item 7): the job-free
    // local route under 1 / 8 / 32 simultaneous clients. Each client loops
    // its own query slice through Ann.searchHits (ConcurrencySpec pins
    // correctness under concurrency; this measures the TAIL — shard mmap
    // page cache and the beam-state allocator are the shared resources).
    var concJson = "null"
    run("latency_concurrent") {
      import scala.jdk.CollectionConverters._
      val perClient = 100
      val results = Seq(1, 8, 32).map { nc =>
        val lats = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
        val pool = java.util.concurrent.Executors.newFixedThreadPool(nc)
        val t0 = System.nanoTime()
        val futs = (0 until nc).map { c =>
          pool.submit(new Runnable {
            def run(): Unit = {
              var i = 0
              while (i < perClient) {
                val q = qs200((c * 37 + i * 7) % qs200.length)
                val s0 = System.nanoTime()
                Ann.searchHits(spark, "as_disk", q, 10,
                  searchComplexity = serveSc).collect()
                lats.add((System.nanoTime() - s0) / 1e6)
                i += 1
              }
            }
          })
        }
        futs.foreach(_.get())
        pool.shutdown()
        val wall = (System.nanoTime() - t0) / 1e9
        val sorted = lats.asScala.toArray.sorted
        val qps = nc * perClient / wall
        System.err.println(f"[annscale]   $nc%2d clients: p50 ${pct(sorted, 0.5)}%6.1f " +
          f"p95 ${pct(sorted, 0.95)}%6.1f p99 ${pct(sorted, 0.99)}%6.1f ms, " +
          f"$qps%7.0f qps")
        (nc, sorted, qps)
      }
      concJson = results.map { case (nc, sorted, qps) =>
        s""""c$nc":{"p50":${pct(sorted, 0.5)},"p95":${pct(sorted, 0.95)},""" +
          s""""p99":${pct(sorted, 0.99)},"qps":${f"$qps%.1f"}}"""
      }.mkString("{", ",", "}")
      results.map(_._2.length.toLong).sum
    }

    val latJson = if (searchLat.isEmpty || e2eLat.isEmpty) "null" else {
      System.err.println(
        f"[annscale] latency: search p50 ${pct(searchLat, 0.5)}%.1f / p95 " +
        f"${pct(searchLat, 0.95)}%.1f / p99 ${pct(searchLat, 0.99)}%.1f ms; " +
        f"e2e p50 ${pct(e2eLat, 0.5)}%.1f / p95 ${pct(e2eLat, 0.95)}%.1f / p99 " +
        f"${pct(e2eLat, 0.99)}%.1f ms")
      s"""{"queries":200,"search_ms":{"p50":${pct(searchLat, 0.50)},""" +
      s""""p95":${pct(searchLat, 0.95)},"p99":${pct(searchLat, 0.99)}},""" +
      s""""e2e_ms":{"p50":${pct(e2eLat, 0.50)},"p95":${pct(e2eLat, 0.95)},""" +
      s""""p99":${pct(e2eLat, 0.99)}},""" +
      (if (e2eLocalLat.isEmpty) "" else
        s""""e2e_local_ms":{"p50":${pct(e2eLocalLat, 0.50)},""" +
        s""""p95":${pct(e2eLocalLat, 0.95)},"p99":${pct(e2eLocalLat, 0.99)}},""") +
      s""""job_overhead_p50_ms":${pct(e2eLat, 0.50) - pct(searchLat, 0.50)}}"""
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
    val heapGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    val json = s"""{"metric":"ann_scale_total","value":$total,"unit":"sec",""" +
      s""""heap_gb":${f"$heapGb%.1f"},"serve_sc":$serveSc,""" +
      s""""mode":"$mode","nlist":$nlist,"nprobe":$ivfNprobe,""" +
      (if (mode != "uniform") s""""clusters":$kClusters,""" else "") +
      s""""ops":$opsJson,"vectors":$n,"dim":$dim,"shards":$shards,""" +
      s""""max_shard_bytes":$shardBytes,"mmap_threshold":${ShardCache.mmapThreshold},""" +
      s""""mmap_engaged":$mmapEngaged,"recall_at10":$recall,"recall_at10_ids":$recallIds,""" +
      s""""ivfflat":{"recall_at10":$ivfRecall,"recall_at10_ids":$ivfRecallIds,""" +
      s""""nprobe_sweep":{"8":$ivfRecall${sweepRecalls.map { case (np, r) =>
        s""","$np":$r""" }.mkString}}},""" +
      s""""sq8":{"recall_at10":$sq8Recall,"recall_at10_ids":$sq8RecallIds,""" +
      s""""quantized_mmap_engaged":$quantizedMmap,""" +
      s""""mmap_route_heap_bytes":$mmapHeap,"heap_route_heap_bytes":$heapRouteHeap,""" +
      s""""resident_full_bytes":$residentFull,"resident_quant_bytes":$residentQuant,""" +
      s""""vector_memory_ratio":4.0,""" +
      s""""served_memory_ratio":${residentFull.toDouble / residentQuant}},""" +
      s""""ivfpq":{"recall_at10":$pqRecall,"recall_at10_ids":$pqRecallIds,""" +
      s""""ivf_storage_bytes":$ivfBytes,"ivfpq_storage_bytes":$ivfpqBytes,""" +
      s""""storage_ratio":${ivfBytes.toDouble / math.max(1, ivfpqBytes)}},""" +
      s""""ivfsq":{"recall_at10":$ivfsqRecall,"recall_at10_ids":$ivfsqRecallIds,""" +
      s""""storage_bytes":$ivfsqBytes,""" +
      s""""storage_ratio_vs_ivf":${ivfBytes.toDouble / math.max(1, ivfsqBytes)}},""" +
      s""""ivfsq4":{"recall_at10":$ivfsq4Recall,"storage_bytes":$ivfsq4Bytes,""" +
      s""""storage_ratio_vs_ivf":${ivfBytes.toDouble / math.max(1, ivfsq4Bytes)}},""" +
      s""""lsh256":{"recall_at10":$lsh256Recall,"storage_bytes":$lsh256Bytes},""" +
      s""""imi":{"recall_at10":$imiRecall,"cells":65536,"nprobe":512},""" +
      s""""opq_ivfpq":{"recall_at10":$opqIvfpqRecall,"recall_at10_ivfpq":$pqRecall},""" +
      s""""ivfpq_rflat":{"recall_at10":$pqrRecall,"recall_at10_ids":$pqrRecallIds,""" +
      pqrKfRecalls.map { case (kf, r) =>
        s""""recall_at10_kf$kf":$r,""" }.mkString +
      s""""storage_bytes":$ivfpqrBytes},""" +
      s""""lsh":{"recall_at10":$lshRecall,"recall_at10_rflat_kf16":$lshrRecall,""" +
      s""""recall_at10_rt":$lshrtRecall,""" +
      s""""storage_bytes":$lshBytes,"storage_ratio_vs_ivf":${ivfBytes.toDouble / math.max(1, lshBytes)}},""" +
      hnswRecall.map(r =>
        s""""hnsw":{"recall_at10":$r,"shards":$hnswShards},""").getOrElse("") +
      s""""latency":$latJson,"latency_concurrent_ms":$concJson,""" +
      s""""worst_task_skew":$worst,"worst_major_stage_skew":$worstMajor}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson), json.getBytes("UTF-8"))
    spark.stop()
  }
}
