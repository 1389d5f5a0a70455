package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession, Row, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression, InSet, Literal, Not}
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.internal.SQLConf
import graft.core.{Metric, VamanaIndex, HnswIndex, VectorOps, HnswFormat, LshCodec}
import graft.functions.{toFloatVec, array_distance_sq, array_negative_inner_product,
  array_cosine_similarity}

/**
 * Distributed ANN index build/search — the Spark-native re-expression of the
 * reference's index lifecycle (CREATE INDEX / ann_search / ann_search_batch /
 * ann_search_table / deletes / vacuum / merge / persistence; reference
 * src/diskann_index.cpp, src/ann_search.cpp).
 *
 * Architecture (100 TB design; SURVEY.md §7):
 *  - An index = a directory of `.diskann` shard files (byte-compatible with
 *    the reference's format) + id-mapping sidecars + metadata.json. One shard
 *    is built per input partition inside a single task — vectors NEVER
 *    materialize on the driver.
 *  - Search fans out shard-parallel tasks (`parallelize(shards)`), each
 *    over-fetching `k·oversample + |tombstones|` like the reference
 *    (src/diskann_index.cpp:558-561), then merges with Spark's native top-k.
 *  - Row fetch-back uses an [[idIn]] pushdown filter on the id column (the
 *    k hit ids reach the parquet scan) + a broadcast join for `_distance` —
 *    the 100 TB-safe analog of the reference's rowid `DataTable::Fetch`.
 *  - Engines: one [[AnnEngine]] family per stored representation — graph
 *    shards (diskann, hnsw), exact tables (flat, ivfflat), PQ codes (pq,
 *    ivfpq), scalar codes (ivfsq) and LSH sign codes (lsh).
 *
 * Distances surfaced follow the reference engine: L2 is *squared* L2, IP is
 * the negated dot product, cosine is the negated cosine (lower = closer;
 * rust_lib/src/distance.rs:15-25).
 */
object Ann {

  case class BuildParams(
      engine: String = "diskann",          // an AnnEngine name
      metric: String = "l2",               // l2 | ip | cosine
      maxDegree: Int = VamanaIndex.DefaultMaxDegree,
      buildComplexity: Int = VamanaIndex.DefaultBuildComplexity,
      alpha: Float = VamanaIndex.DefaultAlpha,
      quantization: String = "",           // "" | "sq8" | "sq4" | "sq6" (diskann only)
      numShards: Int = 0,                  // 0 = auto from targetShardSize
      targetShardSize: Long = 1000000L,
      nlist: Int = 100,                    // ivfflat (reference default, faiss_index.hpp:38-43)
      nprobe: Int = 1,
      trainSample: Int = 25600,
      hnswM: Int = HnswIndex.DefaultM,     // hnsw (reference hnsw_m=32)
      efConstruction: Int = HnswIndex.DefaultEfConstruction,
      pqM: Int = 8,                        // pq: subquantizer count (dim % pqM == 0)
      refine: Boolean = false,             // pq/ivfpq: RFlat exact re-rank stage
      refineK: Int = 0,                    // RFlat k_factor (0 = session conf)
      opq: Boolean = false,                // pq: learned OPQ rotation pre-transform
      // pq/ivfpq: seed codebooks (and ivfpq coarse centroids) verbatim from
      // the k lowest-id vectors instead of k-means training — deterministic
      // and SQL-replayable, so the ADC ranking bit-oracles against DuckDB.
      // 0 = train (default). ivfpq seed mode uses the nlist lowest ids as
      // coarse centroids and the seedK lowest ids' residuals as PQ seeds.
      seedK: Int = 0,
      // lsh: code width in bits (FAISS `LSH<nbits>`); 0 = min(dim, 64).
      // Capped at LshCodec.MaxBits (64) so a code is one BIGINT column.
      // seedK > 0 seeds hyperplanes verbatim from the nbits lowest-id
      // vectors (SQL-replayable, like the PQ seeded codebook); otherwise
      // deterministic fixed-seed Gaussian hyperplanes.
      lshNbits: Int = 0,
      // lsh `r` suffix (FAISS IndexLSH rotate_data): orthonormalize the
      // hyperplanes (classical Gram-Schmidt in double) so the projection is
      // a proper rotation; `t` suffix (train_thresholds): per-bit threshold
      // = mean projection over the trainSample lowest-id vectors (id-order
      // double accumulation — SQL-replayable)
      lshRotate: Boolean = false,
      lshThresholds: Boolean = false,
      // PCA pre-transform output dim (factory `PCA<d>,...`); 0 = off.
      // flat/ivfflat + L2 only; d == input dim is a pure rotation (exact
      // distances up to rounding), d < input dim is lossy
      pcaDim: Int = 0,
      // PCA flavor: "" plain | "r" PCAR (random rotation composed onto the
      // eigenbasis) | "w" PCAW (1/sqrt(λ) whitening — Mahalanobis space).
      // All fold into the stored rotation matrix (PcaCodec.fit), so serving
      // is variant-blind.
      pcaVariant: String = "",
      // OPQ rotation as a transform-chain prefix over the ivfpq terminal
      // (factory `OPQ<m>,IVF<n>,PQ<m>` — FAISS's canonical billion-scale
      // recipe): the rotation is fitted PQ-aware (OpqCodec.train) and
      // stored as a mean-zero pca.bin, so every serve surface reuses the
      // PCA-chain fold (prepQuery). Seed mode uses the reversal
      // permutation, like plain seeded OPQ. false = off.
      opqChain: Boolean = false,
      // IMI coarse quantizer (factory `IMI2x<b>[,Flat]`): bits per
      // half-space codebook; cells = cross product (nlist = 2^(2b)). 0 = off
      imiB: Int = 0,
      // HNSW coarse quantizer (factory `IVF<n>_HNSW<m>`): graph degree of
      // the navigable graph built over the centroids for query-time probe
      // selection (FAISS quantizer=IndexHNSWFlat analog). 0 = exact probe
      // selection. See IndexMeta.coarseHnswM for the serve semantics.
      coarseHnswM: Int = 0,
      // graph build threads per shard task (VamanaIndex.addAllParallel);
      // >1 on a cluster requires spark.task.cpus to match. 1 = serial,
      // deterministic build.
      buildThreads: Int = 1)

  def root(spark: SparkSession): String =
    IndexCatalog.rootDir(k => spark.conf.getOption(k))

  /**
   * FAISS-style `index_factory` description string → BuildParams
   * (reference passes factory strings through FaissParams,
   * src/include/faiss_index.hpp:37-113). Supported grammar:
   * `Flat` | `HNSW[m]` | `IVF<nlist>,Flat` | `IVF<nlist>,PQ<m>` |
   * `IVF<nlist>_HNSW<m>[,Flat|,PQ<m>]` (HNSW coarse quantizer) |
   * `DiskANN[degree]` | `PQ<m>` | `OPQ<m>,PQ<m>` |
   * `OPQ<m>,IVF<n>[_HNSW<g>],PQ<m>` | `OPQ<m>,IMI2x<b>,PQ<m>` |
   * `LSH[nbits]`, each
   * optionally suffixed `,SQ8`/`,SQ4`/`,SQ6` (diskann only) or `,RFlat`
   * (code engines: PQ/IVFPQ/LSH).
   */
  def parseFactory(desc: String, base: BuildParams = BuildParams()): BuildParams = {
    val parts = desc.trim.split(",").map(_.trim).filter(_.nonEmpty)
    require(parts.nonEmpty, s"empty index factory string: '$desc'")
    val sqSuffix = parts.collect {
      case x if x.equalsIgnoreCase("SQ8") => "sq8"
      case x if x.equalsIgnoreCase("SQ4") => "sq4"
      case x if x.equalsIgnoreCase("SQ6") => "sq6"
    }
    require(sqSuffix.length <= 1, s"multiple SQ suffixes in '$desc'")
    val refine = parts.exists(_.equalsIgnoreCase("RFlat"))
    val core = parts.filterNot(x =>
      x.equalsIgnoreCase("SQ8") || x.equalsIgnoreCase("SQ4") ||
      x.equalsIgnoreCase("SQ6") || x.equalsIgnoreCase("RFlat"))
    val Ivf = "(?i)IVF(\\d+)".r
    // FAISS `IVF<nlist>_HNSW<m>`: IVF whose coarse quantizer is an HNSW
    // graph over the centroids (quantizer = IndexHNSWFlat). Probe
    // SELECTION walks the graph instead of ranking all nlist centroids —
    // the serve-latency lever at nlist ≥ ~10⁴; build-side assignment stays
    // the exact distributed scan (see IndexMeta.coarseHnswM).
    val IvfHnsw = "(?i)IVF(\\d+)_HNSW(\\d*)".r
    val Hnsw = "(?i)HNSW(\\d*)".r
    val Diskann = "(?i)DISKANN(\\d*)".r
    val Pq = "(?i)PQ(\\d+)".r
    val Opq = "(?i)OPQ(\\d+)".r
    val Lsh = "(?i)LSH(\\d*)(RT|R|T)?".r
    val Pca = "(?i)PCA(R|W)?(\\d+)".r
    val Imi = "(?i)IMI2X(\\d+)".r
    val p = core.toList match {
      case Opq(m1) :: Pq(m2) :: Nil =>
        // FAISS `OPQ<m>,PQ<m>` analog (beyond the reference's grammar):
        // learned rotation before PQ encode
        require(m1.toInt == m2.toInt,
          s"OPQ subquantizer count must match PQ (got OPQ$m1,PQ$m2)")
        base.copy(engine = "pq", pqM = m2.toInt, opq = true)
      // FAISS `OPQ<m>,IVF<n>,PQ<m>` — the canonical billion-scale recipe:
      // a PQ-aware learned rotation as a transform chain over the ivfpq
      // terminal (IVF trains/assigns in rotated space, PQ encodes rotated
      // residuals, prepQuery rotates queries through the stored fold)
      // the chain composes with the HNSW coarse quantizer: the graph is
      // built over the ROTATED-space centroids (writeCoarseHnsw runs inside
      // the ivfpq terminal, after the chain transform), and prepQuery
      // rotates queries before probe selection — so the composition needs
      // no new serve logic, only this parse arm
      case Opq(m1) :: IvfHnsw(nlist, g) :: Pq(m2) :: Nil =>
        require(m1.toInt == m2.toInt,
          s"OPQ subquantizer count must match PQ (got OPQ$m1,...,PQ$m2)")
        base.copy(engine = "ivfpq", nlist = nlist.toInt, pqM = m2.toInt,
          opqChain = true, coarseHnswM = coarseHnswMOf(g, desc))
      case Opq(m1) :: Ivf(nlist) :: Pq(m2) :: Nil =>
        require(m1.toInt == m2.toInt,
          s"OPQ subquantizer count must match PQ (got OPQ$m1,...,PQ$m2)")
        base.copy(engine = "ivfpq", nlist = nlist.toInt, pqM = m2.toInt,
          opqChain = true)
      // `OPQ<m>,IMI2x<b>,PQ<m>`: the chain also composes with the
      // multi-index coarse quantizer — the IMI half-codebooks train and
      // assign in ROTATED space (the chain transform runs before the ivfpq
      // terminal, which already handles imiB), and prepQuery rotates
      // queries before the per-half probe merge, so like the IVF_HNSW
      // composition this is parse-arm-only
      case Opq(m1) :: Imi(b) :: Pq(m2) :: Nil =>
        require(m1.toInt == m2.toInt,
          s"OPQ subquantizer count must match PQ (got OPQ$m1,...,PQ$m2)")
        require(b.toInt >= 1 && b.toInt <= 8,
          s"IMI2x<b> supports b in [1, 8] (${1 << (2 * b.toInt)} cells max): '$desc'")
        base.copy(engine = "ivfpq", imiB = b.toInt, pqM = m2.toInt,
          opqChain = true)
      case Opq(_) :: _ => throw new IllegalArgumentException(
        s"OPQ requires a PQ terminal (e.g. 'OPQ8,PQ8[,RFlat]', " +
        s"'OPQ8,IVF256,PQ8', or 'OPQ8,IMI2x4,PQ8'): '$desc'")
      case f :: Nil if f.equalsIgnoreCase("flat") => base.copy(engine = "flat")
      // IVF<n>_HNSW<m> must match before plain IVF<n> (the regex prefix of
      // `IVF123_HNSW32` is a valid IVF match)
      case IvfHnsw(nlist, m) :: rest
          if rest.isEmpty || (rest.lengthCompare(1) == 0 && rest.head.equalsIgnoreCase("flat")) =>
        base.copy(engine = "ivfflat", nlist = nlist.toInt,
          coarseHnswM = coarseHnswMOf(m, desc))
      case IvfHnsw(nlist, m) :: Pq(pm) :: Nil =>
        base.copy(engine = "ivfpq", nlist = nlist.toInt, pqM = pm.toInt,
          coarseHnswM = coarseHnswMOf(m, desc))
      case Ivf(nlist) :: rest
          if rest.isEmpty || (rest.lengthCompare(1) == 0 && rest.head.equalsIgnoreCase("flat")) =>
        base.copy(engine = "ivfflat", nlist = nlist.toInt)
      case Ivf(nlist) :: Pq(m) :: Nil =>
        base.copy(engine = "ivfpq", nlist = nlist.toInt, pqM = m.toInt)
      case Hnsw(m) :: Nil =>
        base.copy(engine = "hnsw",
          hnswM = if (m.isEmpty) HnswIndex.DefaultM else m.toInt)
      case Diskann(deg) :: Nil =>
        base.copy(engine = "diskann",
          maxDegree = if (deg.isEmpty) VamanaIndex.DefaultMaxDegree else deg.toInt)
      case Pq(m) :: Nil =>
        base.copy(engine = "pq", pqM = m.toInt)
      // FAISS transform-chain prefix `PCA<d>,<index>` (IndexPreTransform +
      // PCAMatrix), plus the PCAR<d> (random-rotation) and PCAW<d>
      // (whitening) flavors — all fold into the stored rotation matrix at
      // fit time, so the chain's terminals and serving are shared.
      // Supported terminals are Flat and IVF<n>[,Flat]
      case Pca(variant, d) :: f :: Nil if f.equalsIgnoreCase("flat") =>
        base.copy(engine = "flat", pcaDim = d.toInt,
          pcaVariant = Option(variant).getOrElse("").toLowerCase)
      case Pca(variant, d) :: Ivf(nlist) :: rest
          if rest.isEmpty || (rest.lengthCompare(1) == 0 && rest.head.equalsIgnoreCase("flat")) =>
        base.copy(engine = "ivfflat", nlist = nlist.toInt, pcaDim = d.toInt,
          pcaVariant = Option(variant).getOrElse("").toLowerCase)
      // FAISS `PCA<d>,IVF<n>,PQ<m>`: dimensionality reduction before the
      // quantized inverted file — the PQ subquantizers split the REDUCED
      // dim (d % m == 0 checked at build)
      case Pca(variant, d) :: Ivf(nlist) :: Pq(m) :: Nil =>
        base.copy(engine = "ivfpq", nlist = nlist.toInt, pqM = m.toInt,
          pcaDim = d.toInt,
          pcaVariant = Option(variant).getOrElse("").toLowerCase)
      case Pca(_, _) :: _ => throw new IllegalArgumentException(
        s"PCA[R|W]<d> needs a Flat, IVF<nlist>[,Flat], or IVF<nlist>,PQ<m> " +
        s"terminal (e.g. 'PCA32,Flat', 'PCAR32,Flat', 'PCAW32,IVF64,Flat', " +
        s"'PCA32,IVF64,PQ8'): '$desc'")
      // FAISS `IMI2x<b>` coarse quantizer as an inverted-file terminal
      // (multi-index: two half-space codebooks, cells = cross product)
      case Imi(b) :: rest
          if rest.isEmpty || (rest.lengthCompare(1) == 0 && rest.head.equalsIgnoreCase("flat")) =>
        require(b.toInt >= 1 && b.toInt <= 8,
          s"IMI2x<b> supports b in [1, 8] (${1 << (2 * b.toInt)} cells max): '$desc'")
        base.copy(engine = "ivfflat", imiB = b.toInt)
      // FAISS `IMI2x<b>,PQ<m>`: multi-index coarse quantizer over
      // PQ-encoded residuals — the ivfpq engine with IMI product cells
      // (cell centroid = [c1_i ; c2_j], residual = v − product centroid)
      case Imi(b) :: Pq(m) :: Nil =>
        require(b.toInt >= 1 && b.toInt <= 8,
          s"IMI2x<b> supports b in [1, 8] (${1 << (2 * b.toInt)} cells max): '$desc'")
        base.copy(engine = "ivfpq", imiB = b.toInt, pqM = m.toInt)
      case Lsh(nb, suf) :: Nil =>
        // FAISS `LSH[nbits][r|t|rt]` (IndexLSH): binary sign codes ranked
        // by Hamming distance; `r` orthonormalizes the projection rows
        // (IndexLSH rotate_data — a proper random rotation instead of raw
        // Gaussian directions), `t` trains per-bit thresholds on the
        // projection means of a deterministic sample (train_thresholds)
        val s = Option(suf).getOrElse("").toLowerCase
        base.copy(engine = "lsh", lshNbits = if (nb.isEmpty) 0 else nb.toInt,
          lshRotate = s.contains("r"), lshThresholds = s.contains("t"))
      case other => throw new IllegalArgumentException(
        s"unsupported index factory description: '$desc' — supported: " +
        "Flat | HNSW[m] | IVF<nlist>[,Flat] | IVF<nlist>,PQ<m> | " +
        "IVF<nlist>_HNSW<m>[,Flat|,PQ<m>] | PQ<m> | " +
        "OPQ<m>,PQ<m> | OPQ<m>,IVF<nlist>[_HNSW<g>],PQ<m> | " +
        "OPQ<m>,IMI2x<b>,PQ<m> | LSH[nbits][r|t|rt] | " +
        "DiskANN[degree] | " +
        "IMI2x<b>[,Flat] | IMI2x<b>,PQ<m> | PCA<d>,Flat | PCAR<d>/PCAW<d> " +
        "chains | PCA<d>,IVF<nlist>[,Flat|,PQ<m>], optionally suffixed " +
        "',SQ8'/',SQ4'/',SQ6' (diskann or IVF<nlist>) or ',RFlat' " +
        "(PQ/LSH/IVFSQ engines); other transform chains are not implemented")
    }
    val engine = AnnEngine(p.engine, desc)
    val p2 = sqSuffix.headOption match {
      // FAISS `IVF<n>,SQ8/SQ4/SQ6` (IndexIVFScalarQuantizer with
      // QT_8bit/QT_4bit/QT_6bit, by_residual=false): inverted lists over
      // scalar-quantized codes — a distinct engine (the diskann SQ suffix
      // quantizes graph-shard storage instead); SQ4/SQ6 pack sub-byte rows
      case Some(q) if engine == AnnEngine.IvfFlat && p.imiB == 0 && p.pcaDim == 0 =>
        p.copy(engine = "ivfsq", quantization = q)
      case Some(q) =>
        require(engine == AnnEngine.Diskann,
          s"${q.toUpperCase} requires the diskann or IVF engine " +
          "(IMI/PCA+SQ chains are not implemented)")
        p.copy(quantization = q)
      case None => p
    }
    if (refine) {
      val refined = AnnEngine(p2.engine, desc)
      require(refined.storesCodes,
        "RFlat refine applies to code engines (e.g. 'PQ8,RFlat', " +
        "'IVF64,PQ8,RFlat', 'LSH32,RFlat', 'IVF64,SQ8,RFlat')")
      p2.copy(refine = true)
    } else p2
  }

  /** Coarse-graph degree from the `_HNSW<m>` form: an EXPLICIT m must be a
   *  usable graph degree (m ≥ 2 — same floor HnswIndex itself requires), so
   *  a user who wrote `IVF64_HNSW0` gets a parse error rather than a
   *  silently-plain IVF index; bare `_HNSW` takes the default. 0 stays
   *  reserved for the internal "no coarse graph" state. */
  private def coarseHnswMOf(m: String, desc: String): Int =
    if (m.isEmpty) HnswIndex.DefaultM
    else {
      require(m.toInt > 1, s"IVF<n>_HNSW<m> needs graph degree m > 1: '$desc'")
      m.toInt
    }

  /** Build from a factory description string (`Flat`, `HNSW32`,
   *  `IVF256,Flat`, `DiskANN64,SQ8`, `PQ8,RFlat`, `IVF64,PQ8,RFlat`). */
  def buildIndexFactory(df: DataFrame, column: String, idColumn: String,
      name: String, factory: String,
      base: BuildParams = BuildParams()): IndexMeta =
    buildIndex(df, column, idColumn, name, parseFactory(factory, base))

  // ------------------------------------------------------------------ build

  /** Bench-only build memoization (`spark.graft.bench.reuseIndexes=true`):
   *  name → fingerprint of the build inputs. When the SAME build (same
   *  source plan, columns, params) repeats within one JVM, the existing
   *  index is reused, so min-of-N bench trials time steady-state SERVING
   *  instead of re-paying index construction every trial (in-entry build
   *  jitter misreported hybrid_search_ann by 3x in one driver run).
   *  Verify/tests never set the conf and always rebuild. */
  private val buildMemo = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Bench-only warm-state provenance: which bench entry BUILT each memoized
   *  index, and which entries were served a reused build. Bench tags each
   *  entry before running it and drains reuse events after, so the committed
   *  artifact says per entry whether its number includes index construction
   *  (`cold`) or inherited a build from a named earlier entry — the
   *  round-15 verdict's ask: an inherited-warm number must be tellable from
   *  a cold one WITHOUT a re-run. No-op unless a tag is set (Verify, tests
   *  and library users never tag). */
  object BuildMemoTrace {
    @volatile private var tag: String = ""
    private val builtBy = new java.util.concurrent.ConcurrentHashMap[String, String]()
    private val events = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    /** Set by the bench harness around each entry ("warmup:<name>" / "<name>"). */
    def setTag(t: String): Unit = tag = t
    private[index] def recordBuild(index: String): Unit =
      if (tag.nonEmpty) builtBy.put(index, tag)
    private[index] def recordReuse(index: String): Unit =
      if (tag.nonEmpty) events.add((index, builtBy.getOrDefault(index, "unknown")))
    /** Reuse events since the last drain: (index name, entry that built it). */
    def drain(): Seq[(String, String)] = {
      val out = Vector.newBuilder[(String, String)]
      var e = events.poll()
      while (e != null) { out += e; e = events.poll() }
      out.result()
    }
  }

  private def buildFingerprint(df: DataFrame, column: String, idColumn: String,
      name: String, params: BuildParams): String =
    Seq(root(df.sparkSession), df.queryExecution.analyzed.semanticHash(),
      column, idColumn, name, params).mkString("|")

  /** Build an ANN index over `df(column)` keyed by `df(idColumn)` (LONG). */
  def buildIndex(df: DataFrame, column: String, idColumn: String, name: String,
      params: BuildParams = BuildParams()): IndexMeta = {
    val spark = df.sparkSession
    val reuse = spark.conf.getOption("spark.graft.bench.reuseIndexes")
      .contains("true")
    val fp = if (reuse) buildFingerprint(df, column, idColumn, name, params) else ""
    if (reuse && fp == buildMemo.get(name) &&
        IndexCatalog.list(root(spark)).exists(_.name == name)) {
      BuildMemoTrace.recordReuse(name)
      return IndexCatalog.load(root(spark), name)
    }
    val metric = Metric.fromName(params.metric)
    val engine = AnnEngine(params.engine.toLowerCase, name)
    val dir = IndexCatalog.indexDir(root(spark), name)
    IndexCatalog.drop(root(spark), name)
    new java.io.File(dir).mkdirs()

    val data0 = df.select(
      col(idColumn).cast(LongType).as("id"),
      toFloatVec(col(column)).as("vec"))
      .where(col(idColumn).isNotNull && col(column).isNotNull)

    // PCA pre-transform (factory `PCA<d>,...`): fit on the trainSample
    // lowest-id vectors (deterministic), persist rotation+mean beside the
    // index, and hand the ENGINE the transformed vectors — from here down
    // the index neither knows nor cares a transform exists; queries map
    // through the same file in prepQuery.
    val chain: Option[(graft.core.PcaCodec.Pca, String)] = if (params.pcaDim > 0) {
      require(engine == AnnEngine.Flat || engine == AnnEngine.IvfFlat ||
        engine == AnnEngine.IvfPq,
        s"PCA pre-transform supports flat/ivfflat/ivfpq terminals (got ${params.engine})")
      require(metric eq Metric.L2,
        "PCA pre-transform supports the l2 metric (centering shifts IP/cosine values)")
      import spark.implicits._
      val sample = data0.orderBy("id").limit(params.trainSample)
        .select("vec").as[Array[Float]].collect()
      Some((graft.core.PcaCodec.fit(sample, params.pcaDim, params.pcaVariant),
        params.pcaVariant))
    } else if (params.opqChain) {
      // OPQ chain over the ivfpq terminal (`OPQ<m>,IVF<n>,PQ<m>`): the
      // rotation is fitted PQ-aware on the sample (OpqCodec.train — FAISS
      // trains the OPQ VectorTransform the same way, then IVFPQ trains on
      // transformed vectors), or is the seeded reversal permutation in
      // seed mode (the plain seeded-OPQ convention, SQL-replayable). It is
      // stored as a MEAN-ZERO pca.bin, so every serve surface — prepQuery,
      // batch/table query transforms, append, ExactServe — reuses the
      // PCA-chain fold unchanged. Mean zero means no centering: rotations
      // preserve norms and dots, so the chain is metric-safe for
      // l2/ip/cosine (normalize∘rotate = rotate∘normalize).
      require(engine == AnnEngine.IvfPq,
        s"the OPQ chain form targets the ivfpq terminal (got ${params.engine})")
      import spark.implicits._
      val inDim = inferDim(data0)
      val rot =
        if (params.seedK > 0)
          Array.tabulate(inDim, inDim)((i, j) => if (j == inDim - 1 - i) 1.0f else 0.0f)
        else {
          val sample = data0.orderBy("id").limit(params.trainSample)
            .select("vec").as[Array[Float]].collect()
          val prepped = if (metric eq Metric.Cosine)
            sample.map(v => VectorOps.normalize(v.clone())) else sample
          OpqCodec.train(prepped, params.pqM).rotation
        }
      Some((graft.core.PcaCodec.Pca(rot, new Array[Float](inDim)), "q"))
    } else None
    val (data, origDim, pcaPath, chainVariant) = chain match {
      case Some((pca, variant)) =>
        val path = s"$dir/pca.bin"
        graft.core.PcaCodec.write(path, pca)
        (data0.withColumn("vec", pcaCol(spark, path, col("vec"))), pca.inputDim, path, variant)
      case None => (data0, 0, "", "")
    }

    val srcFiles = sourceRootPaths(df)
    val built = engine.build(data, name, dir, metric, params)
    // record the user-facing binding (original column names + source files)
    val bound = built.copy(column = column, idColumn = idColumn,
      sourceFiles = srcFiles, inputDim = origDim, pcaFile = pcaPath,
      pcaVariant = if (pcaPath.nonEmpty) chainVariant else "")
    IndexCatalog.save(root(spark), bound)
    if (reuse) { buildMemo.put(name, fp); BuildMemoTrace.recordBuild(name) }
    bound
  }

  /** Root paths of the relation `df` scans, when it is a plain file scan
   *  (possibly projected/filtered) — used to bind the index for the
   *  transparent optimizer rewrite. Empty when the input is derived. */
  private def sourceRootPaths(df: DataFrame): List[String] = {
    import org.apache.spark.sql.execution.datasources.{LogicalRelation, HadoopFsRelation}
    val rels = df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation
    }
    rels match {
      case Seq(fs: HadoopFsRelation) => fs.location.rootPaths.map(_.toString).toList
      case _ => Nil
    }
  }

  /** Shared cosine-normalization UDF: builders normalize ONCE into the
   *  stored `vec`; downstream assignment/encoding reads the normalized
   *  column instead of re-normalizing per row. */
  private[index] lazy val normalizeVecUdf =
    udf((v: Array[Float]) => VectorOps.normalize(v.clone()))

  private[index] def inferDim(data: DataFrame): Int = {
    val row = data.select(size(col("vec")).as("d")).limit(1).collect()
    require(row.nonEmpty, "cannot build an index over an empty input")
    row(0).getInt(0)
  }

  /** Deterministic stride sample across the WHOLE dataset, cosine-prepped —
   *  the shared IVF/PQ/SQ training input (reference stride-samples to
   *  25600, faiss_index.cpp:304-319). A prefix limit() would train on a
   *  biased slice of sorted/clustered input; never more than trainSample
   *  vectors reach the driver. */
  private[index] def strideSample(data: DataFrame, params: BuildParams,
      cosine: Boolean): Array[Array[Float]] = {
    val spark = data.sparkSession
    import spark.implicits._
    val nTotal = data.count()
    val stride = math.max(1L, nTotal / math.max(1, params.trainSample))
    val sample = data.select("vec").as[Array[Float]].rdd
      .zipWithIndex()
      .filter { case (_, i) => i % stride == 0 }
      .map(_._1)
      .take(params.trainSample)
    if (cosine) sample.map(v => VectorOps.normalize(v.clone())) else sample
  }

  /** Build + persist the HNSW coarse quantizer over the centroid table
   *  (`coarse.hnsw`, the FAISS quantizer=IndexHNSWFlat analog; L2 — the
   *  same metric every IVF assignment/probe ranking here uses). Driver-side
   *  by design: the centroid table is already a driver-resident artifact
   *  (readCentroids loads it whole on every serve), so an O(nlist·log nlist)
   *  insert loop over it adds nothing new to the scale profile — at the
   *  nlist ≈ √N ≈ 10⁵–10⁶ a 100 TB corpus wants, the graph builds in
   *  seconds once per index. The graph is frozen WITH the centroids:
   *  append/vacuum/merge never move centroids, so they never invalidate it. */
  private[index] def writeCoarseHnsw(dir: String, cents: Array[Array[Float]],
      dim: Int, m: Int): Unit = if (m > 0) {
    val ix = new HnswIndex(dim, Metric.L2, m)
    // deterministic batch-parallel bulk build (HnswIndex.addAll): the
    // sequential insert loop cost 31 s at 65,536 cells — minutes of serial
    // driver time at the nlist ≈ 10⁶ a 100 TB corpus wants
    ix.addAll(cents)
    HnswFormat.writeFile(ix, s"$dir/coarse.hnsw")
  }

  /** Per-cluster max L2 distance to the assigned centroid, accumulated in
   *  DOUBLE and rounded UP a float ulp: the stored radius is a provable
   *  upper bound on the true distance (double-accumulation error ~dim·2⁻⁵²
   *  is absorbed by the ulp round-up), so pruning with it can only
   *  over-probe, never miss. */
  private[index] def clusterRadii(clustered: DataFrame,
      centsB: org.apache.spark.broadcast.Broadcast[Array[Array[Float]]],
      nlist: Int): Array[Float] = {
    val distUdf = udf((v: Array[Float], cl: Int) => {
      val c = centsB.value(cl)
      Math.nextUp(math.sqrt(VectorOps.l2SqDoubleAcc(v, c)).toFloat)
    })
    val maxes = clustered
      .select(col("cluster"), distUdf(col("vec"), col("cluster")).as("__d"))
      .groupBy("cluster").agg(max(col("__d")).as("__r"))
      .collect().map(r => r.getInt(0) -> r.getFloat(1)).toMap
    Array.tabulate(nlist)(c => maxes.getOrElse(c, 0f))
  }

  /** Reconstruction from an ivfsq code row: byte-per-dim codes decode
   *  through the synthetic codebook; packed SQ4/SQ6 rows extract each
   *  dimension's level index first (same 16-bit-window extraction the
   *  packed scan uses). Values are exactly the stored dequantization
   *  levels either way. */
  private[index] def sqDecode(cb: PqCodec.Codebook, bits: Int,
      code: Array[Byte]): Array[Float] =
    if (bits >= 8) PqCodec.decode(cb, code)
    else {
      val out = new Array[Float](cb.m)
      var d = 0
      while (d < cb.m) {
        out(d) = cb.centroids(d)(graft.core.SqPackedCodec.codeAt(code, d, bits))(0)
        d += 1
      }
      out
    }

  /** [[clusterRadii]] over the DEQUANTIZED reconstructions of a quantized
   *  engine's code table: r_c = max over members of d(x̂, centroid_c), the
   *  bound quantized range search needs (its per-row filter compares
   *  d(q, x̂), which raw-vector radii do not bound). Same double-accumulate
   *  + ulp-round-up contract, so pruning can only over-probe. */
  private[index] def sqClusterRadii(stored: DataFrame,
      centsB: org.apache.spark.broadcast.Broadcast[Array[Array[Float]]],
      cbB: org.apache.spark.broadcast.Broadcast[PqCodec.Codebook],
      nlist: Int, bits: Int = 8): Array[Float] = {
    val distUdf = udf((code: Array[Byte], cl: Int) => {
      val vhat = sqDecode(cbB.value, bits, code)
      Math.nextUp(math.sqrt(
        VectorOps.l2SqDoubleAcc(vhat, centsB.value(cl))).toFloat)
    })
    val maxes = stored
      .select(col("cluster").cast(IntegerType).as("cluster"),
        distUdf(col("code"), col("cluster").cast(IntegerType)).as("__d"))
      .groupBy("cluster").agg(max(col("__d")).as("__r"))
      .collect().map(r => r.getInt(0) -> r.getFloat(1)).toMap
    Array.tabulate(nlist)(c => maxes.getOrElse(c, 0f))
  }

  // ----------------------------------------------------------------- search

  /** Serializable HNSW probe-selection accelerator (`IVF<n>_HNSW<m>`): it
   *  carries the `coarse.hnsw` path, so a task closure ships only the path,
   *  and resolves the graph through [[ShardCache]] once per instance — one
   *  decode per JVM and file generation, however many tasks deserialize the
   *  closure (the graph at nlist ≈ 10⁵–10⁶ is tens of MB; a per-task decode
   *  would cost more than the O(nlist) scan it replaces). L2 graph search is
   *  read-only with per-call scratch, so the shared graph serves all task
   *  threads. The graph beam width is max([[CoarseEfSearch]], 2·nprobe)
   *  (FAISS quantizer efSearch analog). */
  private[graft] final class CoarseProbe(path: String) extends Serializable {
    @transient private lazy val graph: HnswIndex = ShardCache.coarseGraph(path)
    def select(query: Array[Float], nprobe: Int): Array[Int] =
      graph.search(query, nprobe, math.max(CoarseEfSearch, 2 * nprobe))._1
  }

  /** Beam floor of the coarse probe-selection graph search. */
  private val CoarseEfSearch = 64

  /** The probe-selection accelerator of an index, or null when the index
   *  has none (`coarseHnswM == 0`). */
  private[graft] def coarseProbe(spark: SparkSession, meta: IndexMeta): CoarseProbe =
    if (meta.coarseHnswM == 0) null
    else new CoarseProbe(s"${IndexCatalog.indexDir(root(spark), meta.name)}/coarse.hnsw")

  /** Probe selection for IVF-family serving: plain IVF ranks the centroid
   *  table directly; IMI indexes (imiB > 0) decompose into per-half distance
   *  lists + a heap merge over the SAME stored table
   *  ([[KMeansLite.nearestPImi]]) — identical probe set, O(2·2^b) instead of
   *  O(2^(2b)) distance work per query; IVF_HNSW indexes (coarse != null)
   *  walk the centroid graph — O(ef·log nlist) instead of O(nlist) distance
   *  work, the serve-latency lever at the nlist ≈ √N a 100 TB corpus wants.
   *  At nprobe ≥ nlist the graph is bypassed (every cell probed — trivially
   *  exact, which is what the saturation oracles pin). Static
   *  (cents, imiB, coarse) signature so executor-side UDFs capture only
   *  broadcast/serializable values (the probe is a path). */
  private[graft] def selectProbes(cents: Array[Array[Float]], imiB: Int,
      query: Array[Float], nprobe: Int, coarse: CoarseProbe = null): Array[Int] =
    if (imiB > 0) KMeansLite.nearestPImi(cents, imiB, query, nprobe)
    else if (coarse != null && nprobe < cents.length) coarse.select(query, nprobe)
    else KMeansLite.nearestP(cents, query, nprobe)

  /** Trained per-bit thresholds for an lsh index built with the `t` suffix
   *  (null otherwise) — every encode site, build or serve, must pass these
   *  so database codes and query codes share the cut points. */
  private[index] def lshThresholdsOf(spark: SparkSession, meta: IndexMeta): Array[Double] =
    if (meta.lshVariant.contains("t"))
      IndexCatalog.readThresholds(
        s"${IndexCatalog.indexDir(root(spark), meta.name)}/thresholds.bin")
    else null

  /** Codegen'd Hamming distance column against a `words`-word query code
   *  (word w: `qword(w)`): single-word codes are one `bit_count(code XOR
   *  qcode)`; wide codes (array<bigint>) sum per-word XOR popcounts — the
   *  word count is a plan-time constant, so this stays builtin expressions
   *  with no UDF on the scan hot path. */
  private[index] def hammingCol(codeCol: Column, words: Int, qword: Int => Column): Column =
    if (words == 1) bit_count(codeCol.bitwiseXOR(qword(0)))
    else (0 until words).map(w =>
      bit_count(element_at(codeCol, w + 1).bitwiseXOR(qword(w)))).reduce(_ + _)

  /** Query code in the stored layout: one word for ≤64-bit codes (the
   *  meta.nlist slot carries nbits), ⌈nbits/64⌉ words otherwise. */
  private[index] def lshQueryCode(meta: IndexMeta, hyps: Array[Array[Float]],
      query: Array[Float], thr: Array[Double]): Array[Long] =
    if (meta.nlist > LshCodec.MaxBits) LshCodec.encodeWords(hyps, query, thr)
    else Array(LshCodec.encode(hyps, query, thr))
  /** OPQ rotation matrix (d rows of d floats; rotation.bin reuses the
   *  centroids file format). */
  private[index] def readRotation(spark: SparkSession, meta: IndexMeta): Array[Array[Float]] =
    IndexCatalog.readCentroids(
      s"${IndexCatalog.indexDir(root(spark), meta.name)}/rotation.bin")

  def refineFactor(spark: SparkSession): Int =
    math.max(1, spark.conf.getOption("spark.graft.ann.refineFactor")
      .map(_.toInt).getOrElse(4))

  /** Per-index RFlat k_factor (FAISS `IndexRefineFlat.k_factor`, a mutable
   *  index field): `meta.refineK` when set, else the session conf. */
  def refineFactor(spark: SparkSession, meta: IndexMeta): Int =
    if (meta.refineK > 0) meta.refineK else refineFactor(spark)

  /** RFlat refine stage (FAISS IndexRefineFlat), two-phase: (1) the ADC
   *  top (fetchK · spark.graft.ann.refineFactor, default 4) candidate IDS
   *  come from the codes-only scan — the raw `vec` column is never read at
   *  this stage, preserving PQ's scan compression; (2) only the candidates'
   *  vectors are fetched back (pushed [[idIn]] filter) and re-ranked by the
   *  exact metric distance in double precision. */
  private[index] def refineStage(spark: SparkSession, meta: IndexMeta, scored: DataFrame,
      query: Array[Float], fetchK: Int): DataFrame = {
    val candIds = scored.orderBy(col("__dd"), col("row_id"))
      .limit(fetchK * refineFactor(spark, meta))
      .select(col("row_id")).collect().map(_.getLong(0))
    val exact = metricDistanceCol(meta.metricObj, col("vec"), query)
    spark.read.parquet(meta.sourcePath)
      .where(idIn(candIds))
      .select(col("id").as("row_id"), exact.as("__ed"))
      .orderBy(col("__ed"), col("row_id")).limit(fetchK)
      .select(col("row_id"), col("__ed").cast(FloatType).as("_distance"))
  }
  /** The graph route's [[graft.core.Route]] limit, in shards: fan-out decides
   *  it, not driver memory (shards are mmap-served or soft-cached). */
  val LocalSearchMaxShards = 64

  /** Count of ANN search executions (laziness assertions in specs;
   *  cheap enough to leave on as telemetry). */
  private[graft] val searchCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** Collected (id, distance) hits for k·oversample results: the engine's
   *  driver search ([[AnnEngine.driverHits]]: small graph indexes up to
   *  [[LocalSearchMaxShards]] shards, small table indexes through
   *  [[ExactServe]]), else its distributed plan, collected. */
  private[graft] def collectHits(spark: SparkSession, name: String, query: Array[Float],
      k: Int, searchComplexity: Int, oversample: Int): Array[(Long, Float)] =
    collectHits(spark, IndexCatalog.load(root(spark), name),
      IndexCatalog.readTombstones(root(spark), name), query, k, searchComplexity, oversample)

  /** [[collectHits]] over an index whose metadata and tombstones the caller
   *  has already read (the top-k rewrite selects the index from the parsed
   *  catalog listing; a range search keeps one generation across its
   *  expansions), of the ids `filter` allows (None: every id). */
  private[graft] def collectHits(spark: SparkSession, meta: IndexMeta, tomb: Set[Long],
      query: Array[Float], k: Int, searchComplexity: Int, oversample: Int,
      filter: Option[IdFilter] = None): Array[(Long, Float)] =
    routedSearch(spark, meta, tomb, query, k, searchComplexity, oversample, filter)
      .fold(identity, _.collect().map(r => (r.getLong(0), r.getFloat(1))))

  /** The top k·oversample `(row_id, _distance)` of index `name` as a
   *  DataFrame: a LocalRelation of the driver search's hits, else the
   *  engine's lazy distributed plan. */
  private def hitsFrame(spark: SparkSession, name: String, query: Array[Float], k: Int,
      searchComplexity: Int, oversample: Int, filter: Option[IdFilter]): DataFrame =
    routedSearch(spark, IndexCatalog.load(root(spark), name),
      IndexCatalog.readTombstones(root(spark), name), query, k, searchComplexity, oversample,
      filter).fold(localHitRows(spark, _), identity)

  /** The engine's driver hits (Left), or its distributed plan (Right) when
   *  the route says distributed. */
  private def routedSearch(spark: SparkSession, meta: IndexMeta, tomb: Set[Long],
      query: Array[Float], k: Int, searchComplexity: Int, oversample: Int,
      filter: Option[IdFilter]): Either[Array[(Long, Float)], DataFrame] = {
    val (engine, fetchK) = (AnnEngine.of(meta), k * math.max(1, oversample))
    searchCount.incrementAndGet()
    engine.driverHits(spark, meta, tomb, query, fetchK, searchComplexity, filter)
      .toLeft(engine.hitsPlan(spark, meta, tomb, query, fetchK, searchComplexity, filter))
  }

  /** Range search promises a metric-space ball: `radius` compares against
   *  the declared engine distance on the ORIGINAL vectors. A reduced-dim
   *  PCA chain (e.g. `PCA16,Flat` over 64-dim input) stores and scores in
   *  lossy transformed space, where the same radius selects a different
   *  set — reject rather than silently answer a different question.
   *  Full-dim PCA (inputDim == dim) is a pure rotation, which preserves L2
   *  distances, so the ball semantics hold and it stays allowed. */
  private def requireMetricSpaceRadius(meta: IndexMeta, op: String): Unit = {
    require(meta.pcaFile.isEmpty || meta.inputDim == 0 || meta.inputDim == meta.dim,
      s"$op radius semantics require metric-space distances; reduced-dim PCA index " +
        s"'${meta.name}' (PCA ${meta.inputDim}->${meta.dim}) scores in lossy " +
        "transformed space. Use a full-dim PCA, flat, or ivfflat index.")
    // whitening (PCAW) rescales each component by 1/sqrt(λ): distances are
    // Mahalanobis even at full dim, so the metric ball the radius describes
    // does not exist in the stored space
    require(meta.pcaFile.isEmpty || meta.pcaVariant != "w",
      s"$op radius semantics require metric-space distances; whitened PCAW index " +
        s"'${meta.name}' scores in Mahalanobis space at any output dim. " +
        "Use a plain PCA/PCAR full-dim, flat, or ivfflat index.")
  }

  /** `c` mapped through the frozen transform at `pcaPath` (`inverse`: back
   *  through Rᵀ·y + mean) by an executor UDF over one broadcast of it. */
  private[index] def pcaCol(spark: SparkSession, pcaPath: String, c: Column,
      inverse: Boolean = false): Column = {
    val pcaB = spark.sparkContext.broadcast(ShardCache.pca(pcaPath))
    if (inverse) udf((y: Array[Float]) => pcaB.value.inverseTransform(y)).apply(c)
    else udf((v: Array[Float]) => pcaB.value.transform(v)).apply(c)
  }

  private[index] def prepQuery(meta: IndexMeta, query0: Array[Float]): Array[Float] = {
    val query = if (meta.pcaFile.nonEmpty) {
      require(query0.length == meta.inputDim,
        s"query dimension ${query0.length} != index input dimension ${meta.inputDim}")
      ShardCache.pca(meta.pcaFile).transform(query0)
    } else query0
    require(query.length == meta.dim,
      s"query dimension ${query.length} != index dimension ${meta.dim}")
    if (meta.metricObj eq Metric.Cosine) VectorOps.normalize(query.clone()) else query
  }
  /** Above this many tombstones the exclusion predicate switches from a
   *  literal `In` list to a single Catalyst `InSet` node. */
  private[index] val TombInlineMax = 1000

  /**
   * Tombstone-exclusion predicate with O(1) plan size at any tombstone count.
   * Small sets inline as a literal `In` (readable EXPLAIN output, pushes to
   * the scan); above [[TombInlineMax]] the SAME semantics ride one `InSet`
   * expression holding a hash set — constant analysis/codegen cost however
   * many ids were deleted, matching the reference's hash-set filter that is
   * O(1) per row at any count (src/diskann_index.cpp:584-591). `InSet` is the
   * exact optimized form Catalyst itself rewrites `In` to, so results are
   * bit-identical across the threshold.
   */
  private[index] def notTombstoned(idCol: Column, tomb: Set[Long]): Column =
    if (tomb.size <= TombInlineMax) !idCol.isin(tomb.toSeq: _*)
    else {
      GraftShim.column(Not(InSet(GraftShim.expression(idCol),
        tomb.map(x => Long.box(x): Any))))
    }

  /** The LONG key the index stores for an id column of `dataType` (every
   *  build keys rows by `CAST(id AS BIGINT)`): the id itself, else
   *  `try_cast(id AS BIGINT)`, so a STRING "0095" matches hit 95. */
  private[graft] def idKey(idExpr: Expression, dataType: DataType): Expression =
    if (dataType == LongType) idExpr
    else Cast(idExpr, LongType, Some(SQLConf.get.sessionLocalTimeZone), EvalMode.TRY)

  /** The [[idKey]] of `df`'s column `idColumn`. */
  private[graft] def idKeyCol(df: DataFrame, idColumn: String): Column = GraftShim.column(
    idKey(GraftShim.expression(col(idColumn)), df.select(col(idColumn)).schema.head.dataType))

  /** Inclusion predicate for a per-query id list (hit fetch-back, refine
   *  candidates, reconstruct, id filters): one `InSet` at any size, matching
   *  the [[idKey]] of an id column of `dataType`. Byte/Short/Int ids get the
   *  set converted once to their own type instead, with no cast around the
   *  column; LONG and those push to parquet as `sources.In`. Generated code
   *  references the set as an object, where a literal `In` inlines every id
   *  and so compiles new classes for each distinct list; with `InSet` every
   *  query after the first reuses the cached compiled plan. Byte/Short/Int
   *  sets below `spark.sql.optimizer.inSetSwitchThreshold` compile to an
   *  inlined `switch`, so those id types still compile once per list. */
  private[graft] def idInSet(idExpr: Expression, dataType: DataType,
      ids: Iterable[Long]): InSet = dataType match {
    case ByteType | ShortType | IntegerType =>
      InSet(idExpr, ids.iterator.map(id => Cast(Literal(id), dataType).eval()).toSet)
    case _ => InSet(idKey(idExpr, dataType), ids.iterator.map(Long.box(_): Any).toSet)
  }

  /** [[idInSet]] over column `idColumn` of a caller's table `df`. */
  private[graft] def idIn(df: DataFrame, idColumn: String, ids: Iterable[Long]): Column =
    GraftShim.column(idInSet(GraftShim.expression(col(idColumn)),
      df.select(col(idColumn)).schema.head.dataType, ids))

  /** [[idInSet]] over the index storage's LONG `id` column. */
  private[index] def idIn(ids: Iterable[Long]): Column =
    GraftShim.column(idInSet(GraftShim.expression(col("id")), LongType, ids))

  /** Above this nlist the per-cluster `partitionBy("cluster")` layout flips
   *  to bucketed: IMI2x8's 65,536 cluster DIRECTORIES cost 271 s of write
   *  commit at 1.5M rows (the many-small-files regime, which only worsens
   *  at 100 TB — object-store listing is per-prefix). Bucketed tables
   *  partition on `bucket = cluster % ClusterBuckets` and keep `cluster` as
   *  a DATA column, sorted within each file so parquet row-group min/max
   *  stats prune the pushed cluster filter; probes then prune twice —
   *  directory-level on bucket, row-group-level on cluster. */
  private[index] val MaxClusterDirs = 4096
  private[index] val ClusterBuckets = 1024

  /** One write path for every cluster-assigned table (build, append,
   *  vacuum): per-cluster directories below [[MaxClusterDirs]], bucketed
   *  above. Fresh writes derive the layout from nlist; APPENDS detect the
   *  existing table's layout from its read schema and honor it — a table
   *  built before the bucketed layout existed (large-nlist
   *  `partitionBy("cluster")` dirs) must keep receiving `cluster=` dirs,
   *  or the append would plant conflicting `bucket=` partition directories
   *  inside the same table and break every subsequent read. The read side
   *  (probeFilter/probeJoinCond) already detects layout per-table, so the
   *  two sides share one convention: the schema is the truth, nlist is
   *  only the fresh-write default. */
  private[index] def writeClustered(stored: DataFrame, nlist: Int, path: String,
      mode: String): Unit = {
    val bucketed =
      if (mode == "append")
        existingLayoutBucketed(stored.sparkSession, path)
          .getOrElse(nlist > MaxClusterDirs)
      else nlist > MaxClusterDirs
    if (!bucketed)
      stored.repartition(col("cluster"))
        .write.mode(mode).partitionBy("cluster").parquet(path)
    else
      stored.withColumn("bucket", pmod(col("cluster"), lit(ClusterBuckets)))
        .repartition(col("bucket")).sortWithinPartitions("cluster")
        .write.mode(mode).partitionBy("bucket").parquet(path)
  }

  /** Whether an existing cluster-assigned table at `path` uses the bucketed
   *  layout (a `bucket` partition column in its read schema); None if no
   *  readable table exists there yet (first write — caller falls back to
   *  the nlist rule). */
  private def existingLayoutBucketed(spark: SparkSession,
      path: String): Option[Boolean] =
    try Some(spark.read.parquet(path).schema.fieldNames.contains("bucket"))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** Batch-path probe-join condition over either layout: per-cluster tables
   *  equi-join on the cluster partition column (dynamic partition pruning
   *  applies); bucketed tables ALSO equi-join on `bucket` so DPP prunes the
   *  bucket directories — `probeCol % ClusterBuckets` is a plan-side
   *  expression on the broadcast (small) side. */
  private[index] def probeJoinCond(scan: DataFrame, probeCol: Column): Column = {
    val base = scan("cluster") === probeCol
    if (scan.schema.fieldNames.contains("bucket"))
      base && scan("bucket") === pmod(probeCol, lit(ClusterBuckets))
    else base
  }

  /** Int-column inclusion predicate with O(1) plan size at any probe count:
   *  a literal `In` below [[TombInlineMax]] (readable EXPLAIN, prunes
   *  partition dirs / parquet row groups), one hash-set `InSet` expression
   *  above it. `InSet` is the optimized form Catalyst rewrites `In` to, it
   *  still prunes partitions (the file index evaluates arbitrary predicates
   *  over partition values) and still translates to a `sources.In` for the
   *  parquet scan, so results and pruning behavior are identical across the
   *  threshold — only the analysis/codegen cost stops scaling with nprobe.
   *  Unlike [[idIn]], an `InSet` would not spare a per-probe-set compile
   *  here: Spark compiles an INT set below
   *  `spark.sql.optimizer.inSetSwitchThreshold` to an inlined `switch`. */
  private[index] def clusterIn(c: Column, ids: Seq[Int]): Column = {
    val ds = ids.distinct
    if (ds.size <= TombInlineMax) c.isin(ds.sorted.map(Integer.valueOf): _*)
    else {
      GraftShim.column(InSet(GraftShim.expression(c),
        ds.map(x => Int.box(x): Any).toSet))
    }
  }

  /** Probe pruning over either layout (detected from the read schema, so
   *  pre-existing per-cluster tables keep working): per-cluster tables
   *  prune directories with one cluster predicate, bucketed tables prune
   *  directories on `bucket` (≤ nprobe of [[ClusterBuckets]]) and rows
   *  with the pushed cluster predicate over the sorted row groups. Plan
   *  hygiene at IMI-sized nlists: a SATURATING probe set
   *  (probes ≥ nlist — e.g. the exact-twin oracles at nprobe = 65,536) is a
   *  semantic no-op, so no filter is planted at all; large-but-partial
   *  probe lists ride [[clusterIn]]'s `InSet` form instead of a
   *  multi-thousand-literal `In`. */
  private[index] def probeFilter(df: DataFrame, probes: Seq[Int], nlist: Int): DataFrame = {
    val ds = probes.distinct
    if (nlist > 0 && ds.size >= nlist) df
    else if (df.schema.fieldNames.contains("bucket")) {
      val buckets = ds.map(_ % ClusterBuckets).distinct
      df.where(clusterIn(col("bucket"), buckets) && clusterIn(col("cluster"), ds))
    } else df.where(clusterIn(col("cluster"), ds))
  }
  /** Whether to round-robin-rebalance the probed scan in the exact TABLE
   *  paths. Per-task work there is sum(size(cluster) x probing-queries) —
   *  a popularity-weighted product byte-based file bin-packing cannot see
   *  (7.0x task skew at 1.5M vectors x 512 queries, AnnScaleSmoke; 3.3x
   *  after rebalance). The extra exchange only pays off when the batch is
   *  big enough that the compute stage dominates its cost AND the tail
   *  matters, so it gates on the query block's estimated row count.
   *  Row count comes from CBO stats or the LocalRelation's own length
   *  before falling back to bytes/row-width: `ArrayType.defaultSize`
   *  counts a dim-float vector as 4 bytes, so a driver-built
   *  LocalRelation of 200 queries sizes like ~15 — the bytes heuristic
   *  alone silently skipped the rebalance for in-memory query batches
   *  and left a 45x hot-cell task on the clustered 1.5M corpus (popular
   *  central cells bin-packed into one scan split). Few-query lookups
   *  keep the direct cluster-pruned scan. */
  private[index] def rebalanceProbedScan(queriesDf: DataFrame, dim: Int): Boolean = {
    val plan = queriesDf.queryExecution.optimizedPlan
    val nQueries: BigInt = plan.stats.rowCount.getOrElse(plan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        BigInt(l.data.length)
      case _ => plan.stats.sizeInBytes / math.max(1, dim * 4)
    })
    nQueries >= 64
  }

  /** Sequential double fold over float inputs — the exact accumulation of
   *  the Catalyst distance expressions (and ExactServe): squared L2, or the
   *  negated dot for IP/cosine. Used by quantized range search so the
   *  radius decision and the double-replay oracle share one convention. */
  private[index] def doubleFoldDist(v: Array[Float], q: Array[Float], l2: Boolean): Double = {
    var s = 0.0
    var j = 0
    if (l2) while (j < v.length) {
      val x = v(j).toDouble - q(j).toDouble; s += x * x; j += 1
    } else {
      while (j < v.length) { s += v(j).toDouble * q(j).toDouble; j += 1 }
      s = -s
    }
    s
  }

  /** Engine-semantics distance to a literal query: squared L2 / negated
   *  IP / negated cos (stored vectors normalized). */
  private[index] def metricDistanceCol(metric: Metric, vec: Column,
      query: Array[Float]): Column =
    AnnEngine.metricDist(metric, vec, graft.functions.floatVec(query.toSeq))

  /**
   * `ann_search`: index scan + row fetch-back → base columns + `_distance`,
   * ordered by distance, ≤ k·oversample rows (reference src/ann_search.cpp:55-195).
   */
  def search(df: DataFrame, idColumn: String, name: String, query: Array[Float],
      k: Int, searchComplexity: Int = 0, oversample: Int = 1): DataFrame =
    fetchHits(df, idColumn,
      collectHits(df.sparkSession, name, query, k, searchComplexity, oversample))

  /** The rows of `df` whose [[idKey]] is a hit, plus the hit's `_distance`,
   *  in `hits` order — the one fetch-back of a collected hit list (the
   *  reference fetches by row id, src/ann_optimizer.cpp:114-118). Up to
   *  [[TombInlineMax]] hits the id set also reaches the parquet scan
   *  (PushedFilters: In(id, ...) for integral ids, [[idIn]]); past it (a
   *  wide radius) its plan string costs more than the pushdown saves and
   *  the broadcast join alone selects. Output order is the ENGINE's
   *  ranking, not a re-sort by the f32-cast `_distance` then id: the
   *  engine ranks near-ties by the full double distance (refine re-rank,
   *  ExactServe's double fold) and exact ties by the LONG key, where a
   *  float re-sort would flip pairs whose doubles differ below f32
   *  precision and an id re-sort would put STRING id "10" before "9". */
  private[graft] def fetchHits(df: DataFrame, idColumn: String,
      hits: Array[(Long, Float)]): DataFrame = {
    val distDf = df.sparkSession.createDataFrame(hits.toSeq.zipWithIndex.map {
        case (h, i) => Row(h._1, h._2, i) }.asJava,
      StructType(Seq(StructField("__ann_id", LongType),
        StructField("_distance", FloatType), StructField("__ann_rank", IntegerType))))
    val key = idKeyCol(df, idColumn)
    (if (hits.length > TombInlineMax) df else df.where(idIn(df, idColumn, hits.map(_._1))))
      .join(broadcast(distDf), key === col("__ann_id"))
      .drop("__ann_id")
      .orderBy(col("__ann_rank"))
      .drop("__ann_rank")
  }

  /** (row_id, _distance) LocalRelation over already-collected hits —
   *  consumption is job-free, so a scan whose result was materialized (a
   *  driver search, or an under-fill check) is never re-executed. */
  private[index] def localHitRows(spark: SparkSession, hits: Array[(Long, Float)]): DataFrame =
    spark.createDataFrame(hits.toSeq.map(h => Row(h._1, h._2)).asJava,
      StructType(Seq(StructField("row_id", LongType, nullable = false),
        StructField("_distance", FloatType, nullable = false))))

  /**
   * Single-query serving surface: top k·oversample `(row_id, _distance)`,
   * ordered by (distance, row_id) — the reference's `ann_search` row shape
   * (src/ann_search.cpp:55-195) without the base-row fetch-back, which only
   * attaches base-table columns. Where the engine's driver search serves the
   * index (graph indexes up to [[LocalSearchMaxShards]] shards from the
   * mmap shard cache, small table indexes from [[ExactServe]]) the hits
   * materialize as a `LocalRelation`, so no Spark job runs anywhere on the
   * path and end-to-end latency ≈ the index search itself. Otherwise the
   * answer is the engine's lazy distributed plan (the reference's
   * diskann_index_scan / faiss_index_scan). Bit-parity with [[search]]'s
   * `(id, _distance)` projection is pinned by AnnServeLocalSpec, and of the
   * two routes by RouteParitySpec.
   */
  def searchHits(spark: SparkSession, name: String, query: Array[Float],
      k: Int, searchComplexity: Int = 0, oversample: Int = 1): DataFrame =
    hitsFrame(spark, name, query, k, searchComplexity, oversample, None)

  /** Row-id selector for filtered search: `column` is the predicate over
   *  the index scan's `id` column (exact engines — Catalyst pushes it to
   *  the parquet scan); `fn` is the same predicate as a closure (graph
   *  engine — evaluated against shard hits during beam escalation). The
   *  two MUST agree; [[IdFilter.modEq]]/[[IdFilter.inSet]] construct
   *  matched pairs. */
  final case class IdFilter(column: Column, fn: Long => Boolean)
  object IdFilter {
    def modEq(m: Long, r: Long): IdFilter =
      IdFilter(pmod(col("id"), lit(m)) === lit(r),
        id => ((id % m) + m) % m == r)
    def inSet(ids: Set[Long]): IdFilter =
      IdFilter(idIn(ids), ids.contains)
  }

  /** [[IdFilter]] from a SQL predicate string over the column name `id`
   *  (e.g. `"id % 7 = 3"`, `"id IN (2, 4, 8)"`, `"id BETWEEN 10 AND 99"`).
   *  The string is parsed once and becomes BOTH halves of the filter: the
   *  Column (exact engines — resolved against the index scan, pushed to
   *  parquet) and the closure (graph engine — the analyzed expression is
   *  bound to a single LONG slot and compiled to a catalyst
   *  [[org.apache.spark.sql.catalyst.expressions.BasePredicate]] lazily per
   *  executor thread, codegen'd like any WHERE clause). This is what the
   *  `ann_search_filtered` SQL table function constructs. */
  def idFilterFromSql(spark: SparkSession, predSql: String): IdFilter = {
    val parsed = spark.sessionState.sqlParser.parseExpression(predSql)
    val colPred = GraftShim.column(parsed)
    // resolve + OPTIMIZE against a one-column (id LONG) plan: the closure
    // side must evaluate outside codegen, and only the optimizer rewrites
    // analysis-only nodes into evaluable form (BETWEEN → RuntimeReplaceable
    // whose replacement is a With common-expression tree → inlined by
    // RewriteWithExpression — neither stage is interpretable on its own)
    val probe = spark.range(1).toDF("id")
    val analyzed = probe.select(colPred).queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
    val analyzedExpr = analyzed.projectList.head match {
      case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
      case e => e
    }
    require(analyzedExpr.dataType == org.apache.spark.sql.types.BooleanType,
      s"ann filter predicate must be BOOLEAN, got ${analyzedExpr.dataType}: $predSql")
    // the Column half and the compiled-closure half evaluate the predicate
    // INDEPENDENTLY (exact scan vs per-shard beam filter) — a
    // nondeterministic predicate (rand(), uuid()) would make them disagree,
    // and the closure half additionally evaluates without per-partition
    // initialization; subqueries cannot evaluate in the closure at all.
    // Fail fast at parse time rather than wrong/throwing at task runtime.
    require(analyzedExpr.deterministic,
      s"ann filter predicate must be deterministic: $predSql")
    require(!analyzedExpr.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression]),
      s"ann filter predicate must not contain subqueries: $predSql")
    val optimized = probe.where(colPred).queryExecution.optimizedPlan
    val fn: Long => Boolean = optimized.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        new SqlIdPredicate(f.condition,
          f.child.output.find(_.name == "id").getOrElse(f.child.output.head))
    }.getOrElse {
      // the optimizer folded the filter away: an always-true predicate
      // leaves a bare scan, an always-false one an empty LocalRelation
      val alwaysFalse = optimized match {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          l.data.isEmpty
        case _ => false
      }
      ConstIdPredicate(!alwaysFalse)
    }
    IdFilter(colPred, fn)
  }

  /** Constant selector for predicates the optimizer folded to a literal. */
  private final case class ConstIdPredicate(value: Boolean)
      extends (Long => Boolean) {
    def apply(id: Long): Boolean = value
  }

  /** Serializable `Long => Boolean` over an optimized boolean expression of
   *  one LONG attribute; the compiled predicate and its scratch row are
   *  per-thread (executor tasks share the closure). */
  private final class SqlIdPredicate(
      expr: org.apache.spark.sql.catalyst.expressions.Expression,
      attr: org.apache.spark.sql.catalyst.expressions.Attribute)
      extends (Long => Boolean) with Serializable {
    @transient private lazy val local = ThreadLocal.withInitial(() => {
      val p = org.apache.spark.sql.catalyst.expressions.Predicate
        .create(expr, Seq(attr))
      (p, new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1))
    })
    def apply(id: Long): Boolean = {
      val (p, row) = local.get()
      row.update(0, id)
      p.eval(row)
    }
  }

  /** Escalation start for filtered graph search, as a multiple of k. */
  val FilteredOverfetch = 4

  /**
   * Attribute-filtered ANN search — the FAISS `SearchParameters.sel`
   * (IDSelector) analog. The reference exposes no selector surface of its
   * own; its one in-search selector is the tombstone set, which it handles
   * by over-requesting `k + |deleted|` (src/diskann_index.cpp:558-561) —
   * this operator generalizes that treatment to arbitrary row-id
   * predicates:
   *
   *  - **flat**: the predicate Column is spliced into the index scan BEFORE
   *    the top-k, so Catalyst pushes it into the parquet scan (visible as
   *    PushedFilters) and the answer is the EXACT top-k of the allowed
   *    subset — no overfetch, no retry, and at 100 TB the filter prunes IO
   *    instead of post-filtering a transfer.
   *  - **ivfflat**: same spliced predicate over the PROBED clusters — the
   *    answer is exact within the probed subset (FAISS IVF + IDSelector
   *    semantics: selectivity does not widen the probe). When the probed
   *    clusters yield fewer than k allowed hits and nprobe < nlist, the
   *    scan escalates once to nprobe = nlist, making the answer exact for
   *    any selectivity at full-scan cost — the IVF analog of the graph
   *    route's saturation.
   *  - **graph engines** (diskann, hnsw): per-shard beam search with
   *    escalating over-fetch — start at `k·FilteredOverfetch` (4×), drop
   *    disallowed hits, and double the fetch until the shard yields k
   *    allowed hits or the beam reaches the shard's node count, at which
   *    point every node REACHABLE from the entry points has been visited
   *    and the shard's answer is exact for any selectivity
   *    (FilteredSearchSpec pins this saturation contract against the flat
   *    route). Reachability is ENFORCED, not assumed: the saturating step
   *    runs through `GraphIndex.searchSaturationChecked`, which detects a
   *    beam that visited fewer labels than the shard holds (nodes orphaned
   *    by delete/append churn before a vacuum) and linear-scans the missing
   *    labels, merging by (distance, label) — so even a disconnected live
   *    node is found (SaturationReachabilitySpec; the reference's
   *    over-request has the same blind spot unpatched,
   *    src/diskann_index.cpp:558-561). Escalation is per-shard and
   *    independent, so a selective filter costs extra hops only on shards
   *    that actually lack allowed neighbors.
   *
   * Routed as [[searchHits]] is, through the same engine search: a
   * LocalRelation of the driver search's hits (the filter applied beside the
   * tombstone check, with the same nprobe retry), else the lazy distributed
   * plan. Returns `(row_id, _distance)` ordered, ≤ k rows.
   */
  def searchFiltered(spark: SparkSession, name: String, query: Array[Float],
      k: Int, filter: IdFilter, searchComplexity: Int = 0): DataFrame =
    hitsFrame(spark, name, query, k, searchComplexity, 1, Some(filter))

  /**
   * `ann_range_search`: every row within `radius` of `query` under the
   * index's engine distance semantics (squared L2 / negated IP / negated
   * cosine — same `_distance` column as [[search]]); the FAISS
   * `range_search` analog.
   *
   * Exact engines answer with ONE distributed filter over the index
   * parquet — no top-k heap, no driver collect; the radius predicate and
   * two-column projection reach the scan, so at 100 TB this is a single
   * pruned pass whose output can itself be huge without ever pooling on
   * the driver. `ivfflat` prunes to the probed clusters (with
   * nprobe < nlist the result is approximate exactly like top-k search).
   *
   * Graph/quantized engines reuse the serving path with geometrically
   * expanding k (64, 256, 1024, …). Termination contract: the loop stops
   * as soon as either (a) the k-th returned distance EXCEEDS the radius —
   * every in-radius hit the traversal can reach has been captured, because
   * the beam width grows with k (`l = max(k, searchComplexity)`) so a
   * request for k results always searches at least that deep — or (b) the
   * index returned fewer than k hits, i.e. the reachable node set is
   * exhausted. Termination is guaranteed: k grows geometrically and the
   * hit count is bounded by the index size.
   *
   * Completeness contract: results are a SUBSET of the exact answer
   * (distances are re-checked against the radius), but rows can be MISSED
   * exactly where top-k graph traversal would miss them — beam-search
   * recall < 1. Raising `searchComplexity` raises the recall floor
   * (AnnSpec pins ≥90% at sc=100 on the test corpus); for a guaranteed
   *-complete answer use a flat/ivfflat index, whose radius pruning is
   * exact. Driver memory is O(|hits|), so graph engines suit *selective*
   * radii; use an exact engine when the ball may contain a large fraction
   * of the corpus.
   */
  def rangeSearch(df: DataFrame, idColumn: String, name: String,
      query: Array[Float], radius: Float, searchComplexity: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val meta = IndexCatalog.load(root(spark), name)
    val tomb = IndexCatalog.readTombstones(root(spark), name)
    requireMetricSpaceRadius(meta, "rangeSearch")
    AnnEngine.of(meta).rangeSearch(df, idColumn, meta, tomb, query, radius, searchComplexity)
  }

  /**
   * Range search with a TABLE of query vectors — every (query, base row)
   * pair within `radius`, output = input columns + `tbl_`-prefixed base
   * columns + `_distance` (the range analog of [[searchTable]]).
   *
   * Broadcast-gemm shape: each base partition scores the (small) broadcast
   * query table locally and keeps in-radius pairs — the base side stays
   * partition-parallel, nothing pools on the driver, and the output can be
   * arbitrarily large without a top-k heap. On ivfflat + L2 with stored
   * cluster radii, each query explodes to only the clusters its ball can
   * intersect (triangle inequality) and equi-joins on the cluster column —
   * per-query pruning with EXACT results; other metrics fall back to the
   * nprobe probe set like top-k search.
   *
   * Quantized engines (pq/ivfpq/ivfsq) answer in CODE SPACE with the same
   * double-fold reconstruction distance as single-query [[rangeSearch]]:
   * ivfsq + L2 prunes per query over the DEQUANTIZED cluster radii (exact
   * in code space at any nprobe), ivfpq and non-L2 ivfsq use the per-query
   * nprobe probe set, pq scans all codes.
   *
   * Graph engines (diskann/hnsw) run the single-query expanding-k beam loop
   * per (query, shard) on the [[searchTable]] task grid. Completeness
   * contract (same as single-query graph range): results are a SUBSET of
   * the exact ball — distances are re-checked — with misses possible
   * exactly where beam traversal would miss them; a saturating
   * `searchComplexity` ≥ shard size makes each shard's ball exact (the
   * oracled-twin pattern, docs/ORACLES.md §3). lsh is rejected: Hamming
   * codes carry no metric-space distance.
   */
  def rangeSearchTable(queriesDf: DataFrame, queryVecColumn: String,
      baseDf: DataFrame, idColumn: String, name: String,
      radius: Float, searchComplexity: Int = 0): DataFrame = {
    val spark = queriesDf.sparkSession
    val meta = IndexCatalog.load(root(spark), name)
    val tomb = IndexCatalog.readTombstones(root(spark), name)
    requireMetricSpaceRadius(meta, "rangeSearchTable")
    val hits = AnnEngine.of(meta).rangeSearchTable(queriesDf, queryVecColumn, meta, tomb,
      radius, searchComplexity)
    joinBaseWithPrefix(baseDf, idColumn, hits, queriesDf.schema.fieldNames.toSet)
  }

  private implicit class SeqOps[T](s: Seq[T]) {
    def asJava: java.util.List[T] = {
      val l = new java.util.ArrayList[T](s.size)
      s.foreach(l.add)
      l
    }
  }

  /**
   * `ann_search_batch`: nq query vectors at once → query_idx INT + base
   * columns + `_distance`, k rows per query (reference src/ann_search.cpp:202-388).
   * Shard-parallel: every task searches its shard for all queries (the Spark
   * analog of the reference's lock-step batch BFS).
   */
  def searchBatch(df: DataFrame, idColumn: String, name: String,
      queries: Seq[Array[Float]], k: Int, searchComplexity: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val meta = IndexCatalog.load(root(spark), name)
    val tomb = IndexCatalog.readTombstones(root(spark), name)
    val scored = AnnEngine.of(meta).searchBatch(spark, meta, queries, k, tomb,
      searchComplexity)
    val w = Window.partitionBy("query_idx").orderBy(col("_distance"), col("row_id"))
    val topPerQuery = scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k).drop("__rn")
    joinBase(df, idColumn, topPerQuery, Seq("query_idx"))
      .orderBy(col("query_idx"), col("_distance"), col(idColumn))
  }

  /** First numeric-array column of `schema` — the reference's query-vector
   *  auto-detection for TABLE inputs (src/ann_search.cpp:471-494: first LIST
   *  or ARRAY column with FLOAT/DOUBLE/DECIMAL/integer child, schema order). */
  def detectVectorColumn(schema: StructType): String =
    schema.fields.collectFirst {
      case f if (f.dataType match {
        case ArrayType(et, _) =>
          et.isInstanceOf[org.apache.spark.sql.types.NumericType]
        case _ => false
      }) => f.name
    }.getOrElse(throw new IllegalArgumentException(
      "ann_search_table: input table must have a numeric array column for query vectors"))

  /** [[searchTable]] with the query-vector column auto-detected (reference
   *  src/ann_search.cpp:471-494). */
  def searchTable(queriesDf: DataFrame, baseDf: DataFrame,
      idColumn: String, name: String, k: Int, searchComplexity: Int): DataFrame =
    searchTable(queriesDf, detectVectorColumn(queriesDf.schema), baseDf,
      idColumn, name, k, searchComplexity)

  /**
   * `ann_search_table`: DataFrame-input batch search — output = input columns
   * + base columns (collisions prefixed `tbl_`) + `_distance`
   * (reference src/ann_search.cpp:397-691).
   *
   * Graph engines run a (query-block × shard) task grid: every task holds ONE
   * shard and lock-step-searches its query block against it, and a per-query
   * window re-merges shard-local top-k into global top-k. No task ever needs
   * more than one shard resident, so the index can exceed executor memory —
   * shards spread across the cluster while query blocks keep all cores busy
   * even at low shard counts. Table engines broadcast the query block
   * against one scan of the index table (the gemm-shaped plan).
   */
  def searchTable(queriesDf: DataFrame, queryVecColumn: String, baseDf: DataFrame,
      idColumn: String, name: String, k: Int, searchComplexity: Int = 0): DataFrame = {
    val spark = queriesDf.sparkSession
    val meta = IndexCatalog.load(root(spark), name)
    val tomb = IndexCatalog.readTombstones(root(spark), name)
    val hits = AnnEngine.of(meta).searchTable(queriesDf, queryVecColumn, meta, k, tomb,
      searchComplexity)
    joinBaseWithPrefix(baseDf, idColumn, hits, queriesDf.schema.fieldNames.toSet)
  }

  /** Executor-JVM-wide ADC lookup-table cache for the TABLE-path quantized
   *  scores in [[TableEngine.searchTable]], scoped per plan by a driver-issued
   *  token (captured in the scoring UDF's closure, so task retries see the
   *  same token). Keyed (qid, probe); a hit verifies the stored query
   *  bit-for-bit (`Arrays.equals`) before use, so a `__qid` that maps to a
   *  different query in a later re-execution (task retry, stage
   *  re-attempt, speculative duplicate) can never serve a stale table —
   *  the qid is a cache locator, the query content is the authority, and a
   *  mismatch recomputes from the authoritative bytes (pinned by
   *  AdcLutCacheSpec). At most 4 plan tokens stay resident (LRU), and
   *  entries are held through [[java.lang.ref.SoftReference]]s so a
   *  finished plan's LUTs (#queries × nprobe × m·k floats — ~136 MB for
   *  512 q × nprobe 32 × 8×256 floats) are reclaimable under heap
   *  pressure instead of pinning executor heap until 4 newer plans arrive;
   *  a collected entry is indistinguishable from a miss and recomputes. */
  private[graft] object AdcLutCache {
    final case class Entry(q: Array[Float], lut: Array[Float], off: Float)
    private type Ref = java.lang.ref.SoftReference[Entry]
    private[graft] type Sub =
      java.util.concurrent.ConcurrentHashMap[java.lang.Long, Ref]
    private val tokens = new java.util.LinkedHashMap[Long, Sub](8, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Long, Sub]): Boolean =
        size > 4
    }
    /** Compute invocations — observability for AdcLutCacheSpec only. */
    private[graft] val computes = new java.util.concurrent.atomic.AtomicLong()
    private[graft] def residentTokens: Int = tokens.synchronized(tokens.size)
    /** Resolve the per-plan sub-map ONCE (global lock + LRU touch). Callers
     *  on the per-row hot path hold the Sub and go through [[getIn]], which
     *  is lock-free — routing every row through this synchronized block
     *  serialized all 32 scoring threads (the ~100M-row probe join spent
     *  more time contending here than computing distances). */
    private[graft] def subFor(token: Long): Sub = tokens.synchronized {
      var mm = tokens.get(token)
      if (mm == null) { mm = new Sub(); tokens.put(token, mm) }
      mm
    }
    /** (qid, probe) packed to one boxed-Long CHM key. qids on this path are
     *  driver-assigned indexes (< 2^31); probe is -1 (pq) or < nlist. */
    @inline private def key(qid: Long, probe: Int): java.lang.Long =
      java.lang.Long.valueOf((qid << 32) | (probe.toLong & 0xffffffffL))
    def getIn(m: Sub, qid: Long, probe: Int, q: Array[Float])
        (compute: => (Array[Float], Float)): Entry = {
      val k = key(qid, probe)
      val ref = m.get(k)
      val hit = if (ref == null) null else ref.get()
      // reference fast-path: the frozen-broadcast route hands every call
      // for a qid the SAME array instance, so `eq` short-circuits the
      // content verify without weakening it (eq ⇒ equals)
      if (hit != null && ((hit.q eq q) || java.util.Arrays.equals(hit.q, q))) hit
      else {
        computes.incrementAndGet()
        val (l, o) = compute
        val e = Entry(q, l, o)
        m.put(k, new Ref(e))
        e
      }
    }
    def get(token: Long, qid: Long, probe: Int, q: Array[Float])
        (compute: => (Array[Float], Float)): Entry =
      getIn(subFor(token), qid, probe, q)(compute)
  }
  private[index] val adcPlanTokens = new java.util.concurrent.atomic.AtomicLong()
  /**
   * Measured recall@k of an index against exact brute force, over a
   * deterministic sample of the base table's own vectors — the operability
   * check a deployment runs after building or appending (is this index
   * still serving what an exact scan would?). Returns ONE row:
   * `(name, k, sample_n, eff_n, recall)` — `sample_n` is the REQUESTED
   * sample size, `eff_n` the queries actually available (fewer on a small
   * table).
   *
   * Recall is DISTANCE-based: an index hit counts as correct when its exact
   * distance is <= the exact k-th distance for that query, so an index that
   * returns a different-but-equally-distant id at rank k (common on
   * quantized / low-dim tie-heavy data) is not penalized for the arbitrary
   * id tiebreak the exact side uses.
   *
   * Shape: the sample (first `sampleN` ids) searches through the index via
   * the TABLE path (one grid/gemm plan, not per-query jobs); the exact side
   * scores the broadcast query block against the full base in ONE
   * whole-stage-codegen pass (cosine fuses normalization via
   * `array_cosine_similarity` — no per-row UDF) that simultaneously ranks
   * the exact top-k and scores the index's hits. Output collects are
   * 2·k·sampleN-bounded.
   */
  def measureRecall(df: DataFrame, vecCol: String, idColumn: String,
      name: String, k: Int, sampleN: Int,
      searchComplexity: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val meta = IndexCatalog.load(root(spark), name)
    // materialize the (sampleN-bounded) query block as a fresh local
    // relation: it is joined against its OWN source table on both branches,
    // and shared lineage would make every column reference ambiguous
    val qRows = df.select(col(idColumn).cast(LongType).as("__rq_id"),
        toFloatVec(col(vecCol)).as("__qv"))
      .orderBy("__rq_id").limit(sampleN).collect()
    val queries = spark.createDataFrame(qRows.toSeq.asJava,
      StructType(Seq(StructField("__rq_id", LongType),
        StructField("__qv", ArrayType(FloatType)))))
    val approx = searchTable(queries, "__qv", df, idColumn, name, k,
        searchComplexity)
      .select(col("__rq_id"), col(idColumn).cast(LongType).as("__bid"))
      .withColumn("__isA", lit(true))
    val base = df.select(col(idColumn).cast(LongType).as("__bid"),
      toFloatVec(col(vecCol)).as("__bv"))
    // engine-semantics distance between two COLUMN vectors, all codegen:
    // cosine folds both normalizations into the fused similarity kernel
    val distCol = meta.metricObj match {
      case Metric.L2 => array_distance_sq(col("__bv"), col("__q"))
      case Metric.Cosine => -array_cosine_similarity(col("__bv"), col("__q"))
      case _ => array_negative_inner_product(col("__bv"), col("__q"))
    }
    val w = Window.partitionBy("__rq_id").orderBy(col("__d"), col("__bid"))
    // same row-lopsided-split rebalance as measureRecallMany's exact side
    val scored = base.repartition(spark.sparkContext.defaultParallelism)
      .crossJoin(broadcast(queries.withColumnRenamed("__qv", "__q")))
      .withColumn("__d", distCol)
      .join(broadcast(approx), Seq("__rq_id", "__bid"), "left")
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k || col("__isA"))
      .select(col("__rq_id"), col("__d"), col("__rn"), col("__isA"))
      .collect()
    // driver-side (2·k·sampleN rows): per-query exact k-th distance, then
    // distance-thresholded hit counting. The index hit's __d comes from the
    // SAME codegen expression as the exact side, so ties compare bit-equal.
    val kth = scored.filter(_.getInt(2) <= k)
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getDouble(1)).max
      }
    val denom = scored.count(_.getInt(2) <= k).toLong
    val hits = scored.count { r =>
      !r.isNullAt(3) && kth.get(r.getLong(0)).exists(r.getDouble(1) <= _)
    }
    // Metric note (changed round 8): `recall` is DISTANCE-THRESHOLDED — an
    // index hit counts when its distance ≤ the exact k-th distance, so ties
    // at the boundary are not penalized for the exact side's arbitrary id
    // tiebreak. `recall_ids` is the stricter classic id-set recall
    // (hit iff the returned id is in the exact top-k id set); emit both so
    // trends stay comparable with pre-round-8 numbers and the 0.9 scale bar
    // can name which metric it is pinned to.
    val idHits = scored.count(r => r.getInt(2) <= k && !r.isNullAt(3)).toLong
    val recall = if (denom == 0) 0.0 else hits.toDouble / denom
    val recallIds = if (denom == 0) 0.0 else idHits.toDouble / denom
    Seq((name, k, sampleN.toLong, qRows.length.toLong, recall, recallIds))
      .toDF("name", "k", "sample_n", "eff_n", "recall", "recall_ids")
  }

  /** Recall@k for SEVERAL indexes over the same corpus, computing the exact
   *  brute-force ground truth ONCE per distinct metric instead of once per
   *  index. The full-corpus crossJoin (the expensive side: N·sampleN
   *  distance evaluations) is shared; each index then pays only its own
   *  searchTable probe plus one broadcast-join scan of the corpus to score
   *  its ≤ k·sampleN hits. Every distance on both sides of every comparison
   *  comes from the same codegen expression over the same column values as
   *  [[measureRecall]], so the two surfaces are bit-identical per name
   *  (RecallManySpec pins parity on all three metrics). One output row per
   *  index name; semantics of `recall` vs `recall_ids` as in
   *  [[measureRecall]]. */
  def measureRecallMany(df: DataFrame, vecCol: String, idColumn: String,
      names: Seq[String], k: Int, sampleN: Int,
      searchComplexity: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val metas = names.map(nm => nm -> IndexCatalog.load(root(spark), nm))
    val qRows = df.select(col(idColumn).cast(LongType).as("__rq_id"),
        toFloatVec(col(vecCol)).as("__qv"))
      .orderBy("__rq_id").limit(sampleN).collect()
    val queries = spark.createDataFrame(qRows.toSeq.asJava,
      StructType(Seq(StructField("__rq_id", LongType),
        StructField("__qv", ArrayType(FloatType)))))
    val base = df.select(col(idColumn).cast(LongType).as("__bid"),
      toFloatVec(col(vecCol)).as("__bv"))
    def distFor(m: graft.core.Metric) = m match {
      case Metric.L2 => array_distance_sq(col("__bv"), col("__q"))
      case Metric.Cosine => -array_cosine_similarity(col("__bv"), col("__q"))
      case _ => array_negative_inner_product(col("__bv"), col("__q"))
    }
    // shared exact side: top-k ids + distances per query, one crossJoin per
    // DISTINCT metric (indexes over one corpus usually share one metric).
    // Round-robin the corpus first: the crossJoin stage does N·sampleN
    // distance evaluations with per-task work proportional to input-split
    // ROWS, and a clustered corpus's parquet splits can be row-lopsided
    // even at uniform bytes (row-group compression tracks cluster
    // geometry — the clustered 1.5M smoke recorded 66× max/median task
    // skew in this op before the exchange, SCALE_ANN_CL_r11). One cheap
    // shuffle of the corpus against the dominant compute stage
    val exactBase = base.repartition(spark.sparkContext.defaultParallelism)
    val exactByMetric = metas.map(_._2.metricObj).distinct.map { m =>
      val w = Window.partitionBy("__rq_id").orderBy(col("__d"), col("__bid"))
      val rows = exactBase
        .crossJoin(broadcast(queries.withColumnRenamed("__qv", "__q")))
        .withColumn("__d", distFor(m))
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") <= k)
        .select(col("__rq_id"), col("__bid"), col("__d"))
        .collect()
      m -> rows
    }.toMap
    val out = metas.map { case (nm, meta) =>
      val exact = exactByMetric(meta.metricObj)
      val kth = exact.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getDouble(2)).max
      }
      val exactIds = exact.map(r => (r.getLong(0), r.getLong(1))).toSet
      val denom = exact.length.toLong
      val approx = searchTable(queries, "__qv", df, idColumn, nm, k,
          searchComplexity)
        .select(col("__rq_id"), col(idColumn).cast(LongType).as("__bid"))
      // score the hits with one broadcast-join scan of base: same distance
      // expression and inputs as the exact side, so ties compare bit-equal
      val hitRows = base
        .join(broadcast(approx), Seq("__bid"))
        .join(broadcast(queries.withColumnRenamed("__qv", "__q")), Seq("__rq_id"))
        .withColumn("__d", distFor(meta.metricObj))
        .select(col("__rq_id"), col("__bid"), col("__d"))
        .collect()
      val hits = hitRows.count(r =>
        kth.get(r.getLong(0)).exists(r.getDouble(2) <= _)).toLong
      val idHits = hitRows.count(r =>
        exactIds((r.getLong(0), r.getLong(1)))).toLong
      val recall = if (denom == 0) 0.0 else hits.toDouble / denom
      val recallIds = if (denom == 0) 0.0 else idHits.toDouble / denom
      (nm, k, sampleN.toLong, qRows.length.toLong, recall, recallIds)
    }
    out.toDF("name", "k", "sample_n", "eff_n", "recall", "recall_ids")
  }

  /** `faiss_gpu_info()` analog: the JVM engine has no GPU backend; cluster
   *  parallelism is the replacement lever (reference src/faiss_fn_gpu.cpp). */
  def gpuInfo(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((false, "cpu")).toDF("available", "device")
  }

  /** Join hits (must contain row_id, _distance [+ extra cols]) back to base. */
  private def joinBase(base: DataFrame, idColumn: String, hits: DataFrame,
      extraCols: Seq[String]): DataFrame = {
    base.join(hits, base(idColumn) === hits("row_id"))
      .drop("row_id")
  }

  /** Join back to base, prefixing base columns that collide with query-input
   *  columns with `tbl_` (reference src/ann_search.cpp:521-525). */
  private[index] def joinBaseWithPrefix(base: DataFrame, idColumn: String, hits: DataFrame,
      inputCols: Set[String]): DataFrame = {
    val renamed = base.columns.foldLeft(base) { (b, c) =>
      if (inputCols.contains(c)) b.withColumnRenamed(c, s"tbl_$c") else b
    }
    val joinId = if (inputCols.contains(idColumn)) s"tbl_$idColumn" else idColumn
    renamed.join(hits, renamed(joinId) === hits("row_id")).drop("row_id")
  }

  /**
   * `vector_distances`: distance of query vs every input row — a pure
   * projection; whole-stage codegen does the batching (reference
   * src/ann_search.cpp:741-892 needs a GPU one-shot path for this; Spark's
   * columnar pipeline is the equivalent lever).
   */
  def vectorDistances(df: DataFrame, column: String, query: Array[Float],
      metric: String = "l2"): DataFrame = {
    val m = Metric.fromName(metric)
    val q = if (m eq Metric.Cosine) VectorOps.normalize(query.clone()) else query
    val vec = toFloatVec(col(column))
    val dist = m match {
      case Metric.L2 => array_distance_sq(vec, graft.functions.floatVec(q.toSeq))
      case Metric.Cosine =>
        // cosine against unnormalized stored vectors: use cosine distance sign
        graft.functions.array_negative_inner_product(
          graft.functions.toFloatVec(normalizeCol(vec)), graft.functions.floatVec(q.toSeq))
      case _ => array_negative_inner_product(vec, graft.functions.floatVec(q.toSeq))
    }
    df.withColumn("_distance", dist.cast(FloatType))
  }

  private[index] def normalizeCol(vec: Column): Column = {
    val n = sqrt(aggregate(transform(vec, x => x * x), lit(0.0d), (a, x) => a + x))
    transform(vec, x => when(n > 0, x / n).otherwise(x))
  }

  /**
   * FAISS `reconstruct`/`reconstruct_n` analog: decode the STORED
   * representation of the given ids back to vectors —
   * (row_id LONG, vector ARRAY&lt;FLOAT&gt;), row_id ascending.
   *
   * Per engine (mirroring each FAISS index's reconstruct semantics):
   *  - flat/ivfflat and the graph engines return the stored vector
   *    (normalized when the metric is cosine — reconstruction is of what
   *    the index SEARCHES, exactly FAISS's contract for preprocessed adds);
   *    graph shards decode through the same ShardCache the serve path uses,
   *    so a quantized DiskANN shard returns its SQ dequantization;
   *  - pq decodes subspace codes (OPQ applies the inverse rotation Rᵀ —
   *    IndexPreTransform.reconstruct's reverse_transform);
   *  - ivfpq returns coarse centroid + decoded residual;
   *  - ivfsq returns the per-dim dequantization levels (SQ8 or packed
   *    SQ4/SQ6);
   *  - RFlat-refined code engines return the refine storage's exact raw
   *    vectors (FAISS IndexRefineFlat.reconstruct);
   *  - unrefined lsh rejects: sign codes are not reconstructible (FAISS
   *    IndexLSH has no reconstruct either; LSH,RFlat keeps raw vectors and
   *    reconstructs exactly via the refined arm above).
   * Tombstoned ids are omitted. The ids list is a driver-side argument by
   * contract (point lookups); each engine's decode runs distributed over
   * the code/vector table, so the scan scales with the corpus, not the
   * driver.
   */
  def reconstruct(spark: SparkSession, name: String, ids: Seq[Long]): DataFrame = {
    val meta = IndexCatalog.load(root(spark), name)
    val tomb = IndexCatalog.readTombstones(root(spark), name)
    val want = ids.toSet -- tomb
    // idIn: a reconstruct_n-sized id list (100k+) rides one InSet node, never
    // a 100k-literal In
    reconstructImpl(spark, meta, idIn(want), want.contains)
  }

  /** FAISS `reconstruct_n(i0, ni)` analog: reconstruct the contiguous id
   *  range [i0, i0+ni) — the batch-shaped entry point. The range rides TWO
   *  comparison predicates (pushed to the scan as min/max filters — parquet
   *  row groups outside the range are never read) at any ni, so a
   *  100k-vector export never builds a 100k-literal plan. Same per-engine
   *  decode, tombstone-omission, and transform-chain inverse as
   *  [[reconstruct]]. */
  def reconstructN(spark: SparkSession, name: String, i0: Long, ni: Long): DataFrame = {
    val meta = IndexCatalog.load(root(spark), name)
    val tomb = IndexCatalog.readTombstones(root(spark), name)
    val end = i0 + ni
    val pred0 = col("id") >= i0 && col("id") < end
    val pred = if (tomb.isEmpty) pred0 else pred0 && notTombstoned(col("id"), tomb)
    reconstructImpl(spark, meta, pred,
      id => id >= i0 && id < end && !tomb.contains(id))
  }

  /** Shared tail of [[reconstruct]]/[[reconstructN]]: the engine decodes the
   *  selected ids — `pred` filters the code/vector table scan (Column form,
   *  pushes to parquet), `keep` is the same predicate as a closure for graph
   *  shards, which decode outside Catalyst; the two MUST agree (the
   *  [[IdFilter]] contract) — then transform chains are inverted. */
  private def reconstructImpl(spark: SparkSession, meta: IndexMeta,
      pred: Column, keep: Long => Boolean): DataFrame = {
    val out = AnnEngine.of(meta).reconstruct(spark, meta, pred, keep)
    // transform-chained indexes (PCA/PCAR/OPQ-chain) store vectors in the
    // rotated space; reconstruct maps them back through Rᵀ·y + mean —
    // FAISS IndexPreTransform.reconstruct's reverse_transform, valid for
    // orthonormal rotations (at reduced dim the transpose is the
    // minimum-norm pseudo-inverse, FAISS's choice). Whitened rotations are
    // not orthonormal: reject, like rangeSearch does.
    val back = if (meta.pcaFile.isEmpty) out else {
      require(meta.pcaVariant != "w",
        s"reconstruct: whitened PCAW index '${meta.name}' has no orthonormal " +
        "inverse (FAISS PCAMatrix reverse_transform requires is_orthonormal)")
      out.withColumn("vector", pcaCol(spark, meta.pcaFile, col("vector"), inverse = true))
    }
    back.orderBy("row_id")
  }

  // ----------------------------------------------------- maintenance / DML

  /** Tombstone ids (reference Delete, src/diskann_index.cpp:363-385). */
  def delete(spark: SparkSession, name: String, ids: Seq[Long]): Unit = {
    val r = root(spark)
    val meta = IndexCatalog.load(r, name)
    val tomb = IndexCatalog.readTombstones(r, name) ++ ids
    IndexCatalog.writeTombstones(r, name, tomb)
    IndexCatalog.save(r, meta.copy(numDeleted = tomb.size.toLong))
  }

  /** Append new rows: graph engines get delta shards, built on the driver
   *  below the gate (reference Append, diskann_index.cpp:316-357, route op
   *  `ann.write`); exact/quantized engines append to
   *  their parquet table (encoded with the EXISTING codebooks/centroids —
   *  FAISS add() semantics: the quantizer never retrains on add). */
  def append(df: DataFrame, column: String, idColumn: String, name: String): IndexMeta =
    append(df, column, idColumn, name, BuildParams().targetShardSize)

  /** [[append]] with `splitRows` rows per delta shard of a graph batch that
   *  runs distributed. */
  private[graft] def append(df: DataFrame, column: String, idColumn: String, name: String,
      splitRows: Long): IndexMeta = {
    val meta = IndexCatalog.load(root(df.sparkSession), name)
    AnnEngine.of(meta).append(df, column, idColumn, meta, splitRows)
  }

  /** Serve-time probe width, matching FAISS's MUTABLE `index.nprobe` field
   *  (the reference carries nprobe as a runtime search parameter beside the
   *  built structure, src/include/faiss_index.hpp:38-43): rewrites the
   *  catalog metadata so every serve surface — single-query, batch, TABLE,
   *  range — picks up the new probe set on its next plan. The stored IVF
   *  assignment is untouched; `nprobe = nlist` makes the scan exact. */
  def setNprobe(spark: SparkSession, name: String, nprobe: Int): IndexMeta = {
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    val meta = IndexCatalog.load(root(spark), name)
    require(AnnEngine.of(meta).ivf,
      s"nprobe applies to IVF engines; '$name' is ${meta.engine}")
    val updated = meta.copy(nprobe = math.min(nprobe, meta.nlist))
    IndexCatalog.save(root(spark), updated)
    updated
  }

  /** Serve-time RFlat k_factor update (FAISS `IndexRefineFlat.k_factor` is
   *  likewise mutable post-build): widens/narrows the exact re-rank window
   *  without rebuilding. 0 restores the session-conf fallback. */
  def setRefineK(spark: SparkSession, name: String, refineK: Int): IndexMeta = {
    require(refineK >= 0, s"refineK must be >= 0 (got $refineK)")
    val meta = IndexCatalog.load(root(spark), name)
    require(meta.refine,
      s"refineK applies to RFlat indexes; '$name' has no refine stage")
    val updated = meta.copy(refineK = refineK)
    IndexCatalog.save(root(spark), updated)
    updated
  }

  /** Vacuum: rewrite the index without tombstoned rows, clear tombstones
   *  (reference src/diskann_index.cpp:701-741). Graph engines rebuild their
   *  shards; exact/quantized engines rewrite the parquet table into a
   *  versioned directory — without this, deletes would pay the NOT IN
   *  filter on every scan forever. The new generation is published before
   *  the superseded files and tombstones are deleted, so a failure at any
   *  step leaves a consistent index. Single-writer (like the reference's
   *  Vacuum): re-plan after mutations. */
  def vacuum(spark: SparkSession, name: String): IndexMeta = {
    val r = root(spark)
    val meta = IndexCatalog.load(r, name)
    val tomb = IndexCatalog.readTombstones(r, name)
    if (tomb.isEmpty) meta else AnnEngine.of(meta).vacuum(spark, meta, tomb)
  }

  /** Compact an exact/quantized index's parquet table: repeated micro-batch
   *  appends accumulate one small file per batch (the exact-engine analog of
   *  graph delta shards, which StreamingIndex.compact folds); this rewrites
   *  the table into ~128 MB files
   *  (ivf engines: one file per cluster partition), dropping any tombstoned
   *  rows on the way. Same single-writer contract as vacuum. */
  def compactExact(spark: SparkSession, name: String): IndexMeta = {
    val r = root(spark)
    val meta = IndexCatalog.load(r, name)
    val engine = AnnEngine.of(meta)
    require(!engine.isGraph,
      s"compactExact applies to exact/quantized engines (got ${meta.engine}); " +
      "graph indexes compact via StreamingIndex.compact")
    engine.vacuum(spark, meta, IndexCatalog.readTombstones(r, name))
  }

  /** Merge `source` into `target` (engines of one family, same dim and
   *  metric): graph indexes adopt the source's live shards + tombstones
   *  (reference MergeIndexes, src/diskann_index.cpp:655-699), flat indexes
   *  its parquet files (FAISS `IndexFlat::merge_from`). */
  def merge(spark: SparkSession, target: String, source: String): IndexMeta = {
    val r = root(spark)
    val t = IndexCatalog.load(r, target)
    val s = IndexCatalog.load(r, source)
    val engine = AnnEngine.of(t)
    require(AnnEngine.of(s) == engine,
      s"merge needs indexes of one engine (got ${t.engine}/${s.engine})")
    require(t.dim == s.dim && t.metric == s.metric,
      s"incompatible indexes: ${t.dim}/${t.metric} vs ${s.dim}/${s.metric}")
    engine.merge(spark, r, t, s)
  }

  // ------------------------------------------------------------ diagnostics

  /** `ann_list()` (reference src/ann_list.cpp:35-90). */
  def list(spark: SparkSession): DataFrame = {
    import spark.implicits._
    IndexCatalog.list(root(spark))
      .map(m => (m.name, m.engine, m.metric)).toDF("name", "engine", "metric")
  }

  /** `ann_index_info()` (reference src/ann_list.cpp:97-221). */
  def indexInfo(spark: SparkSession): DataFrame = {
    import spark.implicits._
    IndexCatalog.list(root(spark)).map { m =>
      val memBytes = m.shards.map(s => new java.io.File(s.file).length()).sum
      (m.name, m.engine, m.metric, m.dim, m.numVectors, m.numDeleted, memBytes, m.quantized)
    }.toDF("name", "engine", "metric", "dimension", "num_vectors", "num_deleted",
      "memory_bytes", "quantized")
  }

  def drop(spark: SparkSession, name: String): Boolean =
    IndexCatalog.drop(root(spark), name)

  // -------------------------------------------------------- streaming build

  /**
   * Two-pass build from a raw `[u32 n][u32 dim][f32×N×D]` little-endian binary
   * file (reference diskann_streaming_build, rust_lib/src/streaming_build.rs:46-122).
   * Distributed: byte-ranges are read per task; the reference's pilot-sample
   * idea maps to the shard partitioning itself. Returns (num_vectors,
   * dimension, sample_size).
   */
  def streamingBuild(spark: SparkSession, inPath: String, name: String,
      params: BuildParams = BuildParams()): (Long, Int, Long) = {
    import spark.implicits._
    val f = new java.io.File(inPath)
    require(f.isFile, s"input file does not exist: $inPath")
    require(f.length() >= 8, s"input file too small: $inPath")
    val (n, dim) = {
      val in = new java.io.DataInputStream(new java.io.FileInputStream(f))
      try {
        val b = new Array[Byte](8); in.readFully(b)
        val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (bb.getInt.toLong & 0xffffffffL, bb.getInt)
      } finally in.close()
    }
    require(dim > 0 && n >= 0, s"corrupt header in $inPath")
    require(f.length() >= 8 + n * dim * 4, s"file truncated: $inPath")
    val sampleSize = math.max(math.sqrt(n.toDouble).toLong, 1000L).min(n)
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (n / 10000L).toInt.max(1)))
    val df = spark.range(0, n, 1, parts).mapPartitions { idxs =>
      val raf = new java.io.RandomAccessFile(inPath, "r")
      val buf = new Array[Byte](dim * 4)
      val it = idxs.map { iBoxed =>
        val i = iBoxed.longValue()
        raf.seek(8L + i * dim * 4)
        raf.readFully(buf)
        val fb = java.nio.ByteBuffer.wrap(buf).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val v = new Array[Float](dim)
        fb.asFloatBuffer().get(v)
        (i, v)
      }
      new Iterator[(Long, Array[Float])] {
        def hasNext = { val h = it.hasNext; if (!h) raf.close(); h }
        def next() = it.next()
      }
    }.toDF("id", "vec")
    buildIndex(df, "vec", "id", name, params)
    (n, dim, sampleSize)
  }
}
