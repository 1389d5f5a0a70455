package graft.index

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{DiskannFormat, GraphIndex, HnswFormat, HnswIndex, LshCodec, Metric,
  Route, Sq8Codec, SqPackedCodec, VamanaIndex, VectorOps}
import graft.functions.{array_distance_sq, array_negative_inner_product, floatVec, mkCol,
  mkExpr, toFloatVec}
import Ann.{BuildParams, IdFilter, inferDim, localHitRows, lowestIds, metricDistanceCol,
  normalizeCol, normalizeVecUdf, notTombstoned, pcaCol, prepQuery, probeFilter, probeJoinCond,
  readRotation, refineFactor, refineStage, root, strideSample, writeClustered}

/**
 * One implementation per ANN index family — the analog of the reference
 * putting every index type behind DuckDB's `BoundIndex` (`DiskannIndex`, and
 * `FaissIndex` wrapping every FAISS type behind one `faiss::Index`,
 * src/include/faiss_index.hpp:119). Each family owns the operations whose
 * behaviour depends on how the index stores its vectors: build and
 * encode-on-add, single-query top-k (one driver search and one distributed
 * plan, filtered or not), range scans, TABLE scoring, reconstruction, vacuum
 * and merge. Graph engines search their cached shards on the driver, and
 * each table family brings the one scorer the [[ExactServe]] driver route
 * serves through ([[TableEngine.localScorer]]). The [[Ann]] surface
 * resolves the family once per call and delegates.
 *
 * `metadata.json` keeps the engine as a string; [[AnnEngine.apply]] is the
 * only place that string is read.
 */
sealed abstract class AnnEngine(val name: String) extends Serializable {

  /** Graph shards served through [[ShardCache]] (diskann, hnsw). */
  def isGraph: Boolean = false

  /** Inverted-file layout: a [[Coarse]] quantizer plus a cluster-assigned
   *  table; nprobe applies (ivfflat, ivfpq, ivfsq). */
  def ivf: Boolean = false

  /** Stores codes instead of raw vectors, so RFlat can keep the raw vectors
   *  beside them for an exact re-rank (pq, ivfpq, ivfsq, lsh). */
  def storesCodes: Boolean = false

  /** Build an index of this family over prepped `(id LONG, vec)` rows. */
  private[index] def build(data: DataFrame, index: String, dir: String,
      metric: Metric, params: BuildParams): IndexMeta

  /** The driver search of single-query top-k: the top-fetchK live `(id,
   *  distance)` that `filter` allows (None: every id), ordered by (distance,
   *  id), with no Spark job; None when this index's route says distributed.
   *  Filtered contract in [[Ann.searchFiltered]]. */
  private[index] def driverHits(spark: SparkSession, meta: IndexMeta, tomb: Set[Long],
      query: Array[Float], fetchK: Int, searchComplexity: Int,
      filter: Option[IdFilter]): Option[Array[(Long, Float)]]

  /** The distributed plan of the same answer: `(row_id, _distance)`, at most
   *  fetchK rows ordered by (distance, row_id). */
  private[index] def hitsPlan(spark: SparkSession, meta: IndexMeta, tomb: Set[Long],
      query: Array[Float], fetchK: Int, searchComplexity: Int,
      filter: Option[IdFilter]): DataFrame

  /** Base rows of `df` within `radius` plus `_distance` (see [[Ann.rangeSearch]]). */
  private[index] def rangeSearch(df: DataFrame, idColumn: String, meta: IndexMeta,
      tomb: Set[Long], query: Array[Float], radius: Float,
      searchComplexity: Int): DataFrame =
    expandingRange(df, idColumn, meta, tomb, query, radius, searchComplexity)

  /** In-radius (query, row) pairs: query columns + `row_id` + `_distance`. */
  private[index] def rangeSearchTable(queriesDf: DataFrame, vecCol: String,
      meta: IndexMeta, tomb: Set[Long], radius: Float, searchComplexity: Int): DataFrame

  /** Top-k per query row: query columns + `row_id` + `_distance`. */
  private[index] def searchTable(queriesDf: DataFrame, vecCol: String, meta: IndexMeta,
      k: Int, tomb: Set[Long], searchComplexity: Int): DataFrame

  /** Candidate hits `(query_idx, row_id, _distance)` for an in-memory query
   *  list; the caller cuts each query to its top k. */
  private[index] def searchBatch(spark: SparkSession, meta: IndexMeta,
      queries: Seq[Array[Float]], k: Int, tomb: Set[Long], searchComplexity: Int): DataFrame

  /** Stored representation of the ids `pred` (Column) / `keep` (closure)
   *  select, as `(row_id, vector)` in index space. */
  private[index] def reconstruct(spark: SparkSession, meta: IndexMeta, pred: Column,
      keep: Long => Boolean): DataFrame

  /** Add rows with the index's frozen quantizer (FAISS add()); a graph
   *  batch that runs distributed splits into delta shards of `splitRows`. */
  private[index] def append(df: DataFrame, column: String, idColumn: String,
      meta: IndexMeta, splitRows: Long): IndexMeta

  /** Rewrite the live rows into a new generation, publish it, then delete
   *  the superseded files and the tombstones. */
  private[index] def vacuum(spark: SparkSession, meta: IndexMeta, tomb: Set[Long]): IndexMeta

  /** Adopt `s` into `t` (engines of this family, same dim and metric). */
  private[index] def merge(spark: SparkSession, r: String, t: IndexMeta,
      s: IndexMeta): IndexMeta =
    throw new IllegalArgumentException(
      s"merge supports graph or flat engines (got ${t.engine}/${s.engine})")

  /**
   * Range search through the serving path with geometrically expanding k
   * (64, 256, 1024, …) until the tail clears the radius or the index is
   * exhausted — the route for engines without a metric-space table filter
   * (graph engines, lsh). Every expansion searches the one generation
   * `meta`/`tomb` name. Contract in [[Ann.rangeSearch]].
   */
  protected final def expandingRange(df: DataFrame, idColumn: String, meta: IndexMeta,
      tomb: Set[Long], query: Array[Float], radius: Float,
      searchComplexity: Int): DataFrame = {
    val spark = df.sparkSession
    var k = 64
    var hits = Ann.collectHits(spark, meta, tomb, query, k, searchComplexity, 1)
    // grow until the tail clears the radius or the index is exhausted
    while (hits.length >= k && hits.last._2 <= radius) {
      k *= 4
      hits = Ann.collectHits(spark, meta, tomb, query, k, searchComplexity, 1)
    }
    Ann.fetchHits(df, idColumn, hits.filter(_._2 <= radius))
  }

  /** TABLE-search hit schema: query columns + row_id + _distance. */
  protected final def hitSchema(queriesDf: DataFrame): StructType =
    StructType(queriesDf.schema.fields.toSeq :+
      StructField("row_id", LongType) :+ StructField("_distance", FloatType))

  protected final def noHits(queriesDf: DataFrame): DataFrame =
    queriesDf.sparkSession.createDataFrame(
      queriesDf.sparkSession.sparkContext.emptyRDD[Row], hitSchema(queriesDf))
}

object AnnEngine {
  case object Diskann extends GraphEngine("diskann", hnsw = false)
  case object Hnsw extends GraphEngine("hnsw", hnsw = true)
  case object Flat extends ExactEngine("flat", ivfLayout = false)
  case object IvfFlat extends ExactEngine("ivfflat", ivfLayout = true)
  case object Pq extends PqEngine("pq", ivfLayout = false)
  case object IvfPq extends PqEngine("ivfpq", ivfLayout = true)
  case object IvfSq extends SqEngine
  case object Lsh extends LshEngine

  val known: Seq[AnnEngine] = Seq(Diskann, Hnsw, Flat, IvfFlat, Pq, IvfPq, IvfSq, Lsh)

  /** The family for an engine name — the one place an engine string is
   *  matched. `index` names the index (or factory string) in the error. */
  def apply(engine: String, index: String): AnnEngine = engine match {
    case "diskann" => Diskann
    case "hnsw" => Hnsw
    case "flat" => Flat
    case "ivfflat" => IvfFlat
    case "pq" => Pq
    case "ivfpq" => IvfPq
    case "ivfsq" => IvfSq
    case "lsh" => Lsh
    case other => throw new IllegalArgumentException(
      s"index '$index' has unknown engine '$other' (known engines: " +
        known.map(_.name).mkString(", ") + ")")
  }

  def of(meta: IndexMeta): AnnEngine = apply(meta.engine, meta.name)

  /** Clusters whose ball can hold a member within squared-L2 `radius` of
   *  `q`: d(q, centroid_c) − r_c ≤ √radius. The query-to-centroid distance
   *  accumulates in DOUBLE (error ~dim·2⁻⁵², provably below the 1e-6
   *  relative slack at any realistic dim) and the stored radii are
   *  ulp-rounded-up upper bounds, so pruning can only over-probe. */
  private[index] def clusterKeep(cents: Array[Array[Float]], radii: Array[Float],
      q: Array[Float], radius: Float): Array[Int] = {
    val rq = math.sqrt(math.max(0.0, radius.toDouble))
    cents.indices.filter { c =>
      math.sqrt(VectorOps.l2SqDoubleAcc(q, cents(c))) - radii(c) <= rq + 1e-6 * (1.0 + rq)
    }.toArray
  }

  /** Engine-semantics distance between two vector columns: squared L2, or
   *  the negated inner product (IP, and cosine over normalized vectors). */
  private[index] def metricDist(metric: Metric, a: Column, b: Column): Column =
    metric match {
      case Metric.L2 => array_distance_sq(a, b)
      case _ => array_negative_inner_product(a, b)
    }
}

/**
 * Graph engines: one `.diskann` (Vamana) or `.hnsw` shard per input
 * partition plus an id sidecar, searched through [[ShardCache]]. Every shard
 * file comes from one per-shard build, [[GraphEngine.buildShard]]: the build's
 * tasks, an append's delta shards, and [[GraphEngine.compact]], the one
 * rewrite behind both vacuum and `StreamingIndex.compact`. hnsw reuses the
 * diskann shard lifecycle; its IndexMeta stores m in `maxDegree` and
 * efConstruction in `buildComplexity`.
 */
sealed abstract class GraphEngine(name: String, hnsw: Boolean) extends AnnEngine(name) {
  override def isGraph: Boolean = true

  /** An empty graph of this engine: (degree, complexity) are Vamana's
   *  (R, L), or HNSW's (m, efConstruction). */
  private def newGraph(dim: Int, metric: Metric, degree: Int, complexity: Int,
      alpha: Float): GraphIndex =
    if (hnsw) new HnswIndex(dim, metric, degree, complexity)
    else new VamanaIndex(dim, metric, degree, complexity, alpha)

  /** Write one shard: `<base>.<engine>` (a Vamana graph first quantized to
   *  `quantBits`, 0 = full precision) and its `<base>.ids` sidecar. */
  private def writeShard(ix: GraphIndex, quantBits: Int, base: String,
      ids: Array[Long]): ShardMeta = {
    val f = s"$base.$name"
    ix match {
      case v: VamanaIndex =>
        if (quantBits > 0) v.quantize(quantBits)
        DiskannFormat.writeFile(v, f)
      case h: HnswIndex => HnswFormat.writeFile(h, f)
    }
    IndexCatalog.writeIds(s"$base.ids", ids)
    ShardMeta(f, s"$base.ids", ids.length.toLong)
  }

  /** (degree, complexity) of a graph build: Vamana's (R, L), or HNSW's (m,
   *  efConstruction), which hnsw keeps in the same metadata slots so
   *  metadata.json stays schema-stable across engines. */
  private def shape(p: BuildParams): (Int, Int) =
    if (hnsw) (p.hnswM, p.efConstruction) else (p.maxDegree, p.buildComplexity)

  private def quantBits(p: BuildParams): Int =
    if (p.quantization.isEmpty) 0 else p.quantization.stripPrefix("sq").toInt

  /** The parameters `meta`'s shards were built with: what its appends and
   *  compactions build with. */
  private[graft] def paramsOf(meta: IndexMeta): BuildParams = BuildParams(engine = name,
    metric = meta.metric, maxDegree = meta.maxDegree, buildComplexity = meta.buildComplexity,
    alpha = meta.alpha, quantization = if (meta.quantized) s"sq${meta.quantBits}" else "",
    hnswM = meta.maxDegree, efConstruction = meta.buildComplexity)

  /** Shard `base` over `input` in arrival order, None when it is empty: the
   *  one per-shard build of every graph write ([[build]]'s tasks, [[append]]
   *  and [[compact]] on either route), so the same rows in the same order
   *  give byte-identical files. */
  private def buildShard(input: Iterator[(Long, Array[Float])], dim: Int, m: Metric,
      params: BuildParams, base: String): Option[ShardMeta] = {
    val (degree, complexity) = shape(params)
    val buildThreads = params.buildThreads
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ix = newGraph(dim, m, degree, complexity, params.alpha)
    val normalize = m eq Metric.Cosine
    var bad = -1L
    if (hnsw && buildThreads > 1) {
      // deterministic batch-parallel bulk build (HnswIndex.addAll — the
      // same kernel the coarse-quantizer build uses): labels follow
      // arrival order exactly like the serial insert loop, so the
      // id↔label mapping stays a pure function of (shard rows, level
      // seed) at any core count. OPT-IN via buildThreads, the vamana
      // convention (idle task cores; cluster equivalent:
      // spark.task.cpus = buildThreads) — running addAll UNGATED inside
      // every shard task measured 182 s vs 62 s serial at 1.5M/32
      // shards on 32 cores: with the shard axis already saturating the
      // host, the common-pool fan-out oversubscribes and refineLayer0's
      // extra re-search pass has no idle cores to pay for it. A scoped
      // pool bounds each task to its declared cpus; determinism means
      // the pool size cannot change the result, only the speed.
      val vs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
      input.foreach { case (id, v) =>
        if (v.length != dim) bad = id
        else {
          vs += (if (normalize) VectorOps.normalize(v.clone()) else v)
          ids += id
        }
      }
      if (bad < 0) {
        val pool = new java.util.concurrent.ForkJoinPool(buildThreads)
        try pool.submit(new Runnable {
          def run(): Unit =
            ix.asInstanceOf[HnswIndex].addAll(vs.toArray[Array[Float]])
        }).get()
        finally pool.shutdown()
      }
    } else if (hnsw) {
      // hnsw default: serial insertion — at full shard-axis parallelism
      // there are no idle cores for a per-shard pool to use
      input.foreach { case (id, v) =>
        if (v.length != dim) bad = id
        else {
          ix.add(if (normalize) VectorOps.normalize(v.clone()) else v)
          ids += id
        }
      }
    } else {
      // vamana: two-pass pilot seeding per shard (the reference's
      // streaming build trains a pilot graph from a max(√N, 1000)-point
      // sample, then stream-inserts the rest,
      // rust_lib/src/streaming_build.rs:46-122 — early inserts see a
      // well-spread graph instead of whatever arrived first, improving
      // edge quality at equal cost). Buffers the partition's rows
      // (references only; the index copies on add) — shard sizing already
      // assumes the shard's vectors fit the task.
      val rows = input.toArray
      rows.foreach { case (id, v) => if (v.length != dim) bad = id }
      if (bad < 0 && rows.nonEmpty) {
        val nRows = rows.length
        val pilot = math.min(nRows.toLong,
          math.max(math.sqrt(nRows.toDouble).toLong, 1000L)).toInt
        val stride = math.max(1, nRows / pilot)
        val isPilot = new Array[Boolean](nRows)
        var p = 0
        var taken = 0
        while (p < nRows && taken < pilot) {
          isPilot(p) = true; taken += 1; p += stride
        }
        def prep(i: Int): Array[Float] = {
          val v = rows(i)._2
          if (normalize) VectorOps.normalize(v.clone()) else v
        }
        // ids follow label order: pilot block first, then the tail — the
        // id↔label mapping is identical on the serial and parallel routes
        var i = 0
        while (i < nRows) { if (isPilot(i)) ids += rows(i)._1; i += 1 }
        i = 0
        while (i < nRows) { if (!isPilot(i)) ids += rows(i)._1; i += 1 }
        val vx = ix.asInstanceOf[VamanaIndex]
        i = 0
        while (i < nRows) { if (isPilot(i)) vx.add(prep(i)); i += 1 }
        if (buildThreads > 1) {
          // tail inserted by a per-shard worker pool (idle task cores;
          // cluster equivalent: spark.task.cpus = buildThreads)
          val tail = Array.newBuilder[Array[Float]]
          tail.sizeHint(nRows - taken)
          i = 0
          while (i < nRows) { if (!isPilot(i)) tail += prep(i); i += 1 }
          vx.addAllParallel(tail.result(), buildThreads)
        } else {
          i = 0
          while (i < nRows) { if (!isPilot(i)) vx.add(prep(i)); i += 1 }
        }
      }
    }
    if (bad >= 0) throw new IllegalArgumentException(
      s"vector for id $bad does not have expected dimension $dim")
    if (ix.size == 0) None else Some(writeShard(ix, quantBits(params), base, ids.toArray))
  }

  /** `sh`'s rows at labels [from, until) not in `tomb`, in label order. */
  private def live(sh: ShardMeta, from: Int, until: Int, cosine: Boolean,
      tomb: Set[Long]): Iterator[(Long, Array[Float])] = {
    val loaded = ShardCache.get(sh.file, sh.idsFile, cosine)
    (from until until).iterator.filterNot(l => tomb.contains(loaded.ids(l)))
      .map(l => (loaded.ids(l), loaded.index.vector(l)))
  }

  /** Rewrite `meta` without the rows in `tomb` as `n` shards: the one graph
   *  rewrite of vacuum and compaction (reference Vacuum,
   *  src/diskann_index.cpp:701-741). The shards in order are cut into `n`
   *  contiguous slices of (shard, label range) with near-equal row counts;
   *  each slice's live rows become shard `compact-<i>-v<version>` through
   *  [[buildShard]] (none when empty). Route op `ann.write`, estimate = the
   *  shards' on-disk bytes: one output shard within the gate builds on the
   *  driver with no Spark job, anything else one task per slice in one job.
   *  The new generation is published before the superseded shards and
   *  tombstones are deleted, so a failure at any step leaves a consistent
   *  index. */
  private[graft] def compact(spark: SparkSession, meta: IndexMeta, tomb: Set[Long],
      n: Int): IndexMeta = {
    val r = root(spark)
    val dir = new java.io.File(IndexCatalog.indexDir(r, meta.name)).getAbsolutePath
    val ver = meta.version + 1
    val (dim, metric, params) = (meta.dim, meta.metricObj, paramsOf(meta))
    val starts = meta.shards.scanLeft(0L)(_ + _.count)
    val slices = Seq.tabulate(n) { i =>
      def at(row: Long, s: Long, sh: ShardMeta) = (row - s).max(0L).min(sh.count).toInt
      val (lo, hi) = (starts.last * i / n, starts.last * (i + 1) / n)
      meta.shards.zip(starts).map { case (sh, s) => (sh, at(lo, s, sh), at(hi, s, sh)) }
        .filter { case (_, from, until) => from < until }
    }
    def rebuild(i: Int, t: Set[Long]): Option[ShardMeta] = buildShard(slices(i).iterator
      .flatMap { case (sh, from, until) => live(sh, from, until, metric eq Metric.Cosine, t) },
      dim, metric, params, f"$dir/compact-$i%05d-v$ver")
    val onDisk = meta.shards.map(sh => new java.io.File(sh.file).length +
      new java.io.File(sh.idsFile).length).sum
    val local = if (n == 1) Route.local(spark, "ann.write", onDisk) else {
      Route.post(spark, "ann.write", Route.Distributed, onDisk, Route.maxBytes(spark))
      false
    }
    val shards = if (local) (0 until n).flatMap(rebuild(_, tomb)).toList else {
      val tombB = spark.sparkContext.broadcast(tomb)
      spark.sparkContext.parallelize(0 until n, n).flatMap(rebuild(_, tombB.value))
        .collect().toList
    }
    val updated = meta.copy(shards = shards, version = ver,
      numVectors = shards.map(_.count).sum, numDeleted = 0L)
    IndexCatalog.save(r, updated)
    meta.shards.foreach { sh =>
      new java.io.File(sh.file).delete(); new java.io.File(sh.idsFile).delete()
    }
    ShardCache.forget(meta.shards.map(_.file).toSet)
    new java.io.File(IndexCatalog.tombstonePath(r, meta.name)).delete()
    updated
  }

  /** The metadata of a fresh build of `shards`. */
  private def builtMeta(index: String, dim: Int, metric: Metric, params: BuildParams,
      shards: List[ShardMeta]): IndexMeta = {
    val (degree, complexity) = shape(params)
    IndexMeta(index, name, "vec", "id", dim, metric.name, degree, complexity, params.alpha,
      params.quantization.nonEmpty, shards.map(_.count).sum, 0L, shards,
      quantBits = if (quantBits(params) == 0) 8 else quantBits(params))
  }

  private[index] def build(data: DataFrame, index: String, dir: String,
      metric: Metric, params: BuildParams): IndexMeta = {
    val spark = data.sparkSession
    import spark.implicits._
    require(!hnsw || params.quantization.isEmpty,
      "scalar quantization (sq8/sq4/sq6) is supported for the diskann engine only")
    require(Set("", "sq8", "sq4", "sq6")(params.quantization),
      s"unknown quantization '${params.quantization}' (supported: sq8, sq4, sq6)")
    require(!hnsw || params.hnswM <= 8192,
      s"hnsw m=${params.hnswM} exceeds the .hnsw format bound (8192)")
    val dim = inferDim(data)
    val n = data.count()
    val nShards = if (params.numShards > 0) params.numShards
      else math.max(1, math.ceil(n.toDouble / params.targetShardSize).toInt)
    val ds = data.as[(Long, Array[Float])]
    val repart = if (nShards == 1) ds.coalesce(1) else ds.repartition(nShards)
    val shards = repart.mapPartitions(it => buildShard(it, dim, metric, params,
      f"$dir/shard-${TaskContext.getPartitionId()}%05d").iterator).collect().toList.sortBy(_.file)
    val meta = builtMeta(index, dim, metric, params, shards)
    IndexCatalog.save(root(spark), meta)
    meta
  }

  /** Driver-local search (no Spark job) while the shard count is at most
   *  [[Ann.LocalSearchMaxShards]]: shards are searched concurrently on a
   *  bounded pool (one shard on the calling thread); graph search is
   *  read-only with per-call scratch, so shared cached shards are safe. */
  private[index] def driverHits(spark: SparkSession, meta: IndexMeta, tomb: Set[Long],
      query0: Array[Float], fetchK: Int, searchComplexity: Int,
      filter: Option[IdFilter]): Option[Array[(Long, Float)]] =
    if (!Route.local(spark, "ann.graph", meta.shards.size, Ann.LocalSearchMaxShards)) None
    else {
      val query = prepQuery(meta, query0)
      val (cosine, allow) = (meta.metricObj eq Metric.Cosine, filter.map(_.fn).orNull)
      def one(sh: ShardMeta): Array[(Long, Float)] =
        GraphEngine.shardHits(sh, cosine, query, fetchK, searchComplexity, tomb, allow)
      val shards = meta.shards.toArray
      val results =
        if (shards.length <= 1) shards.map(one)
        else shards.map(sh => GraphEngine.pool.submit(
          new java.util.concurrent.Callable[Array[(Long, Float)]] {
            def call(): Array[(Long, Float)] = one(sh)
          })).map(_.get())
      Some(results.flatten.sortBy { case (id, d) => (d, id) }.take(fetchK))
    }

  /** One task per shard, each running the driver route's per-shard search,
   *  then the global (distance, row_id) cut. */
  private[index] def hitsPlan(spark: SparkSession, meta: IndexMeta, tomb: Set[Long],
      query0: Array[Float], fetchK: Int, searchComplexity: Int,
      filter: Option[IdFilter]): DataFrame = {
    import spark.implicits._
    val query = prepQuery(meta, query0)
    val (cosine, allow) = (meta.metricObj eq Metric.Cosine, filter.map(_.fn).orNull)
    val tombB = spark.sparkContext.broadcast(tomb)
    val sc = searchComplexity
    spark.sparkContext.parallelize(meta.shards, math.max(meta.shards.size, 1))
      .flatMap(GraphEngine.shardHits(_, cosine, query, fetchK, sc, tombB.value, allow))
      .toDF("row_id", "_distance")
      .orderBy(col("_distance"), col("row_id")).limit(fetchK)
  }

  /** Round-robin (shard × query-block) task grid over a query table: every
   *  task holds ONE shard and runs `perCell` on its block of (qid, row).
   *  Shards are executor-cached, so the extra shard touches amortize across
   *  the block; at high shard counts nBlocks collapses to 1. The stable
   *  per-row id comes from zipWithUniqueId: lazy (no partition-counting job
   *  at plan build, so the TVFs stay EXPLAIN-safe and the queries subtree
   *  runs once) and as retry-stable as zipWithIndex — a re-run map task
   *  recomputes its partition and derives the same ids, as long as the
   *  upstream scan is deterministic. NOT monotonically_increasing_id: its
   *  ids shift if the number of upstream partitions changes between
   *  attempts. */
  private def queryGrid(queriesDf: DataFrame, vecCol: String, meta: IndexMeta,
      outSchema: StructType)(
      perCell: (LoadedShard, Array[(Long, Row)]) => Iterator[Row]): DataFrame = {
    val spark = queriesDf.sparkSession
    val shardsArr = meta.shards.toArray
    val nShards = shardsArr.length
    val cosine = meta.metricObj eq Metric.Cosine
    val qRdd = queriesDf.withColumn(vecCol, toFloatVec(col(vecCol))).rdd.zipWithUniqueId()
    val nBlocks = math.max(1, spark.sparkContext.defaultParallelism / nShards)
    val keyed = qRdd.flatMap { case (row, qid) =>
      val b = (qid % nBlocks).toInt
      (0 until nShards).iterator.map(si => ((si, b), (qid, row)))
    }
    val gridPartitioner = new org.apache.spark.Partitioner {
      def numPartitions: Int = nShards * nBlocks
      def getPartition(key: Any): Int = key match {
        case (si: Int, b: Int) => si * nBlocks + b
      }
    }
    val rows = keyed.partitionBy(gridPartitioner).mapPartitions { it =>
      val cell = it.toArray // one (shard, block) cell per task
      if (cell.isEmpty) Iterator.empty
      else {
        val sh = shardsArr(cell(0)._1._1)
        perCell(ShardCache.get(sh.file, sh.idsFile, cosine), cell.map(_._2))
      }
    }
    spark.createDataFrame(rows, outSchema)
  }

  /** The expanding-k beam loop of single-query graph range search, run per
   *  (query, shard) on the [[queryGrid]]: each cell grows k geometrically
   *  (64, ×4) until the shard-local tail clears the radius or the shard is
   *  exhausted, then keeps the in-radius hits. The union of shard-local
   *  balls is the answer, so nothing pools anywhere. Completeness contract
   *  in [[Ann.rangeSearchTable]]. */
  private[index] def rangeSearchTable(queriesDf: DataFrame, vecCol: String,
      meta: IndexMeta, tomb: Set[Long], radius: Float, searchComplexity: Int): DataFrame = {
    if (meta.shards.isEmpty) return noHits(queriesDf)
    val spark = queriesDf.sparkSession
    val tombB = spark.sparkContext.broadcast(tomb)
    val sc0 = searchComplexity
    val dim = meta.dim
    val vecIdx = queriesDf.schema.fieldIndex(vecCol)
    val cosine = meta.metricObj eq Metric.Cosine
    val rad = radius
    queryGrid(queriesDf, vecCol, meta, hitSchema(queriesDf)) { (loaded, block) =>
      val t = tombB.value
      val n = loaded.ids.length
      block.iterator.map(_._2)
        .filter(_.getSeq[Float](vecIdx).length == dim)
        .flatMap { row =>
          val raw = row.getSeq[Float](vecIdx).toArray
          val q = if (cosine) VectorOps.normalize(raw) else raw
          var fetch = math.min(math.max(1, n), 64)
          var out: Seq[(Long, Float)] = Seq.empty
          var done = n == 0
          while (!done) {
            val (labels, dists) = loaded.index.searchSaturationChecked(q,
              fetch, math.max(sc0, fetch))
            out = labels.indices.iterator
              .map(i => (loaded.ids(labels(i)), dists(i)))
              .filterNot { case (id, _) => t.contains(id) }.toSeq
            // tail checked on the UNFILTERED beam: the k-th best distance
            // in the shard clearing the radius bounds everything deeper,
            // tombstoned or not
            val tailClear = labels.nonEmpty &&
              dists(labels.length - 1) > rad
            if (tailClear || labels.length < fetch || fetch >= n) done = true
            else fetch = math.min(n, fetch * 4)
          }
          out.iterator.filter(_._2 <= rad)
            .map { case (id, d) => Row.fromSeq(row.toSeq :+ id :+ d) }
        }
    }
  }

  /** Lock-step batch search on the [[queryGrid]]: each cell's query block
   *  advances through its shard one SIMD block per hop (bit-identical to
   *  per-query search), and a per-query window re-merges the shard-local
   *  top-k into the global top-k. No task needs more than one shard
   *  resident, so the index can exceed executor memory. */
  private[index] def searchTable(queriesDf: DataFrame, vecCol: String, meta: IndexMeta,
      k: Int, tomb: Set[Long], searchComplexity: Int): DataFrame = {
    // vacuum after deleting every row leaves a zero-shard index
    if (meta.shards.isEmpty) return noHits(queriesDf)
    val spark = queriesDf.sparkSession
    val tombB = spark.sparkContext.broadcast(tomb)
    val perShardK = k + tomb.size
    val sc = searchComplexity
    val dim = meta.dim
    val vecIdx = queriesDf.schema.fieldIndex(vecCol)
    val cosine = meta.metricObj eq Metric.Cosine
    val outSchema = StructType(StructField("__qid", LongType) +: hitSchema(queriesDf).fields)
    val scored = queryGrid(queriesDf, vecCol, meta, outSchema) { (loaded, block) =>
      val t = tombB.value
      val valid = block.filter { case (_, row) => row.getSeq[Float](vecIdx).length == dim }
      val qs = valid.map { case (_, row) =>
        val raw = row.getSeq[Float](vecIdx).toArray
        if (cosine) VectorOps.normalize(raw) else raw
      }
      val results = loaded.index.searchBatchSaturationChecked(qs, perShardK, sc)
      valid.iterator.zip(results.iterator).flatMap { case ((qid, row), (labels, dists)) =>
        labels.indices.iterator
          .map(i => (loaded.ids(labels(i)), dists(i)))
          .filterNot { case (id, _) => t.contains(id) }
          .map { case (id, d) => Row.fromSeq(qid +: row.toSeq :+ id :+ d) }
      }
    }
    // global top-k per query from the ≤ nShards·perShardK shard-local hits
    val w = Window.partitionBy("__qid").orderBy(col("_distance"), col("row_id"))
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k).drop("__rn", "__qid")
  }

  private[index] def searchBatch(spark: SparkSession, meta: IndexMeta,
      queries: Seq[Array[Float]], k: Int, tomb: Set[Long], searchComplexity: Int): DataFrame = {
    import spark.implicits._
    val qArr = queries.map(prepQuery(meta, _)).toArray
    val perShardK = k + tomb.size
    val cosine = meta.metricObj eq Metric.Cosine
    val tombB = spark.sparkContext.broadcast(tomb)
    val qB = spark.sparkContext.broadcast(qArr)
    val sc = searchComplexity
    // (shard × query-block) task grid: with fewer shards than cores the
    // shard-only axis strands parallelism (8 shards on 32 cores = 24
    // idle), so queries split into round-robin blocks until the grid
    // covers the cluster. Shards are executor-cached, so the extra
    // shard touches amortize across the batch; at high shard counts
    // nBlocks collapses to 1 and this reverts to shard-parallel.
    val nShards = math.max(meta.shards.size, 1)
    val nBlocks = math.max(1, math.min(qArr.length,
      spark.sparkContext.defaultParallelism / nShards))
    val grid = for (sh <- meta.shards; b <- 0 until nBlocks) yield (sh, b)
    spark.sparkContext.parallelize(grid, math.max(grid.size, 1))
      .flatMap { case (sh, b) =>
        val loaded = ShardCache.get(sh.file, sh.idsFile, cosine)
        val t = tombB.value
        // the block's queries advance in LOCK-STEP through the shard:
        // each hop's candidate distances for all of them are one SIMD
        // block (BeamSearcher.searchBatch) — bit-identical to per-query
        // search, so the oracle contract is unchanged
        val qis = qB.value.indices.filter(_ % nBlocks == b).toArray
        val results =
          loaded.index.searchBatchSaturationChecked(qis.map(qB.value(_)), perShardK, sc)
        qis.iterator.zip(results.iterator).flatMap { case (qi, (labels, dists)) =>
          labels.indices.iterator
            .map(i => (qi, loaded.ids(labels(i)), dists(i)))
            .filterNot { case (_, id, _) => t.contains(id) }
        }
      }.toDF("query_idx", "row_id", "_distance")
  }

  /** Decodes through the same ShardCache the serve path uses, so a
   *  quantized DiskANN shard returns its SQ dequantization. */
  private[index] def reconstruct(spark: SparkSession, meta: IndexMeta, pred: Column,
      keep: Long => Boolean): DataFrame = {
    import spark.implicits._
    val cosine = meta.metricObj eq Metric.Cosine
    val keepB = spark.sparkContext.broadcast(keep)
    val shards = meta.shards
    spark.sparkContext.parallelize(shards, math.max(shards.size, 1))
      .flatMap { sh =>
        val loaded = ShardCache.get(sh.file, sh.idsFile, cosine)
        val w = keepB.value
        loaded.ids.indices.iterator.collect {
          case l if w(loaded.ids(l)) => (loaded.ids(l), loaded.index.vector(l))
        }
      }.toDF("row_id", "vector")
  }

  /** Delta shards (reference Append, diskann_index.cpp:316-357) built by
   *  [[buildShard]]. Route op `ann.write`, estimate = rows × (16 + 4·dim)
   *  for a LocalRelation batch (Catalyst sizes one element per array), else
   *  its Catalyst size. Below the gate the batch's rows, read straight
   *  from a LocalRelation or else in one collect, become one delta shard on
   *  the driver with no Spark job; above it the batch splits into
   *  ceil(n / splitRows) delta shards built in parallel tasks. */
  private[index] def append(df: DataFrame, column: String, idColumn: String,
      meta: IndexMeta, splitRows: Long): IndexMeta = {
    val spark = df.sparkSession
    import spark.implicits._
    val r = root(spark)
    val base = s"${IndexCatalog.indexDir(r, meta.name)}/shard-delta-${meta.shards.size}"
    val (dim, metric, params) = (meta.dim, meta.metricObj, paramsOf(meta))
    val data = df.select(col(idColumn).cast(LongType), toFloatVec(col(column)))
    val plan = data.queryExecution.optimizedPlan
    val estimate = plan match {
      case l: LocalRelation => BigInt(l.data.size) * (16 + 4L * dim)
      case _ => plan.stats.sizeInBytes
    }
    val newShards = if (Route.local(spark, "ann.write", estimate)) {
      val rows = plan match {
        case l: LocalRelation => l.data
        case _ => GraftShim.collectInternal(data).toSeq
      }
      buildShard(rows.iterator.map { row =>
        require(!row.isNullAt(0) && !row.isNullAt(1), "an appended row has a NULL id or vector")
        (row.getLong(0), row.getArray(1).toFloatArray())
      }, dim, metric, params, f"$base-00000").toList
    } else {
      val ds = data.as[(Long, Array[Float])]
      // cached: sizing (count) and shard building both evaluate the batch
      ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nDelta = math.max(1, math.ceil(ds.count().toDouble / splitRows).toInt)
      val repart = if (nDelta == 1) ds.coalesce(1) else ds.repartition(nDelta)
      try repart.mapPartitions(it => buildShard(it, dim, metric, params,
        f"$base-${TaskContext.getPartitionId()}%05d").iterator).collect().toList.sortBy(_.file)
      finally ds.unpersist()
    }
    val updated = meta.copy(shards = meta.shards ++ newShards,
      numVectors = meta.numVectors + newShards.map(_.count).sum)
    IndexCatalog.save(r, updated)
    updated
  }

  /** Rebuild every shard without its tombstoned rows, one shard per shard
   *  (reference Vacuum, src/diskann_index.cpp:701-741): [[compact]]. */
  private[index] def vacuum(spark: SparkSession, meta: IndexMeta,
      tomb: Set[Long]): IndexMeta = compact(spark, meta, tomb, meta.shards.size max 1)

  /** Adopt the source's live shards + tombstones (reference MergeIndexes
   *  re-inserts vectors, src/diskann_index.cpp:655-699; the shard model
   *  makes adoption sufficient). */
  override private[index] def merge(spark: SparkSession, r: String, t: IndexMeta,
      s: IndexMeta): IndexMeta = {
    val tDir = new java.io.File(IndexCatalog.indexDir(r, t.name))
    val adopted = s.shards.zipWithIndex.map { case (sh, i) =>
      val srcExt = sh.file.substring(sh.file.lastIndexOf('.') + 1)
      val nf = new java.io.File(tDir, s"merged-${t.shards.size + i}.$srcExt")
      val ni = new java.io.File(tDir, s"merged-${t.shards.size + i}.ids")
      java.nio.file.Files.copy(java.nio.file.Paths.get(sh.file), nf.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.copy(java.nio.file.Paths.get(sh.idsFile), ni.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ShardMeta(nf.getAbsolutePath, ni.getAbsolutePath, sh.count)
    }
    val tomb = IndexCatalog.readTombstones(r, t.name) ++ IndexCatalog.readTombstones(r, s.name)
    if (tomb.nonEmpty) IndexCatalog.writeTombstones(r, t.name, tomb)
    val updated = t.copy(shards = t.shards ++ adopted,
      numVectors = t.numVectors + s.numVectors, numDeleted = tomb.size.toLong)
    IndexCatalog.save(r, updated)
    updated
  }
}

private[index] object GraphEngine {

  /** Shard `sh`'s first k hits in (distance, id) order that are not in `tomb`
   *  and that `allow` keeps (null: every id): the one per-shard body of both
   *  graph routes. Unfiltered, one search at k + |tomb| with beam `sc` — the
   *  reference's over-request (src/diskann_index.cpp:558-561). Filtered, the
   *  search starts at k·[[Ann.FilteredOverfetch]] + |tomb| with beam max(sc,
   *  fetch) and doubles the fetch while the shard is short of k, until the
   *  fetch covers the shard (contract in [[Ann.searchFiltered]]). */
  def shardHits(sh: ShardMeta, cosine: Boolean, query: Array[Float], k: Int, sc: Int,
      tomb: Set[Long], allow: Long => Boolean): Array[(Long, Float)] = {
    val loaded = ShardCache.get(sh.file, sh.idsFile, cosine)
    def hits(fetch: Int, beam: Int): Array[(Long, Float)] = {
      val (labels, dists) = loaded.index.searchSaturationChecked(query, fetch, beam)
      labels.indices.iterator.map(i => (loaded.ids(labels(i)), dists(i)))
        .filter { case (id, _) => !tomb.contains(id) && (allow == null || allow(id)) }
        .toArray.sortBy { case (id, d) => (d, id) }.take(k)
    }
    if (allow == null) hits(k + tomb.size, sc)
    else {
      val n = loaded.ids.length
      var fetch = math.min(math.max(k * Ann.FilteredOverfetch + tomb.size, 1), math.max(n, 1))
      var out = hits(fetch, math.max(sc, fetch))
      while (out.length < k && fetch < n) {
        fetch = math.min(n, fetch * 2)
        out = hits(fetch, math.max(sc, fetch))
      }
      out
    }
  }

  /** Shared daemon pool for the driver route's shard fan-out (a per-call
   *  pool would pay thread creation on every query). */
  lazy val pool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors(),
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-local-search-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })
}

/** Join of a TABLE query block against an index table: the joined plan, its
 *  ranking score, the query side the output columns come from, and — for
 *  the engines that freeze the query block on the driver — that frozen
 *  relation (ranked narrow, see [[TableEngine.searchTable]]). */
private[index] final case class TableJoin(joined: DataFrame, score: Column,
    qSide: DataFrame, frozen: Option[DataFrame])

/** The query block of a TABLE search over a table engine, prepared once and
 *  shared by every family's join. `__q` is the PCA-mapped, then
 *  cosine-normalized query (prepQuery's float order — the user's query
 *  column stays untouched, it is part of the output contract); OPQ indexes
 *  add `__qadc`, the query rotated into code space. */
private[index] final class TableQueries(val spark: SparkSession, val meta: IndexMeta,
    val queriesDf: DataFrame, vecCol: String) {
  val l2: Boolean = meta.metricObj eq Metric.L2

  val prepped: DataFrame = {
    val p = queriesDf.withColumn(vecCol, toFloatVec(col(vecCol)))
      .withColumn("__q", TableEngine.queryCol(spark, meta, col(vecCol)))
    if (meta.opq) p.withColumn("__qadc", TableEngine.rotateCol(spark, meta, col("__q")))
    else p
  }

  /** `prepped` + a `__qid` unique within the broadcast payload: each query
   *  row and its qid travel together through the join, and the broadcast
   *  side is computed once per execution and reused by every consumer
   *  partition, so monotonically_increasing_id is safe here — and, unlike
   *  rdd.zipWithIndex, stays lazy (ZippedWithIndexRDD runs a
   *  partition-counting job the moment it is built, which would make even
   *  EXPLAIN over the batch TVFs execute the queries subtree). */
  lazy val numbered: DataFrame = prepped.withColumn("__qid", monotonically_increasing_id())

  /** FREEZE the (broadcast-small) query block at plan time: one collect,
   *  qids assigned by driver index, and a broadcast qid → `adcCol` query
   *  array. Scoring UDFs then carry only (__qid[, __probe], code)
   *  primitives per joined row: shipping the d-float query on every row
   *  cost ~45 s for 512 queries × nprobe 32 at 1.5M vectors vs ivfflat's
   *  5.6 s codegen join of the same shape. The frozen map is immutable
   *  across task retries, and executors resolve the SAME broadcast array
   *  instance every call, so the AdcLutCache content verify hits its
   *  reference fast-path. */
  def frozen(adcCol: String): (DataFrame, Broadcast[Array[Array[Float]]]) = {
    val rows = prepped.collect()
    val schema2 = prepped.schema.add("__qid", LongType, nullable = false)
    val withQid = rows.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i.toLong) }
    val dfQ = spark.createDataFrame(java.util.Arrays.asList(withQid: _*), schema2)
    val idx = prepped.schema.fieldIndex(adcCol)
    // qid IS the array index — the per-row hot path resolves a query by
    // plain array indexing, no boxed map lookup
    val qArr: Array[Array[Float]] = rows.map(_.getSeq[Float](idx).toArray)
    (dfQ, spark.sparkContext.broadcast(qArr))
  }

  // all references to the index scan go through this DataFrame instance so
  // a query table that also has id/vec/cluster columns can't capture them
  val base: DataFrame = spark.read.parquet(meta.sourcePath)

  /** The index's coarse quantizer (IVF indexes). */
  val coarse: Coarse = Coarse.of(spark, meta)

  /** Probe join of query rows `q` against the cluster column: each query
   *  explodes to its probe set. Per-task work here is sum over the task's
   *  clusters of size(cluster) × queries-probing(cluster) — a
   *  popularity-weighted product byte-based file bin-packing cannot see
   *  (7x task skew at 1.5M vectors × 512 queries, AnnScaleSmoke), so big
   *  batches round-robin the scanned rows first ([[Ann.rebalanceProbedScan]]).
   *  Returns (joined, scanned side, probed query side). */
  def probeJoin(q: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val probed = q.withColumn("__probe", explode(coarse.probesCol(col("__q"), meta.nprobe)))
    val stream = if (Ann.rebalanceProbedScan(queriesDf, meta.dim))
      base.repartition(spark.sessionState.conf.numShufflePartitions) else base
    (stream.join(broadcast(probed), probeJoinCond(stream, probed("__probe"))), stream, probed)
  }
}

/** A table index's rows on the driver, one [[ExactServe]] fill: the ids,
 *  each row's IVF cell (null without cells), the raw vectors an RFlat index
 *  re-ranks against (null without RFlat), the family's scorer
 *  ([[TableEngine.localScorer]]) and the bytes it holds, the centroid
 *  table's included. */
private[index] final case class LocalTable(ids: Array[Long], clusters: Array[Int],
    refineVecs: Array[Array[Float]], scorer: LocalScorer, bytes: Long)

/** A family's driver-local scorer. `apply(query, probes)` prepares one
 *  prepped query for the probed cells (null: every cell); the returned
 *  function gives row i's `__dd` under the family's distributed scan, as a
 *  double, bit for bit. */
private[index] trait LocalScorer {
  def apply(query: Array[Float], probes: Array[Int]): Int => Double
}

/**
 * Engines whose index is one parquet table of `(id, vec | code[, vec]
 * [, cluster])` — exact, PQ, SQ and LSH. They share the scan tail, the
 * filtered-search nprobe saturation, metric-space range pruning, the
 * broadcast-gemm TABLE plan, append and the versioned rewrite; each family
 * supplies how rows are encoded and scored, on the distributed scan
 * ([[scored]]) and on the driver ([[localScorer]]).
 */
sealed abstract class TableEngine(name: String) extends AnnEngine(name) {

  /** `(row_id, __dd)` for a prepped query over the probed (`nprobe`, 0 =
   *  the index's own), `filter`-ed index table; `__dd` orders the top-k. */
  protected def scored(spark: SparkSession, meta: IndexMeta, query: Array[Float],
      filter: Option[Column], nprobe: Int): DataFrame

  /** The family's driver-local scorer over its stored column (`stored`, in
   *  row order: `vec` or `code` as Catalyst values), with the rows' IVF
   *  cells (null without cells). Loads the family's artifacts once per
   *  [[ExactServe]] fill; per query, its scores equal [[scored]]'s `__dd`
   *  bit for bit. */
  protected def localScorer(spark: SparkSession, meta: IndexMeta, stored: Array[Any],
      clusters: Array[Int]): LocalScorer

  /** The stored rows collected to the driver, measured as [[BaseRows]]
   *  measures decoded rows, with the family's scorer. */
  private[index] final def localTable(spark: SparkSession, meta: IndexMeta): LocalTable = {
    // refined code engines: the raw vecs ride along for the exact re-rank
    val cols = Seq(col("id").cast(LongType), col(if (storesCodes) "code" else "vec")) ++
      refineCols(meta) ++ (if (ivf) Seq(col("cluster").cast(IntegerType)) else Nil)
    val df = spark.read.parquet(meta.sourcePath).select(cols: _*)
    val rows = GraftShim.collectInternal(df)
    val clusters = if (ivf) rows.map(_.getInt(cols.length - 1)) else null
    val centBytes = if (!ivf) 0L
      else Coarse.of(spark, meta).cents.iterator.map(16L + 4L * _.length).sum
    val bytes = rows.iterator.map(_.asInstanceOf[UnsafeRow].getSizeInBytes + 32L).sum + centBytes
    LocalTable(rows.map(_.getLong(0)), clusters,
      if (meta.refine) rows.map(_.getArray(2).toFloatArray()) else null,
      localScorer(spark, meta, rows.map(_.get(1, df.schema(1).dataType)), clusters), bytes)
  }

  /** Stored table rows for prepped `(id, vec)` input, encoded against the
   *  index's frozen artifacts — the one encode path build and append share
   *  (FAISS add(): the quantizer never retrains on add). */
  protected def encode(spark: SparkSession, meta: IndexMeta, dir: String,
      data: DataFrame): DataFrame

  /** Per-cluster radii bounding the distance from each centroid to its
   *  members as range search scores them; None when the family keeps none. */
  protected def radii(spark: SparkSession, meta: IndexMeta, dir: String,
      rows: DataFrame): Option[Array[Float]] = None

  /** Range-search distance of the rows of `t` to the query column `q`. */
  protected def rangeDist(spark: SparkSession, meta: IndexMeta, t: DataFrame,
      q: Column): Column

  /** The TABLE join for this family. */
  protected def tableJoin(t: TableQueries): TableJoin

  /** The full-precision vectors stored beside (or instead of) codes. */
  protected final def storedVectors(spark: SparkSession, meta: IndexMeta,
      pred: Column): DataFrame =
    spark.read.parquet(meta.sourcePath)
      .where(pred)
      .select(col("id").as("row_id"), toFloatVec(col("vec")).as("vector"))

  /** RFlat keeps the raw vectors beside the codes; they ride the stored
   *  rows when the index refines. */
  protected final def refineCols(meta: IndexMeta): Seq[Column] =
    if (meta.refine) Seq(col("vec")) else Nil

  /** (coarse quantizer, probe set) for an IVF query; nprobe 0 = the
   *  index's own. */
  protected final def probes(spark: SparkSession, meta: IndexMeta, query: Array[Float],
      nprobe: Int): (Coarse, Array[Int]) = {
    val coarse = Coarse.of(spark, meta)
    (coarse, coarse.probes(query, if (nprobe > 0) nprobe else meta.nprobe))
  }

  /** `probes` as a pruned scan of the index table (the full table if not IVF). */
  protected final def probedScan(spark: SparkSession, meta: IndexMeta,
      query: Array[Float], nprobe: Int): DataFrame = {
    val df = spark.read.parquet(meta.sourcePath)
    if (!ivf) df
    else {
      val (coarse, ps) = probes(spark, meta, query, nprobe)
      probeFilter(df, ps.toSeq, coarse.nlist)
    }
  }

  /** The query in code space: OPQ codes live in rotated space. */
  protected final def rotated(spark: SparkSession, meta: IndexMeta,
      query: Array[Float]): Array[Float] =
    if (meta.opq) OpqCodec.rotate(readRotation(spark, meta), query) else query

  /** Top-fetchK over the scored rows: tombstone filter, then either the
   *  RFlat exact re-rank or the (distance, row_id) cut — ordered in full
   *  double precision (near-ties resolve identically to an exact oracle),
   *  surfaced as the reference's FLOAT `_distance`. */
  private[index] final def topK(spark: SparkSession, meta: IndexMeta,
      query0: Array[Float], fetchK: Int, tomb: Set[Long], filter: Option[Column],
      nprobe: Int): DataFrame = {
    val query = prepQuery(meta, query0)
    val rows = scored(spark, meta, query, filter, nprobe)
    val live = if (tomb.isEmpty) rows else rows.where(notTombstoned(col("row_id"), tomb))
    if (meta.refine) refineStage(spark, meta, live, query, fetchK)
    else live.orderBy(col("__dd"), col("row_id")).limit(fetchK)
      .select(col("row_id"), col("__dd").cast(FloatType).as("_distance"))
  }

  /** Whether a filtered search can come back short: an IVF index probing
   *  fewer than all of its cells. */
  private def mayUnderFill(meta: IndexMeta, filter: Option[IdFilter]): Boolean =
    filter.nonEmpty && ivf && meta.nprobe < meta.nlist

  /** The nprobe under-fill rule of both routes: `probed(nprobe)` at the
   *  index's own nprobe (0), retried once at nprobe = nlist when a filtered
   *  answer under-fills fetchK. */
  private def filled(meta: IndexMeta, filter: Option[IdFilter], fetchK: Int)(
      probed: Int => Array[(Long, Float)]): Array[(Long, Float)] = {
    val hits = probed(0)
    if (mayUnderFill(meta, filter) && hits.length < fetchK) probed(meta.nlist) else hits
  }

  /** Small indexes serve from their [[ExactServe]] table on the driver; the
   *  filter applies beside the tombstone check. */
  private[index] final def driverHits(spark: SparkSession, meta: IndexMeta, tomb: Set[Long],
      query: Array[Float], fetchK: Int, searchComplexity: Int,
      filter: Option[IdFilter]): Option[Array[(Long, Float)]] =
    ExactServe.table(spark, meta).map(t => filled(meta, filter, fetchK)(nprobe =>
      ExactServe.search(spark, meta, t, tomb, query, fetchK, filter.map(_.fn).orNull, nprobe)))

  /** [[topK]] with the filter's id predicate spliced into the scan before
   *  the top-k, so it pushes to parquet and code engines keep their
   *  compression. Where a filtered answer can under-fill, the check collects
   *  the ≤ fetchK probed rows once and returns them as a LocalRelation, so a
   *  non-escalating query runs the scan job exactly once
   *  (FilteredJobCountSpec). */
  private[index] final def hitsPlan(spark: SparkSession, meta: IndexMeta, tomb: Set[Long],
      query: Array[Float], fetchK: Int, searchComplexity: Int,
      filter: Option[IdFilter]): DataFrame = {
    def probed(nprobe: Int): DataFrame =
      topK(spark, meta, query, fetchK, tomb, filter.map(_.column), nprobe)
    if (!mayUnderFill(meta, filter)) probed(0)
    else localHitRows(spark, filled(meta, filter, fetchK)(probed(_).collect()
      .map(r => (r.getLong(0), r.getFloat(1)))))
  }

  /** The cluster radii when range search can prune clusters exactly: an
   *  IVF index under L2 whose build stored radii.bin. Read per call, since
   *  an append rewrites the file in place. */
  private def rangeRadii(spark: SparkSession, meta: IndexMeta): Option[Array[Float]] = {
    val path = s"${IndexCatalog.indexDir(root(spark), meta.name)}/radii.bin"
    if (ivf && (meta.metricObj eq Metric.L2) &&
        java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      Some(IndexCatalog.readRadii(path))
    else None
  }

  /** One distributed filter over the index table — no top-k heap, no driver
   *  collect. Clusters are pruned exactly by the triangle inequality where
   *  [[rangeRadii]] allows, else to the nprobe probe set (approximate like
   *  top-k); flat tables scan in full. */
  override private[index] def rangeSearch(df: DataFrame, idColumn: String,
      meta: IndexMeta, tomb: Set[Long], query: Array[Float], radius: Float,
      searchComplexity: Int): DataFrame = {
    val spark = df.sparkSession
    val q = rotated(spark, meta, prepQuery(meta, query))
    val scan = rangeRadii(spark, meta) match {
      case Some(radii) =>
        val coarse = Coarse.of(spark, meta)
        probeFilter(spark.read.parquet(meta.sourcePath),
          AnnEngine.clusterKeep(coarse.cents, radii, q, radius).toSeq, coarse.nlist)
      case None => probedScan(spark, meta, q, 0)
    }
    val base = scan
      .select(col("id").as("__ann_id"), rangeDist(spark, meta, scan, floatVec(q.toSeq)).as("__dd"))
      .where(col("__dd") <= radius.toDouble)
    val hits = (if (tomb.isEmpty) base
      else base.where(notTombstoned(col("__ann_id"), tomb)))
      .select(col("__ann_id"), col("__dd").cast(FloatType).as("_distance"))
    // plain equi-join (not forced broadcast): a wide radius can match
    // a large fraction of the base table; AQE broadcasts if small
    df.join(hits, col(idColumn) === col("__ann_id"))
      .drop("__ann_id")
      .orderBy(col("_distance"), col(idColumn))
  }

  /** Broadcast-gemm range join: each base partition scores the (small)
   *  broadcast query table locally and keeps in-radius pairs. With stored
   *  radii each query explodes only to the clusters its ball can intersect;
   *  other IVF indexes use the per-query nprobe probe set. */
  private[index] def rangeSearchTable(queriesDf: DataFrame, vecCol: String,
      meta: IndexMeta, tomb: Set[Long], radius: Float, searchComplexity: Int): DataFrame = {
    val spark = queriesDf.sparkSession
    val q0 = TableEngine.queryCol(spark, meta, col(vecCol))
    val prepped = queriesDf.withColumn(vecCol, toFloatVec(col(vecCol)))
      .withColumn("__q", if (meta.opq) TableEngine.rotateCol(spark, meta, q0) else q0)
    val base = spark.read.parquet(meta.sourcePath)
    def probeJoin(probesOf: Column): DataFrame = {
      val qprobe = prepped.withColumn("__probe", explode(probesOf))
      base.join(broadcast(qprobe), probeJoinCond(base, qprobe("__probe")))
    }
    val coarse = Coarse.of(spark, meta)
    val joined = rangeRadii(spark, meta) match {
      case Some(radii) =>
        val radiiB = spark.sparkContext.broadcast(radii)
        probeJoin(udf((q: Array[Float]) =>
          AnnEngine.clusterKeep(coarse.cents, radiiB.value, q, radius)).apply(col("__q")))
      case None if ivf => probeJoin(coarse.probesCol(col("__q"), meta.nprobe))
      case None => base.crossJoin(broadcast(prepped))
    }
    val scored = joined
      .withColumn("__dd", rangeDist(spark, meta, base, col("__q")))
      .where(col("__dd") <= radius.toDouble)
    val noTomb = if (tomb.isEmpty) scored
      else scored.where(notTombstoned(base("id"), tomb))
    val inCols = queriesDf.schema.fieldNames.toSeq
    noTomb.select(inCols.map(prepped(_)) ++
      Seq(base("id").as("row_id"), col("__dd").cast(FloatType).as("_distance")): _*)
  }

  /**
   * Broadcast-gemm TABLE scoring: each base partition scores the broadcast
   * query block locally, then a per-query window keeps the top k. At 100 TB
   * the base side stays partition-parallel and only the query table is
   * replicated. Rankings reproduce the single-query scans bit-exactly
   * (same double distance expression, same float ADC accumulation), so
   * near-ties select the same rows whether a query arrives alone or in a
   * batch.
   */
  private[index] final def searchTable(queriesDf: DataFrame, vecCol: String,
      meta: IndexMeta, k: Int, tomb: Set[Long], searchComplexity: Int): DataFrame = {
    val spark = queriesDf.sparkSession
    val inSchema = queriesDf.schema
    val t = new TableQueries(spark, meta, queriesDf, vecCol)
    val base = t.base
    val TableJoin(joined, rawScore, qSide, frozenOut) = tableJoin(t)
    val live0 = if (tomb.isEmpty) joined
      else joined.where(notTombstoned(base("id"), tomb))
    frozenOut match {
      case Some(qOut) =>
        // NARROW ranking for the frozen-query engines: the probe join's
        // ~(queries x nprobe x cluster-size) rows shuffle only
        // (__qid, id, score) through the ranking window - ~24 bytes/row
        // instead of the ~0.5 KB query payload - and the query fields (for
        // refine, also the raw vectors) rejoin AFTER the k-cut, when at
        // most k*refineFactor rows per query remain. Safe here exactly
        // because qOut is a driver-frozen LocalRelation: its two plan
        // occurrences are deterministic row-for-row, which the lazy
        // mono-qid side of flat/ivfflat cannot promise.
        val scoredN = live0.select(col("__qid"), base("id").as("__rid"),
          rawScore.as("__rawdd"))
        val w1 = Window.partitionBy("__qid").orderBy(col("__rawdd"), col("__rid"))
        // name-based refs after the using-column join: dataset-tagged
        // qOut(f) refs would trip DetectAmbiguousSelfJoin (qOut is already
        // in scoredN's lineage); the narrow side carries only __-prefixed
        // columns, so user field names resolve uniquely
        val outCols = inSchema.fieldNames.map(f => col(f)).toSeq
        if (!meta.refine) {
          scoredN.withColumn("__rn", row_number().over(w1)).where(col("__rn") <= k)
            .join(broadcast(qOut), "__qid")
            .select(outCols :+ col("__rid").as("row_id") :+
              col("__rawdd").cast(FloatType).as("_distance"): _*)
        } else {
          // refine: exact double re-rank of the ADC top k*refineFactor,
          // same candidate cut and fold order as refineStage
          val cand = scoredN.withColumn("__crn", row_number().over(w1))
            .where(col("__crn") <= k * refineFactor(spark, meta))
          val bv = base.select(col("id").as("__rid"), col("vec"))
          val rejoined = cand.join(bv, "__rid")
            .join(broadcast(qOut), "__qid")
            .withColumn("__dd", AnnEngine.metricDist(meta.metricObj, col("vec"), col("__q")))
          val w2 = Window.partitionBy("__qid").orderBy(col("__dd"), col("__rid"))
          rejoined.withColumn("__rn", row_number().over(w2)).where(col("__rn") <= k)
            .select(outCols :+ col("__rid").as("row_id") :+
              col("__dd").cast(FloatType).as("_distance"): _*)
        }
      case None =>
        val unfiltered = live0.withColumn("__dd", rawScore)
        val w = Window.partitionBy("__qid").orderBy(col("__dd"), base("id"))
        unfiltered.withColumn("__rn", row_number().over(w)).where(col("__rn") <= k)
          .select(inSchema.fieldNames.map(f => qSide(f)).toSeq :+
            base("id").as("row_id") :+ col("__dd").cast(FloatType).as("_distance"): _*)
    }
  }

  /** The queries become a small broadcast table scored against ONE base
   *  scan ([[searchTable]]'s plan). A per-query plan union would grow the
   *  driver's analysis/codegen cost linearly in nq — fatal at nq in the
   *  thousands, where this stays a single fixed-size plan. */
  private[index] final def searchBatch(spark: SparkSession, meta: IndexMeta,
      queries: Seq[Array[Float]], k: Int, tomb: Set[Long], searchComplexity: Int): DataFrame = {
    val qDim = if (meta.inputDim > 0) meta.inputDim else meta.dim
    queries.foreach(q => require(q.length == qDim,
      s"query dimension ${q.length} != index dimension $qDim"))
    val qDf = spark.createDataFrame(
      java.util.Arrays.asList(queries.zipWithIndex.map { case (q, qi) => Row(qi, q.toSeq) }: _*),
      StructType(Seq(StructField("query_idx", IntegerType),
        StructField("__qvec", ArrayType(FloatType)))))
    searchTable(qDf, "__qvec", meta, k, tomb, searchComplexity)
      .select(col("query_idx"), col("row_id"), col("_distance"))
  }

  /** ADC TABLE join shared by the PQ and SQ families: pq/ivfpq/ivfsq never
   *  decode — the score is PqCodec.adc over the codes, the very
   *  accumulation the single-query scans rank by. Each (query, probe)'s
   *  m·k-float lookup table is NOT carried on the joined rows (shipping it
   *  cost ~161 s for 512 queries × nprobe 32 at 1.5M vectors); executors
   *  compute each LUT once via [[Ann.AdcLutCache]] and rows carry only
   *  (__qid, __probe). `residual` codes (ivfpq) take a per-probe table;
   *  otherwise one table per query serves every probe (probe = -1). */
  protected final def adcTableJoin(t: TableQueries, adcCol: String, residual: Boolean,
      bits: Int): TableJoin = {
    val spark = t.spark
    val dir = IndexCatalog.indexDir(root(spark), t.meta.name)
    val cbB = spark.sparkContext.broadcast(PqCodec.read(s"$dir/pq.bin"))
    val token = Ann.adcPlanTokens.incrementAndGet()
    val (frozen, qArrB) = t.frozen(adcCol)
    def score(probe: Column, code: Column, state: AdcScoreState): Column =
      mkCol(PqAdcScore(mkExpr(col("__qid")), mkExpr(probe), mkExpr(code), state))
    if (!ivf) {
      val state = new AdcScoreState(cbB, null, qArrB, t.l2, token, bits)
      TableJoin(t.base.crossJoin(broadcast(frozen)), score(lit(-1), t.base("code"), state),
        frozen, Some(frozen))
    } else {
      val state = new AdcScoreState(cbB, if (residual) t.coarse else null, qArrB, t.l2,
        token, bits)
      val (joined, stream, probed) = t.probeJoin(frozen)
      TableJoin(joined,
        score(if (residual) col("__probe") else lit(-1), stream("code"), state),
        probed, Some(frozen))
    }
  }

  /** Codegen'd reconstruction distance ([[QuantRangeDist]]) for the PQ and
   *  SQ families: decode (+ centroid for `residual` ivfpq codes; packed
   *  sub-byte ivfsq rows extract first), then the sequential double fold —
   *  the CODE-SPACE distance, the only one a quantized engine can know
   *  (FAISS likewise compares reconstructed distances against the radius).
   *  A native expression keeps the probe-pruned scan in one codegen span. */
  protected final def quantRangeDist(spark: SparkSession, meta: IndexMeta, t: DataFrame,
      q: Column, residual: Boolean, bits: Int): Column = {
    val dir = IndexCatalog.indexDir(root(spark), meta.name)
    val cbB = spark.sparkContext.broadcast(PqCodec.read(s"$dir/pq.bin"))
    val l2 = meta.metricObj eq Metric.L2
    val (state, cluster) =
      if (residual)
        (new QuantRangeState(cbB, Coarse.of(spark, meta), l2),
          t("cluster").cast(IntegerType))
      else (new QuantRangeState(cbB, null, l2, bits), lit(-1))
    mkCol(QuantRangeDist(mkExpr(t("code")), mkExpr(cluster), mkExpr(toFloatVec(q)), state))
  }

  /** Encode the rows, write them (IVF: cluster-co-located, see
   *  [[Ann.writeClustered]]) and keep the cluster radii bounding: a fresh
   *  table computes them over what was written; an append merge-maxes the
   *  batch's radii in, since new members may extend a cluster. */
  private[index] final def add(spark: SparkSession, meta: IndexMeta, data: DataFrame,
      fresh: Boolean): Unit = {
    val dir = IndexCatalog.indexDir(root(spark), meta.name)
    val mode = if (fresh) "overwrite" else "append"
    val rows = encode(spark, meta, dir, data)
    if (ivf) writeClustered(rows, meta.nlist, meta.sourcePath, mode)
    else rows.write.mode(mode).parquet(meta.sourcePath)
    val radiiPath = s"$dir/radii.bin"
    if (fresh)
      radii(spark, meta, dir, spark.read.parquet(meta.sourcePath))
        .foreach(IndexCatalog.writeRadii(radiiPath, _))
    else if (java.nio.file.Files.exists(java.nio.file.Paths.get(radiiPath)))
      radii(spark, meta, dir, rows).foreach { add =>
        val old = IndexCatalog.readRadii(radiiPath)
        IndexCatalog.writeRadii(radiiPath,
          Array.tabulate(old.length)(c => math.max(old(c), add(c))))
      }
  }

  /** Build tail: encode + write the prepped input against the artifacts the
   *  build just froze, then record the row count. */
  protected final def finishBuild(spark: SparkSession, meta: IndexMeta,
      data: DataFrame): IndexMeta = {
    add(spark, meta, data, fresh = true)
    val built = meta.copy(numVectors = spark.read.parquet(meta.sourcePath).count())
    IndexCatalog.save(root(spark), built)
    built
  }

  /** The IVF families' one coarse quantizer build: fit ([[Coarse.fit]] on
   *  the build's lowest-id `seeds` or its stride `sample`, each collected
   *  only if used), write, and record it in `meta`. */
  protected final def withCoarse(meta: IndexMeta, dir: String, params: BuildParams,
      seeds: => Array[Array[Float]], sample: => Array[Array[Float]]): (IndexMeta, Coarse) = {
    val cents = Coarse.fit(params, meta.dim, seeds, sample)
    (meta.copy(nlist = cents.length, nprobe = math.min(params.nprobe, cents.length),
      imiB = params.imiB, coarseHnswM = params.coarseHnswM),
      Coarse.write(dir, cents, meta.dim, params))
  }

  /** The build's stored representation: cosine vectors normalized once. */
  protected final def storedInput(data: DataFrame, metric: Metric): DataFrame =
    if (metric eq Metric.Cosine) data.withColumn("vec", normalizeVecUdf(col("vec"))) else data

  /** Appended rows encode with the frozen quantizer. PCA/OPQ-chain indexes
   *  take rows in the ORIGINAL dim through the frozen transform —
   *  transform FIRST, normalize AFTER (the build's and prepQuery's float
   *  order: the two orders differ by an ulp in float, enough to flip an
   *  appended row's cluster/code at a cell boundary). */
  private[index] final def append(df: DataFrame, column: String, idColumn: String,
      meta: IndexMeta, splitRows: Long): IndexMeta = {
    val spark = df.sparkSession
    val dim = if (meta.inputDim > 0) meta.inputDim else meta.dim
    val checkUdf = udf((v: Array[Float]) => {
      require(v.length == dim, s"appended vector has dimension ${v.length}, expected $dim")
      v
    })
    val data0 = df
      .select(col(idColumn).cast(LongType).as("id"), toFloatVec(col(column)).as("vec"))
      .where(col(idColumn).isNotNull && col(column).isNotNull)
      .withColumn("vec", checkUdf(col("vec")))
    val transformed = if (meta.pcaFile.isEmpty) data0
      else data0.withColumn("vec", pcaCol(spark, meta.pcaFile, col("vec")))
    val data = storedInput(transformed, meta.metricObj)
    val n = data.count()
    if (n == 0) return meta
    add(spark, meta, data, fresh = false)
    val updated = meta.copy(numVectors = meta.numVectors + n)
    IndexCatalog.save(root(spark), updated)
    updated
  }

  /** Live rows into a fresh versioned dir of ~[[TableEngine.CompactTargetBytes]]
   *  files (IVF: the build's cluster layout), atomic metadata swap, then
   *  clean-up. Single-writer: a DataFrame planned against the OLD
   *  sourcePath and executed afterwards fails with FileNotFound — re-plan
   *  after mutations. */
  private[index] final def vacuum(spark: SparkSession, meta: IndexMeta,
      tomb: Set[Long]): IndexMeta = {
    val r = root(spark)
    val dir = IndexCatalog.indexDir(r, meta.name)
    val ver = meta.version + 1
    val newPath = s"$dir/data-v$ver"
    val df0 = spark.read.parquet(meta.sourcePath)
    val live = if (tomb.isEmpty) df0 else df0.where(notTombstoned(col("id"), tomb))
    val estBytes = BaseRows.tableFiles(new java.io.File(meta.sourcePath)).map(_._2).sum
    val nFiles = math.max(1,
      math.ceil(estBytes.toDouble / TableEngine.CompactTargetBytes).toInt)
    // ivf: drop the read-back bucket partition column; writeClustered
    // re-derives it
    if (ivf) writeClustered(live.drop("bucket"), meta.nlist, newPath, "overwrite")
    else live.repartition(nFiles).write.mode("overwrite").parquet(newPath)
    val n = spark.read.parquet(newPath).count()
    // new data dir is complete — publish metadata atomically, then clean up
    val updated = meta.copy(sourcePath = newPath, version = ver,
      numVectors = n, numDeleted = 0L)
    IndexCatalog.save(r, updated)
    new java.io.File(IndexCatalog.tombstonePath(r, meta.name)).delete()
    IndexCatalog.deleteTree(meta.sourcePath)
    updated
  }
}

object TableEngine {
  /** Target file size of a vacuumed / compacted index table. */
  private[index] val CompactTargetBytes = 128L << 20

  /** The table family of `meta`'s engine, if it is one. */
  private[index] def of(meta: IndexMeta): Option[TableEngine] = AnnEngine.of(meta) match {
    case e: TableEngine => Some(e)
    case _ => None
  }

  /** TABLE-path query column: PCA-mapped through the frozen transform, then
   *  cosine-normalized — transform FIRST, normalize AFTER, prepQuery's
   *  float order (OPQ-chain ivfpq indexes store their rotation as pca.bin
   *  and allow cosine; the other order diverges by an ulp at a cell
   *  boundary). */
  private[index] def queryCol(spark: SparkSession, meta: IndexMeta, q: Column): Column = {
    val cosine = meta.metricObj eq Metric.Cosine
    if (meta.pcaFile.nonEmpty) {
      val t = pcaCol(spark, meta.pcaFile, q)
      if (cosine) toFloatVec(normalizeCol(t)) else t
    } else if (cosine) toFloatVec(normalizeCol(q))
    else q
  }

  /** Query column rotated into plain-pq OPQ code space. */
  private[index] def rotateCol(spark: SparkSession, meta: IndexMeta, q: Column): Column = {
    val rotB = spark.sparkContext.broadcast(readRotation(spark, meta))
    udf((v: Array[Float]) => OpqCodec.rotate(rotB.value, v)).apply(q)
  }
}

/**
 * Exact engines: `flat` (full scan, Spark-native TakeOrderedAndProject) and
 * `ivfflat` (k-means centroids + a cluster-partitioned table → nprobe
 * partition pruning). Distances are the exact double-precision expressions.
 */
sealed abstract class ExactEngine(name: String, ivfLayout: Boolean) extends TableEngine(name) {
  override def ivf: Boolean = ivfLayout

  private[index] def build(data: DataFrame, index: String, dir: String,
      metric: Metric, params: BuildParams): IndexMeta = {
    val spark = data.sparkSession
    val dim = inferDim(data)
    val flat = IndexMeta(index, name, "vec", "id", dim, metric.name,
      0, 0, 0f, false, 0L, 0L, Nil, sourcePath = s"$dir/data")
    val meta = if (!ivf) flat else {
      val cosine = metric eq Metric.Cosine
      withCoarse(flat, dir, params, lowestIds(data, Coarse.seedRows(params), cosine),
        strideSample(data, params, cosine))._1
    }
    finishBuild(spark, meta, storedInput(data, metric))
  }

  protected def encode(spark: SparkSession, meta: IndexMeta, dir: String,
      data: DataFrame): DataFrame =
    if (!ivf) data else data.withColumn("cluster", Coarse.of(spark, meta).assignCol(col("vec")))

  /** Per-cluster max member↔centroid L2 radius: range queries prune
   *  clusters by the triangle inequality EXACTLY. */
  override protected def radii(spark: SparkSession, meta: IndexMeta, dir: String,
      rows: DataFrame): Option[Array[Float]] =
    if (!ivf) None else Some(Ann.clusterRadii(rows, Coarse.of(spark, meta), meta.nlist))

  protected def scored(spark: SparkSession, meta: IndexMeta, query: Array[Float],
      filter: Option[Column], nprobe: Int): DataFrame = {
    val scan = probedScan(spark, meta, query, nprobe)
    filter.fold(scan)(scan.where)
      .select(col("id").as("row_id"), metricDistanceCol(meta.metricObj, col("vec"), query).as("__dd"))
  }

  /** The sequential double fold of the Catalyst distance expressions. */
  protected def localScorer(spark: SparkSession, meta: IndexMeta, stored: Array[Any],
      clusters: Array[Int]): LocalScorer = {
    val vecs = stored.map(_.asInstanceOf[ArrayData].toFloatArray())
    val l2 = meta.metricObj eq Metric.L2
    (query, _) => i => Ann.doubleFoldDist(vecs(i), query, l2)
  }

  protected def rangeDist(spark: SparkSession, meta: IndexMeta, t: DataFrame,
      q: Column): Column =
    AnnEngine.metricDist(meta.metricObj, t("vec"), q)

  protected def tableJoin(t: TableQueries): TableJoin = {
    def distTo(vc: Column): Column = AnnEngine.metricDist(t.meta.metricObj, vc, col("__q"))
    if (ivf && t.meta.nprobe < t.meta.nlist) {
      val (joined, stream, probed) = t.probeJoin(t.numbered)
      TableJoin(joined, distTo(stream("vec")), probed, None)
    } else
      TableJoin(t.base.crossJoin(broadcast(t.numbered)), distTo(t.base("vec")),
        t.numbered, None)
  }

  /** Stored vectors (normalized when the metric is cosine — reconstruction
   *  is of what the index SEARCHES, FAISS's contract for preprocessed adds). */
  private[index] def reconstruct(spark: SparkSession, meta: IndexMeta, pred: Column,
      keep: Long => Boolean): DataFrame = storedVectors(spark, meta, pred)

  /** `flat` only (FAISS `IndexFlat::merge_from` analog): adopt the source's
   *  parquet data files into the target's storage directory. The merged
   *  index stays EXACT, which makes this the oracle-checkable merge. */
  override private[index] def merge(spark: SparkSession, r: String, t: IndexMeta,
      s: IndexMeta): IndexMeta = {
    if (ivf) return super.merge(spark, r, t, s)
    import java.nio.file.{Files, Paths}
    val tData = Paths.get(t.sourcePath)
    val sData = Paths.get(s.sourcePath)
    require(Files.isDirectory(tData) && Files.isDirectory(sData),
      s"flat merge expects parquet storage dirs (${t.sourcePath}, ${s.sourcePath})")
    val it = Files.list(sData).iterator()
    var i = 0
    while (it.hasNext) {
      val f = it.next()
      val nm = f.getFileName.toString
      if (nm.endsWith(".parquet") || nm.startsWith("part-")) {
        Files.copy(f, tData.resolve(s"merged-${t.shards.size}-$i-$nm"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        i += 1
      }
    }
    val tomb = IndexCatalog.readTombstones(r, t.name) ++
      IndexCatalog.readTombstones(r, s.name)
    if (tomb.nonEmpty) IndexCatalog.writeTombstones(r, t.name, tomb)
    val updated = t.copy(numVectors = t.numVectors + s.numVectors,
      numDeleted = tomb.size.toLong)
    IndexCatalog.save(r, updated)
    updated
  }
}

/**
 * PQ engines (reference factory passthrough, faiss_index.cpp:39-60):
 * `pq` encodes every vector to m subquantizer bytes (optionally behind a
 * learned OPQ rotation, rotation.bin); `ivfpq` (`IVF<nlist>,PQ<m>`) adds a
 * coarse k-means partition and encodes the RESIDUAL v − centroid (FAISS
 * IVFPQ: residuals have far less variance than raw vectors, so the same
 * byte budget quantizes much tighter). Codes land in parquet — a billion
 * dim-768 vectors at m=96 is ~96 GB of codes vs 3 TB of floats, and the ADC
 * scan reads only (id, code). RFlat keeps the raw vectors for an exact
 * re-rank (FAISS IndexRefineFlat).
 */
sealed abstract class PqEngine(name: String, ivfLayout: Boolean) extends TableEngine(name) {
  override def ivf: Boolean = ivfLayout
  override def storesCodes: Boolean = true

  private[index] def build(data: DataFrame, index: String, dir: String,
      metric: Metric, params: BuildParams): IndexMeta = {
    val spark = data.sparkSession
    val dim = inferDim(data)
    require(params.pqM > 0 && dim % params.pqM == 0,
      s"$name requires dim % m == 0 (dim=$dim, m=${params.pqM})")
    val cosine = metric eq Metric.Cosine
    // each training input is collected at most once and serves every
    // codebook: seed mode's lowest-id rows (the coarse quantizer's and the
    // seedK codebook seeds), trained mode's one stride sample (a second
    // full-corpus sampling pass would double build IO)
    lazy val seeds: Array[Array[Float]] = lowestIds(data,
      if (ivf) math.max(Coarse.seedRows(params), params.seedK) else params.seedK, cosine)
    lazy val trainedSample: Array[Array[Float]] = strideSample(data, params, cosine)
    val meta0 = IndexMeta(index, name, "vec", "id", dim, metric.name,
      maxDegree = params.pqM, // pq reuses the maxDegree slot for m
      buildComplexity = 0, alpha = 0f, quantized = true, numVectors = 0L,
      numDeleted = 0L, shards = Nil, sourcePath = s"$dir/data", refine = params.refine,
      refineK = params.refineK)
    val meta = if (!ivf) {
      // OPQ: learn rotation + codebook together; codes store R·v and search
      // rotates the query (distances are rotation-invariant)
      val cb = if (params.seedK > 0) {
        // seed mode: codebook = subvectors of the seedK lowest-id vectors,
        // verbatim — no sampling job, no training; SQL-replayable by design
        val prepped = seeds
        if (params.opq) {
          // seeded OPQ: a deterministic REVERSAL permutation as the rotation —
          // orthogonal like a trained OPQ matrix, exercises the production
          // rotate→encode→ADC path (the generic matmul over a permutation is
          // float-exact: one nonzero term per output), and replays in SQL as
          // a list reindex (rv[i] = v[dim−i+1]) with no SVD to replicate
          val rot = Array.tabulate(dim, dim)((i, j) =>
            if (j == dim - 1 - i) 1.0f else 0.0f)
          IndexCatalog.writeCentroids(s"$dir/rotation.bin", rot, dim)
          PqCodec.fromSeeds(prepped.map(OpqCodec.rotate(rot, _)), params.pqM)
        } else PqCodec.fromSeeds(prepped, params.pqM)
      } else if (params.opq) {
        val trained = OpqCodec.train(trainedSample, params.pqM)
        IndexCatalog.writeCentroids(s"$dir/rotation.bin", trained.rotation, dim)
        trained.codebook
      } else PqCodec.train(trainedSample, params.pqM)
      PqCodec.write(s"$dir/pq.bin", cb)
      meta0.copy(opq = params.opq)
    } else {
      val (withQ, coarse) = withCoarse(meta0, dir, params, seeds, trainedSample)
      // PQ codebook on residuals against each row's assigned cell — seeded
      // from the seedK lowest ids (SQL-replayable) or trained on the
      // sample. Cells come from Coarse.assign, so an IMI row's residual is
      // taken against the cell it is stored under (a full-product float
      // scan can round a near-tie to a different cell)
      def residual(v: Array[Float]): Array[Float] =
        PqCodec.residual(v, coarse.cents(coarse.assign(v)))
      val cb =
        if (params.seedK > 0) PqCodec.fromSeeds(seeds.take(params.seedK).map(residual), params.pqM)
        else PqCodec.train(trainedSample.map(residual), params.pqM)
      PqCodec.write(s"$dir/pq.bin", cb)
      withQ
    }
    finishBuild(spark, meta, storedInput(data, metric))
  }

  protected def encode(spark: SparkSession, meta: IndexMeta, dir: String,
      data: DataFrame): DataFrame = {
    val cbB = spark.sparkContext.broadcast(PqCodec.read(s"$dir/pq.bin"))
    if (ivf) {
      val coarse = Coarse.of(spark, meta)
      val encodeUdf = udf((v: Array[Float], cluster: Int) =>
        PqCodec.encode(cbB.value, PqCodec.residual(v, coarse.cents(cluster))))
      data.withColumn("cluster", coarse.assignCol(col("vec")))
        .select(Seq(col("id"), encodeUdf(col("vec"), col("cluster")).as("code")) ++
          refineCols(meta) :+ col("cluster"): _*)
    } else {
      // OPQ indexes encode R·v with the frozen rotation
      val rotB = spark.sparkContext.broadcast(
        if (meta.opq) readRotation(spark, meta) else null)
      val encodeUdf = udf((v: Array[Float]) => {
        val r = rotB.value
        PqCodec.encode(cbB.value, if (r == null) v else OpqCodec.rotate(r, v))
      })
      data.select(Seq(col("id"), encodeUdf(col("vec")).as("code")) ++ refineCols(meta): _*)
    }
  }

  /** The family's ADC kernel for a prepped query ([[AdcQuery]]): ivfpq
   *  takes one residual table per probed cell (`probes`, null = every
   *  cell); pq (OPQ) rotates the ADC query once — the RFlat re-rank keeps
   *  the unrotated one. Artifacts load once per call. */
  private def adcQuery(spark: SparkSession,
      meta: IndexMeta): (Array[Float], Array[Int]) => AdcQuery = {
    val cb = PqCodec.read(s"${IndexCatalog.indexDir(root(spark), meta.name)}/pq.bin")
    val rot = if (meta.opq) readRotation(spark, meta) else null
    val coarse = if (ivf) Coarse.of(spark, meta) else null
    val l2 = meta.metricObj eq Metric.L2
    (query, probes) =>
      if (!ivf) AdcQuery.flat(cb, if (rot == null) query else OpqCodec.rotate(rot, query), l2, 8)
      else AdcQuery.residual(cb, query, coarse.cents,
        if (probes == null) coarse.cents.indices.toArray else probes, l2)
  }

  /** ADC top-k; partition pruning keeps unprobed ivfpq files unread. */
  protected def scored(spark: SparkSession, meta: IndexMeta, query: Array[Float],
      filter: Option[Column], nprobe: Int): DataFrame = {
    val (scan, score) = if (ivf) {
      val (coarse, ps) = probes(spark, meta, query, nprobe)
      val aB = spark.sparkContext.broadcast(adcQuery(spark, meta)(query, ps))
      (probeFilter(spark.read.parquet(meta.sourcePath), ps.toSeq, coarse.nlist),
        udf((cluster: Int, code: Array[Byte]) => aB.value.score(cluster, code))
          .apply(col("cluster").cast(IntegerType), col("code")))
    } else {
      val aB = spark.sparkContext.broadcast(adcQuery(spark, meta)(query, null))
      (spark.read.parquet(meta.sourcePath),
        udf((code: Array[Byte]) => aB.value.score(-1, code)).apply(col("code")))
    }
    // filtered search: the id predicate splices BEFORE the ADC projection
    // and top-k, so it pushes to the parquet scan beside the probe pruning
    filter.fold(scan)(scan.where).select(col("id").as("row_id"), score.as("__dd"))
  }

  protected def localScorer(spark: SparkSession, meta: IndexMeta, stored: Array[Any],
      clusters: Array[Int]): LocalScorer = {
    val codes = stored.map(_.asInstanceOf[Array[Byte]])
    val adc = adcQuery(spark, meta)
    (query, probes) => {
      val a = adc(query, probes)
      if (clusters == null) i => a.score(-1, codes(i)).toDouble
      else i => a.score(clusters(i), codes(i)).toDouble
    }
  }

  /** ivfpq range is approximate at nprobe < nlist (residual reconstructions
   *  straddle cluster boundaries, so no exact pruning radii exist; FAISS
   *  has the same nprobe semantics). RFlat does not apply to range. */
  protected def rangeDist(spark: SparkSession, meta: IndexMeta, t: DataFrame,
      q: Column): Column =
    quantRangeDist(spark, meta, t, q, residual = ivf, bits = 8)

  protected def tableJoin(t: TableQueries): TableJoin =
    adcTableJoin(t, if (t.meta.opq) "__qadc" else "__q", residual = true, bits = 8)

  /** pq decodes subspace codes (OPQ applies Rᵀ — IndexPreTransform's
   *  reverse_transform); ivfpq returns centroid + decoded residual; RFlat
   *  indexes return the refine storage's raw vectors. */
  private[index] def reconstruct(spark: SparkSession, meta: IndexMeta, pred: Column,
      keep: Long => Boolean): DataFrame = {
    if (meta.refine) return storedVectors(spark, meta, pred)
    val dir = IndexCatalog.indexDir(root(spark), meta.name)
    val cbB = spark.sparkContext.broadcast(PqCodec.read(s"$dir/pq.bin"))
    val rows = spark.read.parquet(meta.sourcePath).where(pred)
    if (ivf) {
      val coarse = Coarse.of(spark, meta)
      val dec = udf((code: Array[Byte], cluster: Int) =>
        PqCodec.decodeResidual(cbB.value, code, coarse.cents(cluster)))
      rows.select(col("id").as("row_id"),
        dec(col("code"), col("cluster").cast(IntegerType)).as("vector"))
    } else {
      val rotT = if (!meta.opq) null else {
        val r = readRotation(spark, meta)
        Array.tabulate(r.length)(i => Array.tabulate(r.length)(j => r(j)(i)))
      }
      val rotTB = spark.sparkContext.broadcast(rotT)
      val dec = udf((code: Array[Byte]) => {
        val y = PqCodec.decode(cbB.value, code)
        if (rotTB.value == null) y else OpqCodec.rotate(rotTB.value, y)
      })
      rows.select(col("id").as("row_id"), dec(col("code")).as("vector"))
    }
  }
}

/**
 * `IVF<nlist>,SQ8/SQ4/SQ6` (FAISS IndexIVFScalarQuantizer with
 * by_residual=false): inverted lists over scalar-quantized codes. The
 * per-dim min/max train over the WHOLE corpus in one order-independent
 * distributed agg (exact, and exactly what the DuckDB saturation oracle
 * replays); codes quantize RAW stored vectors (not residuals), so ONE query
 * LUT serves every probe.
 *
 * Serving reuses the PQ ADC machinery wholesale: pq.bin stores a SYNTHETIC
 * codebook with m = dim, dsub = 1, k = 2^bits whose "centroids" are the
 * dequantization levels per dimension (`min_d + (b/(2^bits−1))·scale_d` —
 * bit-identical to [[Sq8Data.dequantize]] at 8 bits), so `PqCodec.lut/adc`,
 * the codegen'd [[PqAdcScore]] path, the [[AdcQuery]] kernel and the RFlat
 * refine stage all work unchanged; only encode/extract branch on sub-byte
 * packing.
 * Encoding does NOT go through codebook argmin (an exact-midpoint value
 * would round down by argmin's lowest-index tiebreak but UP by the SQ round
 * rule the oracle replays) — it uses [[Sq8Codec.encodeRow]].
 */
sealed abstract class SqEngine extends TableEngine("ivfsq") {
  override def ivf: Boolean = true
  override def storesCodes: Boolean = true

  private[index] def build(data: DataFrame, index: String, dir: String,
      metric: Metric, params: BuildParams): IndexMeta = {
    val spark = data.sparkSession
    import spark.implicits._
    val dim = inferDim(data)
    val cosine = metric eq Metric.Cosine
    val dataP = storedInput(data, metric)
    // per-dim min/max over the STORED representation (normalized if cosine):
    // elementwise min/max is order-independent, so the distributed agg is
    // exact and host-count-invariant
    val zero = (Array.fill(dim)(Float.MaxValue), Array.fill(dim)(Float.MinValue))
    val (mins, maxs) = dataP.select("vec").as[Array[Float]].rdd.treeAggregate(zero)(
      (acc, v) => {
        var d = 0
        while (d < dim) {
          if (v(d) < acc._1(d)) acc._1(d) = v(d)
          if (v(d) > acc._2(d)) acc._2(d) = v(d)
          d += 1
        }
        acc
      },
      (a, b) => {
        var d = 0
        while (d < dim) {
          if (b._1(d) < a._1(d)) a._1(d) = b._1(d)
          if (b._2(d) > a._2(d)) a._2(d) = b._2(d)
          d += 1
        }
        a
      })
    val scales = Array.tabulate(dim) { d =>
      val r = maxs(d) - mins(d)
      if (r > 0f) r else 1.0f
    }
    // sq.bin: [mins row; scales row] in the centroids file format (append
    // re-encodes against these frozen ranges)
    IndexCatalog.writeCentroids(s"$dir/sq.bin", Array(mins, scales), dim)
    // code width: 8 = u8 byte-per-dim (the FAISS QT_8bit analog), 4/6 =
    // packed sub-byte rows via SqPackedCodec (QT_4bit/QT_6bit)
    val bits = params.quantization match {
      case "sq4" => 4
      case "sq6" => 6
      case _ => 8
    }
    val nLevels = (1 << bits) - 1
    // synthetic per-dim codebook — the dequantization levels
    val levels: Array[Array[Array[Float]]] = Array.tabulate(dim) { d =>
      Array.tabulate(1 << bits)(b =>
        Array(mins(d) + (b / nLevels.toFloat) * scales(d)))
    }
    PqCodec.write(s"$dir/pq.bin", PqCodec.Codebook(dim, 1, 1 << bits, levels))
    val meta0 = IndexMeta(index, name, "vec", "id", dim, metric.name,
      maxDegree = 0, buildComplexity = 0, alpha = 0f, quantized = true,
      numVectors = 0L, numDeleted = 0L, shards = Nil, sourcePath = s"$dir/data",
      refine = params.refine, refineK = params.refineK, quantBits = bits)
    val (meta, _) = withCoarse(meta0, dir, params, lowestIds(data, Coarse.seedRows(params), cosine),
      strideSample(data, params, cosine))
    finishBuild(spark, meta, dataP)
  }

  /** New rows quantize against the build's per-dim min/scale (sq.bin);
   *  values outside the trained range clamp, like FAISS's trained
   *  ScalarQuantizer. */
  protected def encode(spark: SparkSession, meta: IndexMeta, dir: String,
      data: DataFrame): DataFrame = {
    val sq = IndexCatalog.readCentroids(s"$dir/sq.bin")
    val minsB = spark.sparkContext.broadcast(sq(0))
    val scalesB = spark.sparkContext.broadcast(sq(1))
    val bits = meta.quantBits
    val encodeUdf =
      if (bits == 8) udf((v: Array[Float]) => Sq8Codec.encodeRow(v, minsB.value, scalesB.value))
      else udf((v: Array[Float]) =>
        SqPackedCodec.encodeRow(v, minsB.value, scalesB.value, bits))
    data.select(Seq(col("id"), encodeUdf(col("vec")).as("code")) ++ refineCols(meta) :+
      Coarse.of(spark, meta).assignCol(col("vec")).as("cluster"): _*)
  }

  /** CODE-SPACE cluster radii: range search filters distances to the
   *  DEQUANTIZED reconstructions, which raw-vector radii do not bound
   *  (quantization can move a point up to half a level outward), so the
   *  radius is max over members of d(x̂, centroid) — exact triangle-inequality
   *  pruning in code space at any nprobe. */
  override protected def radii(spark: SparkSession, meta: IndexMeta, dir: String,
      rows: DataFrame): Option[Array[Float]] =
    Some(Ann.sqClusterRadii(rows, Coarse.of(spark, meta),
      spark.sparkContext.broadcast(PqCodec.read(s"$dir/pq.bin")), meta.nlist, meta.quantBits))

  /** The family's ADC kernel for a prepped query: one per-dim
   *  dequantization table serves every probe (packed sub-byte rows extract
   *  level indices inline). The codebook loads once per call. */
  private def adcQuery(spark: SparkSession, meta: IndexMeta): Array[Float] => AdcQuery = {
    val cb = PqCodec.read(s"${IndexCatalog.indexDir(root(spark), meta.name)}/pq.bin")
    val l2 = meta.metricObj eq Metric.L2
    query => AdcQuery.flat(cb, query, l2, meta.quantBits)
  }

  /** Probe-pruned scan ranked by [[adcQuery]]. */
  protected def scored(spark: SparkSession, meta: IndexMeta, query: Array[Float],
      filter: Option[Column], nprobe: Int): DataFrame = {
    val aB = spark.sparkContext.broadcast(adcQuery(spark, meta)(query))
    val scan = probedScan(spark, meta, query, nprobe)
    filter.fold(scan)(scan.where).select(col("id").as("row_id"),
      udf((code: Array[Byte]) => aB.value.score(-1, code)).apply(col("code")).as("__dd"))
  }

  protected def localScorer(spark: SparkSession, meta: IndexMeta, stored: Array[Any],
      clusters: Array[Int]): LocalScorer = {
    val codes = stored.map(_.asInstanceOf[Array[Byte]])
    val adc = adcQuery(spark, meta)
    (query, _) => {
      val a = adc(query)
      i => a.score(-1, codes(i)).toDouble
    }
  }

  protected def rangeDist(spark: SparkSession, meta: IndexMeta, t: DataFrame,
      q: Column): Column =
    quantRangeDist(spark, meta, t, q, residual = false, bits = meta.quantBits)

  protected def tableJoin(t: TableQueries): TableJoin =
    adcTableJoin(t, "__q", residual = false, bits = t.meta.quantBits)

  /** The per-dim dequantization levels (SQ8 or packed SQ4/SQ6); RFlat
   *  indexes return the refine storage's raw vectors. */
  private[index] def reconstruct(spark: SparkSession, meta: IndexMeta, pred: Column,
      keep: Long => Boolean): DataFrame = {
    if (meta.refine) return storedVectors(spark, meta, pred)
    val cbB = spark.sparkContext.broadcast(
      PqCodec.read(s"${IndexCatalog.indexDir(root(spark), meta.name)}/pq.bin"))
    val bits = meta.quantBits
    val dec = udf((code: Array[Byte]) => Ann.sqDecode(cbB.value, bits, code))
    spark.read.parquet(meta.sourcePath).where(pred)
      .select(col("id").as("row_id"), dec(col("code")).as("vector"))
  }
}

/**
 * LSH (FAISS `IndexLSH`, factory `LSH[nbits]`): nbits-bit sign codes
 * against a frozen hyperplane set, stored as one BIGINT (≤64 bits) or an
 * array of ⌈nbits/64⌉ words — 8 bytes/row at any dim, so the scan reads
 * codes only and ranks by a codegen'd `bit_count(code XOR qcode)`.
 * `_distance` is the Hamming distance. Like FAISS, encoding ignores the
 * metric (signs are scale invariant); the `t` variant's trained thresholds
 * are not, so they train on the stored (normalized) representation.
 */
sealed abstract class LshEngine extends TableEngine("lsh") {
  override def storesCodes: Boolean = true

  private[index] def build(data: DataFrame, index: String, dir: String,
      metric: Metric, params: BuildParams): IndexMeta = {
    val dim = inferDim(data)
    val nbits =
      if (params.lshNbits > 0) params.lshNbits else math.min(dim, LshCodec.MaxBits)
    require(nbits <= LshCodec.MaxBitsWide,
      s"lsh supports at most ${LshCodec.MaxBitsWide} bits per code (got $nbits)")
    // `r` suffix (IndexLSH rotate_data): at nbits ≤ dim, orthonormalize the
    // projection rows — classical Gram-Schmidt in double, deterministic,
    // SQL-replayable (VectorOps.orthonormalizeRows documents the exact
    // operation order the oracle unrolls). At nbits > dim no such rows
    // exist (rank ≤ dim) — FAISS pads instead: a seeded orthonormal
    // nbits×nbits rotation applied to the zero-padded input
    // (LshCodec.paddedRotationRows), data-independent like FAISS's, so
    // seed mode does not alter it. Stored hyperplanes.bin holds the FINAL
    // rows either way. `seedK > 0` otherwise seeds hyperplanes verbatim
    // from the nbits lowest-id vectors (the `ann_lsh_exact` oracle).
    val hyps: Array[Array[Float]] =
      if (params.lshRotate && nbits > dim) LshCodec.paddedRotationRows(nbits, dim)
      else {
        val hyps0: Array[Array[Float]] =
          if (params.seedK > 0) lowestIds(data, nbits, cosine = false)
          else LshCodec.randomHyperplanes(nbits, dim)
        require(hyps0.length == nbits,
          s"lsh seed mode needs >= $nbits rows (got ${hyps0.length})")
        if (params.lshRotate)
          VectorOps.orthonormalizeRows(hyps0.map(_.map(_.toDouble)))
            .map(_.map(_.toFloat))
        else hyps0
      }
    IndexCatalog.writeCentroids(s"$dir/hyperplanes.bin", hyps, dim)
    // `t` suffix (IndexLSH train_thresholds): per-bit cut point = mean
    // projection over the trainSample LOWEST-ID vectors (id order, double) —
    // deterministic and replayable
    if (params.lshThresholds)
      IndexCatalog.writeThresholds(s"$dir/thresholds.bin", LshCodec.trainThresholds(hyps,
        lowestIds(data, params.trainSample, metric eq Metric.Cosine)))
    // nlist carries nbits (the hnsw precedent: IndexMeta reuses maxDegree
    // for m); quantized marks the code-only storage
    val meta = IndexMeta(index, name, "vec", "id", dim, metric.name,
      maxDegree = 0, buildComplexity = 0, alpha = 0f, quantized = true,
      numVectors = 0L, numDeleted = 0L, shards = Nil, sourcePath = s"$dir/data",
      nlist = nbits, refine = params.refine, refineK = params.refineK,
      lshVariant = (if (params.lshRotate) "r" else "") +
        (if (params.lshThresholds) "t" else ""))
    finishBuild(data.sparkSession, meta, storedInput(data, metric))
  }

  protected def encode(spark: SparkSession, meta: IndexMeta, dir: String,
      data: DataFrame): DataFrame = {
    val hypsB = spark.sparkContext.broadcast(
      IndexCatalog.readCentroids(s"$dir/hyperplanes.bin"))
    val thrB = spark.sparkContext.broadcast(Ann.lshThresholdsOf(spark, meta))
    val encodeUdf =
      if (meta.nlist > LshCodec.MaxBits)
        udf((v: Array[Float]) => LshCodec.encodeWords(hypsB.value, v, thrB.value))
      else udf((v: Array[Float]) => LshCodec.encode(hypsB.value, v, thrB.value))
    data.select(Seq(col("id"), encodeUdf(col("vec")).as("code")) ++ refineCols(meta): _*)
  }

  /** The query's code in the stored layout; artifacts load once per call. */
  private def queryCode(spark: SparkSession, meta: IndexMeta): Array[Float] => Array[Long] = {
    val hyps = IndexCatalog.readCentroids(
      s"${IndexCatalog.indexDir(root(spark), meta.name)}/hyperplanes.bin")
    val thr = Ann.lshThresholdsOf(spark, meta)
    Ann.lshQueryCode(meta, hyps, _, thr)
  }

  /** Hamming ranking with no UDF and no vector column read; under RFlat
   *  only the candidates' vectors are fetched back for the exact re-rank. */
  protected def scored(spark: SparkSession, meta: IndexMeta, query: Array[Float],
      filter: Option[Column], nprobe: Int): DataFrame = {
    val qcode = queryCode(spark, meta)(query)
    val scan = spark.read.parquet(meta.sourcePath)
    filter.fold(scan)(scan.where)
      .select(col("id").as("row_id"),
        Ann.hammingCol(col("code"), qcode.length, w => lit(qcode(w))).as("__dd"))
  }

  /** Integer Hamming distances, so parity with the codegen'd
   *  bit_count(XOR) is exact; wide codes sum per-word popcounts, as the
   *  scan sums its per-word columns. Row i's words sit at [i·w, (i+1)·w). */
  protected def localScorer(spark: SparkSession, meta: IndexMeta, stored: Array[Any],
      clusters: Array[Int]): LocalScorer = {
    val code = queryCode(spark, meta)
    val w = LshCodec.words(meta.nlist)
    val words = if (w == 1) stored.map(_.asInstanceOf[Long])
      else stored.flatMap(_.asInstanceOf[ArrayData].toLongArray())
    (query, _) => {
      val q = code(query)
      i => {
        var h = 0
        var j = 0
        while (j < w) { h += java.lang.Long.bitCount(words(i * w + j) ^ q(j)); j += 1 }
        h.toDouble
      }
    }
  }

  /** Hamming codes carry no metric-space distance: single-query range
   *  search takes the expanding top-k route. */
  override private[index] def rangeSearch(df: DataFrame, idColumn: String,
      meta: IndexMeta, tomb: Set[Long], query: Array[Float], radius: Float,
      searchComplexity: Int): DataFrame =
    expandingRange(df, idColumn, meta, tomb, query, radius, searchComplexity)

  protected def rangeDist(spark: SparkSession, meta: IndexMeta, t: DataFrame,
      q: Column): Column =
    throw new IllegalArgumentException(
      s"rangeSearchTable does not support lsh index '${meta.name}': Hamming codes " +
        "carry no metric-space distance")

  /** Batch Hamming rides the FROZEN-query route: queries collect once,
   *  encode to one code each, and the score is the same codegen'd
   *  bit_count(XOR) the single-query scan ranks by — and the frozen
   *  LocalRelation lets the narrow ranking shuffle only (__qid, id, score)
   *  (windowing the full cross join with the query array on every row
   *  OOMed an 8 GB driver at the scale smoke). */
  protected def tableJoin(t: TableQueries): TableJoin = {
    val spark = t.spark
    val meta = t.meta
    val hypsB = spark.sparkContext.broadcast(IndexCatalog.readCentroids(
      s"${IndexCatalog.indexDir(root(spark), meta.name)}/hyperplanes.bin"))
    val thrB = spark.sparkContext.broadcast(Ann.lshThresholdsOf(spark, meta))
    val wide = meta.nlist > LshCodec.MaxBits
    val qcodeUdf =
      if (wide) udf((v: Array[Float]) => LshCodec.encodeWords(hypsB.value, v, thrB.value))
      else udf((v: Array[Float]) => LshCodec.encode(hypsB.value, v, thrB.value))
    val frozen = t.frozen("__q")._1.withColumn("__qcode", qcodeUdf(col("__q")))
    val score = Ann.hammingCol(t.base("code"), LshCodec.words(meta.nlist),
      w => if (wide) element_at(col("__qcode"), w + 1) else col("__qcode")).cast(DoubleType)
    TableJoin(t.base.crossJoin(broadcast(frozen)), score, frozen, Some(frozen))
  }

  /** Sign codes are not reconstructible (FAISS IndexLSH has no reconstruct
   *  either); LSH,RFlat keeps raw vectors and reconstructs them exactly. */
  private[index] def reconstruct(spark: SparkSession, meta: IndexMeta, pred: Column,
      keep: Long => Boolean): DataFrame =
    if (meta.refine) storedVectors(spark, meta, pred)
    else throw new IllegalArgumentException(
      s"index '${meta.name}' is LSH: sign codes are not reconstructible " +
        "(FAISS IndexLSH has no reconstruct)")
}
