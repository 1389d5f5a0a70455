package graft.text

import org.apache.spark.Partitioner
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.toFloatVec

/**
 * SemDeDup-style semantic deduplication over an embedding column
 * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
 * through semantic deduplication"): cluster the embedding space, then
 * deduplicate ONLY within clusters — the cluster partition bounds the
 * pairwise work at N²/k per cluster instead of N² overall, which is the
 * property that makes embedding-level dedup feasible at 100 TB (k grows
 * with N, holding per-cluster membership roughly constant).
 *
 * The reference engine has no semantic-dedup operator (it delegates all
 * non-ANN work to its host, and hosts have nothing like this); this is one
 * of the training-data-pipeline operators the Spark build adds beyond the
 * reference surface, sharing the ANN subsystem's vector kernels.
 *
 * Two centroid sources:
 *
 *  - [[seedCentroids]]: the k lowest-id vectors, verbatim — deterministic
 *    and expressible in plain SQL, so the whole operator is bit-oracle-able
 *    against DuckDB (`semdedup` correctness entry).
 *  - [[trainedCentroids]]: KMeansLite Lloyd training on a deterministic
 *    strided sample — the quality route for real corpora (same trainer the
 *    IVF index build uses). Same downstream semantics; spec-pinned to agree
 *    with the expression route given identical centroids.
 *
 * Scale shape (SemDeDup's own contract is k ∝ N, cluster size ~constant):
 *
 *  - ASSIGNMENT is two-level above [[Assigner.TwoLevelGate]] centroids: a
 *    coarse √k-quantizer over the (normalized) centroids is probed per row
 *    and only the member centroids of the top-nprobe coarse cells are
 *    scanned — per-row cost O(√k) instead of O(k), the same shape FAISS
 *    uses to assign IVF lists at scale. Below the gate (and for the
 *    SQL-oracled seed mode, k=8) the scan is the exact linear argmax.
 *    Saturating nprobe (= every coarse cell) reproduces the linear result
 *    bit-for-bit (spec-pinned).
 *  - The WITHIN-CLUSTER pass shuffles keyed by (cluster, id) via
 *    `repartitionAndSortWithinPartitions` at a centroid-scaled partition
 *    count and streams the sorted iterator one cluster at a time, so
 *    per-task resident memory is bounded by the LARGEST SINGLE CLUSTER —
 *    constant under k ∝ N — never by N/numPartitions. (An earlier revision
 *    materialized whole hash partitions; that grows linearly with corpus
 *    size and was flagged as the round-12 scale defect.)
 *
 * All cosine similarities are computed with the same double-accumulation
 * formula as [[TextOps.cosineExactPairs]] (`dot / (sqrt(aa)·sqrt(bb))`,
 * double math over float inputs), which DuckDB's
 * `list_cosine_similarity(a::DOUBLE[], b::DOUBLE[])` reproduces bit-exactly.
 */
object SemDedup {

  /** Double-accumulated cosine over float vectors — bit-identical to the
   *  DuckDB oracle's DOUBLE[] cosine (same accumulation order). */
  @inline private[text] def cosineD(a: Array[Float], b: Array[Float]): Double = {
    var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
    val n = a.length
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      ab += x * y; aa += x * x; bb += y * y; i += 1
    }
    val den = math.sqrt(aa) * math.sqrt(bb)
    if (den == 0.0) 0.0 else ab / den
  }

  /** The k lowest-id vectors as (centroid_id 0..k-1, vector) — the
   *  SQL-expressible deterministic centroid choice. Driver-side k rows. */
  def seedCentroids(df: DataFrame, vecCol: String, idCol: String,
      k: Int): Array[(Int, Array[Float])] = {
    val rows = df.select(col(idCol).cast(LongType).as("id"),
        toFloatVec(col(vecCol)).as("v"))
      .orderBy("id").limit(k).collect()
    rows.iterator.zipWithIndex.map { case (r, i) =>
      i -> r.getSeq[Float](1).toArray
    }.toArray
  }

  /** KMeansLite-trained centroids (deterministic strided sample + Lloyd) —
   *  the quality route; shares the IVF build's trainer so cluster geometry
   *  matches what the ANN subsystem would build over the same corpus. */
  def trainedCentroids(df: DataFrame, vecCol: String, k: Int,
      iters: Int = 10, maxTrain: Int = 65536): Array[(Int, Array[Float])] = {
    val n = df.count()
    val stride = math.max(1L, n / maxTrain)
    val sample = df.select(toFloatVec(col(vecCol)).as("v"))
      .rdd.zipWithIndex()
      .filter { case (_, i) => i % stride == 0 }
      .map(_._1.getSeq[Float](0).toArray)
      .collect()
    graft.index.KMeansLite.train(sample, k, iters).zipWithIndex.map(_.swap)
  }

  /**
   * Nearest-centroid-by-max-cosine assigner, linear or two-level.
   *
   * Linear: scan centroids in ascending id order, strict `>` keeps the
   * first max — ties resolve to the lowest centroid id, exactly the SQL
   * cross-join + window argmax the DuckDB oracle runs.
   *
   * Two-level (`coarse != null`): argmax cosine(v, c) over unit-normalized
   * centroids ĉ equals argmin L2(v̂, ĉ), so a KMeansLite coarse quantizer
   * over the NORMALIZED centroids is probed with the normalized row and
   * only the member centroids of the top-nprobe coarse cells are scanned
   * (by exact cosine, same tie-break). Per-row cost k' + nprobe·k/k' ≈
   * O(√k) at k' = √k. nprobe = #coarse cells scans every member ⇒
   * bit-identical to linear.
   */
  private[text] final case class Assigner(
      ids: Array[Int], vecs: Array[Array[Float]],           // ascending id
      coarse: Array[Array[Float]],                           // null ⇒ linear
      lists: Array[Array[Int]],                              // coarse → positions
      nprobe: Int) extends Serializable {

    @inline private def scanPositions(v: Array[Float], pos: Array[Int],
        st: (Int, Double)): (Int, Double) = {
      var best = st._1; var bestSim = st._2
      var i = 0
      while (i < pos.length) {
        val p = pos(i)
        val s = cosineD(v, vecs(p))
        if (s > bestSim || (s == bestSim && ids(p) < best)) {
          bestSim = s; best = ids(p)
        }
        i += 1
      }
      (best, bestSim)
    }

    def apply(v: Array[Float]): (Int, Double) = {
      if (coarse == null) {
        // exact linear argmax, ascending-id scan order (oracle semantics)
        var best = -1; var bestSim = Double.NegativeInfinity
        var c = 0
        while (c < vecs.length) {
          val s = cosineD(v, vecs(c))
          if (s > bestSim) { bestSim = s; best = ids(c) }
          c += 1
        }
        (best, bestSim)
      } else {
        val vn = graft.core.VectorOps.normalize(v.clone())
        val p = math.min(nprobe, coarse.length)
        val cells = graft.index.KMeansLite.nearestP(coarse, vn, p)
        var st = (-1, Double.NegativeInfinity)
        var i = 0
        while (i < cells.length) {
          st = scanPositions(v, lists(cells(i)), st)
          i += 1
        }
        st
      }
    }
  }

  private[text] object Assigner {
    /** Centroid count above which auto mode switches to two-level. */
    val TwoLevelGate = 512

    /** nprobe: 0 ⇒ auto (linear ≤ gate, else two-level with default probes);
     *  -1 ⇒ force linear; >0 ⇒ force two-level with that many probes. */
    def build(spark: SparkSession, centroids: Array[(Int, Array[Float])],
        nprobe: Int = 0): Assigner = {
      val sorted = centroids.sortBy(_._1)
      val ids = sorted.map(_._1)
      val vecs = sorted.map(_._2)
      val (route, kCoarse, np) = assignRouteInfo(vecs.length, nprobe)
      graft.core.Route.post(spark, "semdedup.assign", route, vecs.length, TwoLevelGate)
      if (route == "linear") Assigner(ids, vecs, null, null, 0)
      else {
        val normed = vecs.map(v => graft.core.VectorOps.normalize(v.clone()))
        val coarse = graft.index.KMeansLite.train(normed, kCoarse)
        val members = Array.fill(coarse.length)(
          scala.collection.mutable.ArrayBuffer.empty[Int])
        var i = 0
        while (i < normed.length) {
          members(graft.index.KMeansLite.nearest(coarse, normed(i))) += i
          i += 1
        }
        // members ascend (fill order is ascending id) — the tie-break scan
        // inside a cell then visits lowest ids first, matching linear
        Assigner(ids, vecs, coarse, members.map(_.toArray), np)
      }
    }
  }

  /** The assignment route for `nCentroids` centroids at a given `nprobe`
   *  knob — ("linear", 0, 0) or ("two-level", kCoarse, nprobe) — the one
   *  decision [[Assigner.build]] takes (and posts as a `semdedup.assign`
   *  [[graft.core.GraftRouteEvent]]), so audits (ScaleSmoke's semdedup
   *  counters, specs) report which route engaged instead of inferring it. */
  def assignRouteInfo(nCentroids: Int, nprobe: Int = 0): (String, Int, Int) = {
    val twoLevel = nprobe > 0 || (nprobe == 0 && nCentroids > Assigner.TwoLevelGate)
    if (!twoLevel) ("linear", 0, 0)
    else {
      val kCoarse = math.max(1, math.ceil(math.sqrt(nCentroids.toDouble)).toInt)
      // ~√k/8 cells ⇒ recall >> IVF default
      val np = if (nprobe > 0) nprobe else math.max(4, kCoarse / 8)
      ("two-level", kCoarse, np)
    }
  }

  /** Nearest-centroid assignment by max cosine (ties → lowest centroid id),
   *  one broadcast argmax pass per row — no shuffle, no k×N row blow-up.
   *  Output: (id, cluster, csim). Bit-equal to the SQL cross-join + window
   *  argmax the oracle runs (linear route; see [[Assigner]] for the
   *  two-level route engaged above [[Assigner.TwoLevelGate]] centroids). */
  def assign(df: DataFrame, vecCol: String, idCol: String,
      centroids: Array[(Int, Array[Float])], assignNprobe: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(Assigner.build(spark, centroids, assignNprobe))
    val in = df.select(col(idCol).cast(LongType).as("id"),
      toFloatVec(col(vecCol)).as("v"))
    val outSchema = StructType(Seq(StructField("id", LongType),
      StructField("cluster", IntegerType), StructField("csim", DoubleType)))
    val rdd = in.rdd.mapPartitions { it =>
      val asg = bc.value
      it.map { r =>
        val (best, bestSim) = asg(r.getSeq[Float](1).toArray)
        Row(r.getLong(0), best, bestSim)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Cluster-keyed partitioner: a cluster's members land in ONE partition
   *  (the pairwise rule needs whole clusters), many clusters per partition.
   *  `partOf` carries the cost-aware placement ([[lptPack]]); clusters
   *  absent from it (never in practice — the pack covers every assigned
   *  cluster) fall back to modulo. */
  private final class ClusterPartitioner(parts: Int,
      partOf: scala.collection.Map[Int, Int]) extends Partitioner {
    override def numPartitions: Int = parts
    override def getPartition(key: Any): Int = {
      val c = key.asInstanceOf[(Int, Long)]._1
      partOf.getOrElse(c, java.lang.Math.floorMod(c, parts))
    }
  }

  /** Longest-processing-time bin packing of clusters into `parts` bins by
   *  QUADRATIC cost (the pairwise stage does O(size²) cosine work per
   *  cluster): place each cluster, largest cost first, onto the
   *  least-loaded bin. Deterministic — ties break on (cluster asc) for the
   *  ordering and (bin index asc) for the bin choice. The modulo placement
   *  this replaces left the cluster-size lottery free to stack several
   *  max-cap clusters in one partition: with max_cluster/mean = 4 the
   *  worst partition carries 16× a mean cluster's pair mass per unlucky
   *  co-residence, which the 1000× ladder read as a 5.7× major-stage skew
   *  on the pairwise stage (r15 in-ladder: 6.27). LPT bounds the makespan
   *  at 4/3 of optimal regardless of the lottery. */
  private[text] def lptPack(sizes: Array[(Int, Long)],
      parts: Int): scala.collection.Map[Int, Int] = {
    // min-heap on (load, bin): PriorityQueue is a max-heap, so invert
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Int)](
      Ordering.by(t => (-t._1, -t._2)))
    (0 until parts).foreach(p => heap.enqueue((0L, p)))
    val out = new java.util.HashMap[Int, Int](sizes.length * 2)
    sizes.sortBy { case (c, n) => (-(n * n), c) }.foreach { case (c, n) =>
      val (load, p) = heap.dequeue()
      out.put(c, p)
      heap.enqueue((load + n * n, p))
    }
    import scala.jdk.CollectionConverters._
    out.asScala
  }

  /**
   * SemDeDup: within each cluster, drop every id that has ANY lower-id
   * cluster-mate with cosine ≥ `threshold` (deterministic keep-lowest
   * exemplar rule — the paper keeps an arbitrary member per ε-ball; "any
   * lower id" makes the choice reproducible and exactly matches the EXISTS
   * subquery the DuckDB oracle runs, the same keep rule
   * `dedup_minhash_keep` pins).
   *
   * Output: (id, cluster, kept). One shuffle, keyed by (cluster, id) with a
   * cluster-only partitioner and sort-within-partitions, at a partition
   * count that scales with the centroid count (k ∝ N ⇒ partitions ∝ N).
   * The reducer STREAMS the sorted iterator one cluster at a time — resident
   * memory is one cluster's vectors (constant under the k ∝ N contract),
   * never a whole shuffle partition. Cluster sizes are auditable via
   * [[clusterSizes]] so an oversized cluster is visible, not silent.
   */
  def semdedup(df: DataFrame, vecCol: String, idCol: String,
      centroids: Array[(Int, Array[Float])], threshold: Double,
      assignNprobe: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(Assigner.build(spark, centroids, assignNprobe))
    val in = df.select(col(idCol).cast(LongType).as("id"),
      toFloatVec(col(vecCol)).as("v"))
    val outSchema = StructType(Seq(StructField("id", LongType),
      StructField("cluster", IntegerType), StructField("kept", BooleanType)))
    // partitions scale with k (16 clusters per partition) with a
    // floor of 4 waves over the session parallelism: per-cluster pairwise
    // work is data-dependent (clique-heavy clusters early-exit, diverse
    // clusters scan fully), so the floor gives the scheduler enough tasks
    // to average the residual variance LPT packing can't see (early-exit
    // rates). k ∝ N keeps per-partition data ~constant as the corpus
    // grows. Per-task memory is bounded by ONE cluster regardless (the
    // reducer streams), so the ratio trades scheduling overhead against
    // wave-averaging, not against memory.
    val parts = math.max(4 * spark.sparkContext.defaultParallelism,
      centroids.length / 16)
    implicit val keyOrd: Ordering[(Int, Long)] = Ordering.Tuple2[Int, Long]
    // cost-aware placement: a cheap assignment-only pre-pass counts cluster
    // sizes (shuffles k (cluster, count) pairs — nothing else), then LPT
    // packs clusters into partitions by QUADRATIC cost on the driver. The
    // pre-pass re-runs the assignment map rather than caching the keyed
    // vectors: at 100 TB a second streaming pass over the source is bounded
    // and stateless, while persisting the shuffled corpus is neither.
    // Placement only moves clusters between tasks — results are
    // partition-invariant, so the oracle and every spec are untouched.
    val sizes = in.rdd.mapPartitions { it =>
        val asg = bc.value
        it.map(r => (asg(r.getSeq[Float](1).toArray)._1, 1L))
      }.reduceByKey(_ + _).collect()
    val partOf = lptPack(sizes, parts)
    // assignment fused into the shuffle-write pass: ONE shuffle total,
    // keyed by (cluster, id), no join back to the source
    val rdd = in.rdd
      .map { r =>
        val v = r.getSeq[Float](1).toArray
        val (best, _) = bc.value(v)
        ((best, r.getLong(0)), v)
      }
      .repartitionAndSortWithinPartitions(new ClusterPartitioner(parts, partOf))
      .mapPartitions { it0 =>
        // stream one cluster at a time off the sorted iterator: rows arrive
        // grouped by cluster and ascending id, so the pairwise lower-id scan
        // buffers exactly one cluster
        val it = it0.buffered
        new Iterator[Row] {
          private var out: Iterator[Row] = Iterator.empty
          private def advance(): Unit = {
            while (!out.hasNext && it.hasNext) {
              val cl = it.head._1._1
              val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
              while (it.hasNext && it.head._1._1 == cl) {
                val ((_, id), v) = it.next()
                buf += ((id, v))
              }
              val ms = buf // already ascending id (sorted shuffle)
              val kept = new Array[Boolean](ms.length)
              var i = 0
              while (i < ms.length) {
                var dropped = false
                var j = 0
                while (j < i && !dropped) {
                  if (cosineD(ms(j)._2, ms(i)._2) >= threshold) dropped = true
                  j += 1
                }
                kept(i) = !dropped
                i += 1
              }
              out = ms.iterator.zipWithIndex.map { case ((id, _), ix) =>
                Row(id, cl, kept(ix))
              }
            }
          }
          override def hasNext: Boolean = { advance(); out.hasNext }
          override def next(): Row = { advance(); out.next() }
        }
      }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Per-cluster membership counts (skew audit companion). */
  def clusterSizes(assigned: DataFrame): DataFrame =
    assigned.groupBy("cluster").agg(count(lit(1)).as("n"))
      .orderBy("cluster")
}
