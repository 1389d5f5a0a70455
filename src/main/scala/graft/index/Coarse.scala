package graft.index

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf
import graft.core.{HnswFormat, HnswIndex, Metric}
import Ann.BuildParams

/**
 * An IVF index's coarse quantizer (ivfflat, ivfpq, ivfsq) as one value — the
 * reference keeps it inside its FAISS index, trained once at build
 * (src/faiss_index.cpp:287-414) and used by every add and search after.
 * It is the centroid table `centroids.bin` plus one of two accelerators:
 *  - IMI (`imiB > 0`, factory `IMI2x<b>`): the table is the cross product
 *    of two 2^b-row half codebooks, cell i·2^b + j = [c1_i ; c2_j], so
 *    assignment and probe selection decompose into per-half argmins
 *    instead of scanning 2^(2b) cells;
 *  - a probe graph (`coarseHnswM > 0`, factory `IVF<n>_HNSW<m>`):
 *    `coarse.hnsw`, an L2 HNSW graph over the same table (FAISS
 *    quantizer=IndexHNSWFlat), walked instead of ranking all nlist cells.
 *
 * The handle is serializable and carries only the index directory and the
 * two shapes, so driver code and task closures reach the decoded table,
 * halves and graph the same way shards do: through [[ShardCache]], one
 * decode per JVM and file generation, resolved once per handle instance.
 * The quantizer is frozen with the index: append, vacuum and merge never
 * move centroids, so the graph never goes stale.
 */
final class Coarse private (dir: String, imiB: Int, coarseHnswM: Int) extends Serializable {
  import Coarse._

  @transient private lazy val table: Table = ShardCache.load(s"$dir/$CentroidsFile", imiB) { _ =>
    val cents = IndexCatalog.readCentroids(s"$dir/$CentroidsFile")
    if (imiB == 0) Table(cents, null, null)
    else {
      // the half codebooks read straight off the product table: c1_i is the
      // first half of row i·kh, c2_j the second half of row j
      val kh = 1 << imiB
      val half = cents(0).length / 2
      Table(cents, Array.tabulate(kh)(i => cents(i * kh).take(half)),
        Array.tabulate(kh)(j => cents(j).drop(half)))
    }
  }

  @transient private lazy val graph: HnswIndex =
    ShardCache.load(s"$dir/$GraphFile", "coarse")(_ => HnswFormat.readFile(s"$dir/$GraphFile"))

  /** The centroid table, one row per cell. */
  def cents: Array[Array[Float]] = table.cents

  def nlist: Int = cents.length

  /** The cell of `v` — shared by build, append and the PQ residual
   *  training, so an appended copy of a built row lands in the same cell.
   *  Plain IVF takes the nearest centroid; IMI takes each half's argmin
   *  (cell = i·kh + j) — O(2·kh) per row, and the same float arithmetic
   *  the DuckDB oracle's half-argmin CTEs run. */
  def assign(v: Array[Float]): Int =
    if (imiB == 0) KMeansLite.nearest(table.cents, v)
    else {
      val half = table.cb1(0).length
      KMeansLite.nearest(table.cb1, v.take(half)) * table.cb2.length +
        KMeansLite.nearest(table.cb2, v.drop(half))
    }

  /** The `nprobe` cells a query scans. Plain IVF ranks the table; IMI
   *  merges the per-half distance lists ([[KMeansLite.nearestPImi]]) into
   *  the same probe set in O(2·2^b) distance work; a probe graph is walked
   *  with beam max([[CoarseEfSearch]], 2·nprobe) in O(ef·log nlist). At
   *  nprobe ≥ nlist the graph is bypassed: every cell is probed, exactly,
   *  which is what the saturation oracles pin. */
  def probes(query: Array[Float], nprobe: Int): Array[Int] =
    if (imiB > 0) KMeansLite.nearestPImi(cents, imiB, query, nprobe)
    else if (coarseHnswM > 0 && nprobe < nlist)
      graph.search(query, nprobe, math.max(CoarseEfSearch, 2 * nprobe))._1
    else KMeansLite.nearestP(cents, query, nprobe)

  /** [[assign]] as a column over a vector column. */
  def assignCol(v: Column): Column = udf((x: Array[Float]) => assign(x)).apply(v)

  /** [[probes]] as a column over a query column. */
  def probesCol(q: Column, nprobe: Int): Column =
    udf((x: Array[Float]) => probes(x, nprobe)).apply(q)
}

object Coarse {
  private val CentroidsFile = "centroids.bin"
  private val GraphFile = "coarse.hnsw"

  /** Beam floor of the probe graph's search. */
  private val CoarseEfSearch = 64

  /** A decoded centroid table and, for IMI, its two half codebooks. */
  private final case class Table(cents: Array[Array[Float]], cb1: Array[Array[Float]],
      cb2: Array[Array[Float]])

  /** The coarse quantizer of `meta`. */
  def of(spark: SparkSession, meta: IndexMeta): Coarse =
    new Coarse(IndexCatalog.indexDir(Ann.root(spark), meta.name), meta.imiB, meta.coarseHnswM)

  /** The lowest-id rows a seeded fit takes: 2^imiB for IMI, else nlist. */
  def seedRows(p: BuildParams): Int = if (p.imiB > 0) 1 << p.imiB else p.nlist

  /** The centroid table of a build over `dim`-float vectors. Seeded
   *  (`seedK > 0`): the [[seedRows]] lowest-id vectors verbatim, or for IMI
   *  their halves — SQL-replayable, so the oracles can rebuild the cells.
   *  Trained: k-means on the stride `sample`, or one k-means per half. Both
   *  inputs are prepped as stored (normalized under cosine). */
  def fit(p: BuildParams, dim: Int, seeds: => Array[Array[Float]],
      sample: => Array[Array[Float]]): Array[Array[Float]] = {
    val rows = if (p.seedK > 0) seeds.take(seedRows(p)) else sample
    if (p.imiB == 0) {
      if (p.seedK > 0) rows else KMeansLite.train(rows, p.nlist)
    } else {
      require(dim % 2 == 0, s"IMI2x splits vectors into equal halves (dim=$dim is odd)")
      val half = dim / 2
      val (h1, h2) = (rows.map(_.take(half)), rows.map(_.drop(half)))
      val (cb1, cb2) =
        if (p.seedK > 0) (h1, h2)
        else (KMeansLite.train(h1, 1 << p.imiB), KMeansLite.train(h2, 1 << p.imiB))
      for (c1 <- cb1; c2 <- cb2) yield c1 ++ c2
    }
  }

  /** Write `cents` into index directory `dir` — with its probe graph when
   *  `p.coarseHnswM > 0` — and return the quantizer's handle. The graph is
   *  built on the driver (deterministic batch-parallel `HnswIndex.addAll`:
   *  a serial insert loop cost 31 s at 65,536 cells), over a table the
   *  build already holds there. */
  def write(dir: String, cents: Array[Array[Float]], dim: Int, p: BuildParams): Coarse = {
    IndexCatalog.writeCentroids(s"$dir/$CentroidsFile", cents, dim)
    if (p.coarseHnswM > 0) {
      val ix = new HnswIndex(dim, Metric.L2, p.coarseHnswM)
      ix.addAll(cents)
      HnswFormat.writeFile(ix, s"$dir/$GraphFile")
    }
    new Coarse(dir, p.imiB, p.coarseHnswM)
  }
}
