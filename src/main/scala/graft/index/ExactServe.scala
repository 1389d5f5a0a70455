package graft.index

import org.apache.spark.sql.SparkSession

import graft.core.Metric

/**
 * The driver-local route for SMALL table indexes (op `ann.exact`): the
 * reference serves every query in-process, and for an index a few MB in
 * size a Spark job launch (~0.1-0.5 s) dwarfs the scan itself. One collect
 * fills the index's [[LocalTable]], an entry of [[BaseRows]] (one gate, one
 * LRU with the base rows and BM25 postings, refilled when the index table's
 * files change); later queries scan it on the driver with NO job. Larger
 * indexes keep the distributed (100 TB) scan.
 *
 * This object knows no engine: each table family loads its rows and scores
 * them ([[TableEngine.localTable]], [[TableEngine.localScorer]]), bit for
 * bit as its distributed scan does — the DuckDB oracle hash-checks
 * `ann_oversample`/`ann_delete_search`. Here live only the route, the probe
 * set, the tombstone and `allow` filter, the (distance, id) order of the
 * scan plans, and the RFlat re-rank.
 */
private[graft] object ExactServe {

  /** `meta`'s table on the driver when it serves from there (route op
   *  `ann.exact`, one event, estimate [[BaseRows]]' held bytes); None on
   *  the distributed route. */
  def table(spark: SparkSession, meta: IndexMeta): Option[LocalTable] =
    TableEngine.of(meta).filter(_ => meta.sourcePath.nonEmpty).flatMap { engine =>
      BaseRows.table(spark, "ann.exact", meta.sourcePath) {
        val t = engine.localTable(spark, meta)
        (t, t.bytes)
      }
    }

  /** Top-fetchK (id, distance) of `t` — identical rows, distances, and
   *  order to the corresponding distributed scan. `allow` (null = all) is
   *  the filtered search's id predicate, applied beside the tombstone check
   *  — the driver-local analog of splicing the Column before the top-k;
   *  `nprobeOverride` (0 = meta) drives the under-fill nprobe saturation. */
  def search(spark: SparkSession, meta: IndexMeta, t: LocalTable, tomb: Set[Long],
      query0: Array[Float], fetchK: Int, allow: Long => Boolean = null,
      nprobeOverride: Int = 0): Array[(Long, Float)] = {
    val query = Ann.prepQuery(meta, query0)
    val nprobe = if (nprobeOverride > 0) nprobeOverride else meta.nprobe
    // the SAME probe selection as the distributed scans — the job-free
    // route must answer identically to the cluster route at any nprobe.
    // Resolved PER CALL (through ShardCache, per file generation) so a
    // rebuilt quantizer reaches this route exactly when it reaches the
    // distributed scans
    val coarse = if (t.clusters != null && nprobe < meta.nlist) Coarse.of(spark, meta) else null
    val probes: Array[Int] = if (coarse == null) null else coarse.probes(query, nprobe)
    val probed: Array[Boolean] = if (probes == null) null else {
      val p = new Array[Boolean](math.max(meta.nlist, coarse.nlist))
      probes.foreach(p(_) = true)
      p
    }
    val score = t.scorer(query, probes)
    val n = t.ids.length
    // RFlat re-ranks the top (fetchK · refineFactor) exactly, with the
    // distributed refineStage's candidate cut and fold order
    val cut = if (t.refineVecs == null) fetchK else fetchK * Ann.refineFactor(spark, meta)
    val least = new Least(math.min(cut, n))
    var i = 0
    while (i < n) {
      val id = t.ids(i)
      if ((probed == null || probed(t.clusters(i))) && !tomb.contains(id) &&
          (allow == null || allow(id)))
        least.offer(score(i), id, i)
      i += 1
    }
    val cand = least.sorted
    val top = if (t.refineVecs == null) cand else {
      val l2 = meta.metricObj eq Metric.L2
      cand.indices.map(c => Hit(Ann.doubleFoldDist(t.refineVecs(cand(c).pos), query, l2),
        cand(c).id, c)).sorted(order).take(fetchK).toArray
    }
    top.map(h => (h.id, h.dist.toFloat))
  }

  /** A candidate: its score, id and position (a table row, or a rank). */
  private final case class Hit(dist: Double, id: Long, pos: Int)

  /** (distance, id) — the scan plans' orderBy(__dd, row_id) — then position. */
  private def compare(dist: Double, id: Long, pos: Int, h: Hit): Int = {
    val c = java.lang.Double.compare(dist, h.dist)
    val i = if (c != 0) c else java.lang.Long.compare(id, h.id)
    if (i != 0) i else Integer.compare(pos, h.pos)
  }

  private val order: Ordering[Hit] = (a, b) => compare(a.dist, a.id, a.pos, b)

  /** The `cap` least candidates offered, in a bounded max-heap: only a
   *  candidate that enters it allocates, and nothing else is sorted. */
  private final class Least(cap: Int) {
    private val heap = new java.util.PriorityQueue[Hit](cap + 1, order.reverse)

    def offer(dist: Double, id: Long, pos: Int): Unit =
      if (heap.size < cap) heap.add(Hit(dist, id, pos))
      else if (cap > 0 && compare(dist, id, pos, heap.peek) < 0) {
        heap.poll()
        heap.add(Hit(dist, id, pos))
      }

    /** The candidates held, first to last. */
    def sorted: Array[Hit] = heap.toArray(new Array[Hit](0)).sorted(order)
  }
}
