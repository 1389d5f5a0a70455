package graft.index

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

import graft.core.{Metric, Route}

/**
 * The driver-local route and cache for SMALL table indexes (op `ann.exact`):
 * the reference serves every query in-process, and for an index a few MB
 * in size a Spark job launch (~0.1-0.5 s) dwarfs the scan itself. The
 * first query pays one collect to fill the cache; later queries scan the
 * cached rows on the driver with NO job, while [[graft.core.Route]] allows
 * it; larger indexes keep the distributed (100 TB) scan.
 *
 * This object knows no engine: each table family loads its rows and scores
 * them ([[TableEngine.localTable]], [[TableEngine.localScorer]]), bit for
 * bit as its distributed scan does — the DuckDB oracle hash-checks
 * `ann_oversample`/`ann_delete_search`. Here live only the cache, the probe
 * set, the tombstone and `allow` filter, the (distance, id) order of the
 * scan plans, and the RFlat re-rank.
 *
 * Invalidation: the cache key carries a fingerprint of the source parquet
 * files (name, length, mtime, recursive) — append/vacuum rewrite those
 * files, so stale entries miss and reload automatically.
 */
private[graft] object ExactServe {

  private final case class Cached(fingerprint: String, table: LocalTable)

  private val cache = new ConcurrentHashMap[String, Cached]()

  /** Routes `meta` (op `ann.exact`): true when it serves from the driver. */
  def eligible(spark: SparkSession, meta: IndexMeta): Boolean =
    TableEngine.of(meta) match {
      case Some(engine) if meta.sourcePath.nonEmpty =>
        Route.local(spark, "ann.exact", engine.localBytes(meta))
      case _ => false
    }

  private def fingerprint(path: String): String = {
    val sb = new StringBuilder
    def walk(f: File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.sortBy(_.getName).foreach { c =>
        if (c.isDirectory) walk(c)
        else if (!c.getName.startsWith("_") && !c.getName.startsWith("."))
          sb.append(c.getPath).append(':').append(c.length()).append(':')
            .append(c.lastModified()).append('|')
      }
    }
    walk(new File(path))
    sb.toString
  }

  /** A candidate row: its score, id and position in the cached table. */
  private final class Hit(val dist: Double, val id: Long, val row: Int)

  /** (distance, id) — the order of the scan plans' orderBy(__dd, row_id). */
  private val byDistanceThenId: java.util.Comparator[Hit] = (a, b) => {
    val c = java.lang.Double.compare(a.dist, b.dist)
    if (c != 0) c else java.lang.Long.compare(a.id, b.id)
  }

  /** Top-fetchK (id, distance) — identical rows, distances, and order to the
   *  corresponding distributed scan. `allow` (null = all) is the filtered
   *  search's id predicate, applied beside the tombstone check — the
   *  driver-local analog of splicing the Column before the top-k;
   *  `nprobeOverride` (0 = meta) drives the under-fill nprobe saturation. */
  def search(spark: SparkSession, meta: IndexMeta, tomb: Set[Long],
      query0: Array[Float], fetchK: Int, allow: Long => Boolean = null,
      nprobeOverride: Int = 0): Array[(Long, Float)] = {
    val fp = fingerprint(meta.sourcePath)
    val t = cache.compute(meta.name, (_, old) =>
      if (old != null && old.fingerprint == fp) old
      else Cached(fp, TableEngine.of(meta).get.localTable(spark, meta))).table
    val query = Ann.prepQuery(meta, query0)
    val nprobe = if (nprobeOverride > 0) nprobeOverride else meta.nprobe
    // the SAME graph selection as the distributed scans — the job-free
    // route must answer identically to the cluster route at any nprobe.
    // Resolved PER CALL (Ann.coarseProbe is cached per generation) so a
    // rebuilt coarse graph reaches this route exactly when it reaches the
    // distributed scans
    val probes: Array[Int] =
      if (t.cents != null && nprobe < meta.nlist)
        Ann.selectProbes(t.cents, meta.imiB, query, nprobe, Ann.coarseProbe(spark, meta))
      else null
    val probed: Array[Boolean] =
      if (probes == null) null
      else {
        val p = new Array[Boolean](math.max(meta.nlist, t.cents.length))
        probes.foreach(p(_) = true)
        p
      }
    val score = t.scorer(query, probes)
    val n = t.ids.length
    val cand = new java.util.ArrayList[Hit](math.min(n, 4096))
    var i = 0
    while (i < n) {
      val id = t.ids(i)
      if ((probed == null || probed(t.clusters(i))) && !tomb.contains(id) &&
          (allow == null || allow(id)))
        cand.add(new Hit(score(i), id, i))
      i += 1
    }
    cand.sort(byDistanceThenId)
    val top =
      if (t.refineVecs == null) cand.subList(0, math.min(fetchK, cand.size))
      else {
        // RFlat: exact double re-rank of the top (fetchK · refineFactor),
        // same candidate cut and fold order as the distributed refineStage
        val l2 = meta.metricObj eq Metric.L2
        val refined = new java.util.ArrayList[Hit](cand.subList(0,
          math.min(fetchK * Ann.refineFactor(spark, meta), cand.size)))
        refined.replaceAll(h => new Hit(Ann.doubleFoldDist(t.refineVecs(h.row), query, l2),
          h.id, h.row))
        refined.sort(byDistanceThenId)
        refined.subList(0, math.min(fetchK, refined.size))
      }
    Array.tabulate(top.size)(j => (top.get(j).id, top.get(j).dist.toFloat))
  }

  /** Test hook. */
  private[graft] def clear(): Unit = cache.clear()
}
