package graft.index

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.core.{Metric, Route}

/**
 * Driver-local serving for SMALL exact/quantized indexes (flat, ivfflat, pq,
 * ivfpq): the reference serves every query in-process, and for an index a
 * few MB in size a Spark job launch (~0.1-0.5 s) dwarfs the scan itself. The
 * first query pays one collect to warm the cache; subsequent queries scan
 * the cached arrays on the driver with NO job, while [[graft.core.Route]]
 * allows it; larger indexes keep the distributed (100 TB) scan.
 *
 * Bit-parity with the distributed scans is load-bearing (the DuckDB oracle
 * hash-checks `ann_oversample`/`ann_delete_search`): distances replicate the
 * exact accumulation of the Catalyst expressions (sequential double fold for
 * flat/ivf, `PqCodec.adc` float for pq/ivfpq) and the (distance, id)
 * ordering of the scan plans.
 *
 * Invalidation: the cache key carries a fingerprint of the source parquet
 * files (name, length, mtime, recursive) — append/vacuum rewrite those
 * files, so stale entries miss and reload automatically.
 */
private[graft] object ExactServe {

  private final case class Data(
      fingerprint: String,
      ids: Array[Long],
      vecs: Array[Array[Float]],    // flat / ivfflat (refined pq/lsh: re-rank copy)
      codes: Array[Array[Byte]],    // pq / ivfpq
      clusters: Array[Int],         // ivfflat / ivfpq (else null)
      cents: Array[Array[Float]],   // ivfflat / ivfpq (else null)
      cb: PqCodec.Codebook,         // pq / ivfpq (else null)
      lcodes: Array[Long] = null,   // lsh ≤64 bits (one word per row)
      lwcodes: Array[Array[Long]] = null, // lsh >64 bits (⌈nbits/64⌉ words)
      hyps: Array[Array[Float]] = null, // lsh hyperplanes
      lshThr: Array[Double] = null, // lsh trained thresholds (`t` suffix)
      rot: Array[Array[Float]] = null) { // plain-pq OPQ rotation (else null)
    /** id → position, built ONCE at load — the refine re-rank needs raw
     *  vectors by id on every query, and rebuilding a boxed map over up to
     *  ~250k ids per query defeats the job-free route's latency purpose. */
    lazy val idPos: java.util.HashMap[Long, Int] = {
      val m = new java.util.HashMap[Long, Int](ids.length * 2)
      var i = 0
      while (i < ids.length) { m.put(ids(i), i); i += 1 }
      m
    }
  }

  private val cache = new ConcurrentHashMap[String, Data]()

  /** Routes `meta` (op `ann.exact`): true when it serves from the driver. */
  def eligible(spark: SparkSession, meta: IndexMeta): Boolean = AnnEngine.of(meta) match {
    case engine: TableEngine if meta.sourcePath.nonEmpty =>
      // REFINED quantized indexes cache codes PLUS the raw vec column for
      // the exact re-rank: add the per-row code bytes (~dim·5 bytes/row for
      // refined ivfsq), or the cache could exceed the gate by ~25%
      val codeBytes: Long = if (meta.refine) engine.codeBytes(meta) else 0L
      // side artifacts the cache also holds: the centroid table for IVF
      // engines, twice when an IVF_HNSW coarse graph rides along (graph
      // vectors ≈ another centroid-table copy; links are a small multiple
      // of m·nlist ints, absorbed by the ×2)
      val sideBytes: Long =
        meta.nlist.toLong * meta.dim * 4 * (if (meta.coarseHnswM > 0) 2 else 1)
      // vec-based estimate: exact for flat/ivf, conservative (over) for
      // unrefined code engines — pq stores m bytes/row, lsh 8; erring high
      // only keeps a servable index on the distributed route, never the
      // reverse
      Route.local(spark, "ann.exact",
        meta.numVectors * (meta.dim.toLong * 4 + 16 + codeBytes) + sideBytes)
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

  private def load(spark: SparkSession, meta: IndexMeta, fp: String): Data = {
    val engine = AnnEngine.of(meta)
    val hasCluster = engine.ivf
    val hasCodes = engine.adcCodes
    val isLsh = engine == AnnEngine.Lsh
    val df = spark.read.parquet(meta.sourcePath)
    // refined pq/ivfpq/lsh: raw vecs ride along for the exact re-rank stage
    val cols = Seq(col("id").cast(LongType)) ++
      (if (hasCodes || isLsh) Seq(col("code")) else Seq(col("vec"))) ++
      (if ((hasCodes || isLsh) && meta.refine) Seq(col("vec")) else Nil) ++
      (if (hasCluster) Seq(col("cluster").cast(IntegerType)) else Nil)
    val rows = df.select(cols: _*).collect()
    val ids = rows.map(_.getLong(0))
    val clusterIdx = if (hasCodes && meta.refine) 3 else 2
    val dirPath = IndexCatalog.indexDir(Ann.root(spark), meta.name)
    Data(
      fingerprint = fp,
      ids = ids,
      vecs = if (!hasCodes && !isLsh) rows.map(_.getSeq[Float](1).toArray)
        else if (meta.refine) rows.map(_.getSeq[Float](2).toArray)
        else null,
      codes = if (hasCodes) rows.map(_.getAs[Array[Byte]](1)) else null,
      clusters = if (hasCluster) rows.map(_.getInt(clusterIdx)) else null,
      cents = if (hasCluster)
        IndexCatalog.readCentroids(s"$dirPath/centroids.bin") else null,
      cb = if (hasCodes) PqCodec.read(s"$dirPath/pq.bin") else null,
      lcodes = if (isLsh && meta.nlist <= graft.core.LshCodec.MaxBits)
        rows.map(_.getLong(1)) else null,
      lwcodes = if (isLsh && meta.nlist > graft.core.LshCodec.MaxBits)
        rows.map(_.getSeq[Long](1).toArray) else null,
      hyps = if (isLsh)
        IndexCatalog.readCentroids(s"$dirPath/hyperplanes.bin") else null,
      lshThr = if (isLsh && meta.lshVariant.contains("t"))
        IndexCatalog.readThresholds(s"$dirPath/thresholds.bin") else null,
      // plain-pq OPQ: codes live in rotated space; the ADC query rotates
      // through the same stored matrix the distributed scan uses (the
      // refine re-rank stays UNROTATED, like refineStage)
      rot = if (meta.opq)
        IndexCatalog.readCentroids(s"$dirPath/rotation.bin") else null)
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
    val d = cache.compute(meta.name, (_, old) =>
      if (old != null && old.fingerprint == fp) old else load(spark, meta, fp))
    val query = Ann.prepQuery(meta, query0)
    val l2 = meta.metricObj eq Metric.L2
    val nprobe = if (nprobeOverride > 0) nprobeOverride else meta.nprobe
    val probeSet: Array[Boolean] =
      if (d.clusters != null && nprobe < meta.nlist) {
        val p = new Array[Boolean](math.max(meta.nlist, d.cents.length))
        // the SAME graph selection as the distributed scans — the job-free
        // route must answer identically to the cluster route at any nprobe.
        // Resolved PER CALL (Ann.coarseProbe is cached per generation) so a
        // rebuilt coarse graph reaches this route exactly when it reaches
        // the distributed scans
        Ann.selectProbes(d.cents, meta.imiB, query, nprobe,
          Ann.coarseProbe(spark, meta)).foreach(p(_) = true)
        p
      } else null

    val n = d.ids.length
    // packed candidates sorted by (distance, id) — mirrors orderBy(__dd, row_id)
    val cand = new java.util.ArrayList[(Double, Long, Float)](math.min(n, 4096))
    if (d.lcodes != null || d.lwcodes != null) {
      // lsh: Hamming against the query's code — integers, so float parity
      // with the codegen'd bit_count(XOR) scan is trivially exact (wide
      // codes sum per-word popcounts, same as the scan's summed columns)
      val qcode = if (d.lcodes != null)
        graft.core.LshCodec.encode(d.hyps, query, d.lshThr) else 0L
      val qwords = if (d.lwcodes != null)
        graft.core.LshCodec.encodeWords(d.hyps, query, d.lshThr) else null
      var i = 0
      while (i < n) {
        val id = d.ids(i)
        if (!tomb.contains(id) && (allow == null || allow(id))) {
          val hd =
            if (d.lcodes != null) java.lang.Long.bitCount(d.lcodes(i) ^ qcode)
            else {
              val cw = d.lwcodes(i)
              var h = 0
              var w = 0
              while (w < cw.length) {
                h += java.lang.Long.bitCount(cw(w) ^ qwords(w)); w += 1
              }
              h
            }
          cand.add((hd.toDouble, id, hd.toFloat))
        }
        i += 1
      }
    } else if (d.codes == null) {
      var i = 0
      while (i < n) {
        val id = d.ids(i)
        if ((probeSet == null || probeSet(d.clusters(i))) && !tomb.contains(id)
            && (allow == null || allow(id))) {
          val v = d.vecs(i)
          // sequential double fold — the accumulation order of
          // ArrayDistanceSq / ArrayNegativeInnerProduct (VectorExpressions)
          var s = 0.0; var j = 0
          if (l2) while (j < v.length) {
            val x = v(j).toDouble - query(j).toDouble; s += x * x; j += 1
          } else {
            while (j < v.length) { s += v(j).toDouble * query(j).toDouble; j += 1 }
            s = -s
          }
          cand.add((s, id, s.toFloat))
        }
        i += 1
      }
    } else {
      // pq/ivfpq/ivfsq: ADC over cached codes, float math identical to the
      // scan UDFs. ivfsq codes quantize RAW vectors (no residual), so its
      // LUT is probe-independent — the flat table with the probeSet filter
      val k = d.cb.k
      val noResidual = AnnEngine.of(meta) == AnnEngine.IvfSq
      // packed ivfsq rows (SQ4/SQ6) extract level indices inline; byte
      // codes take the PqCodec.adc fast path — float-identical to the scan
      val sqBits = if (noResidual) meta.quantBits else 8
      // plain-pq OPQ codes are in rotated space: the ADC query rotates
      // once (same double-fold rotate as the distributed scan); the refine
      // re-rank below keeps the UNROTATED query against the raw vectors
      val adcQuery = if (d.rot != null) OpqCodec.rotate(d.rot, query) else query
      val perProbe: Map[Int, (Array[Float], Float)] =
        if (d.clusters == null || noResidual) null
        else {
          val probes =
            if (probeSet != null) probeSet.indices.filter(probeSet(_))
            else d.cents.indices
          val ipLut = if (l2) null else PqCodec.lut(d.cb, adcQuery, l2 = false)
          probes.map { p =>
            val c = d.cents(p)
            if (l2) {
              val qr = new Array[Float](adcQuery.length)
              var i = 0
              while (i < adcQuery.length) { qr(i) = adcQuery(i) - c(i); i += 1 }
              p -> (PqCodec.lut(d.cb, qr, l2 = true), 0.0f)
            } else p -> (ipLut, -graft.core.VectorOps.dot(adcQuery, c))
          }.toMap
        }
      val flatLut =
        if (d.clusters == null || noResidual) PqCodec.lut(d.cb, adcQuery, l2 = l2)
        else null
      var i = 0
      while (i < n) {
        val id = d.ids(i)
        val inProbe = probeSet == null ||
          (d.clusters != null && probeSet(d.clusters(i)))
        if (inProbe && !tomb.contains(id) && (allow == null || allow(id))) {
          val dd: Float =
            if (flatLut != null) {
              if (sqBits == 8) PqCodec.adc(flatLut, k, d.codes(i))
              else graft.core.SqPackedCodec.adc(flatLut, sqBits, meta.dim, d.codes(i))
            } else {
              val (t, off) = perProbe(d.clusters(i))
              PqCodec.adc(t, k, d.codes(i)) + off
            }
          // the scan plans order by the FLOAT __dd column
          cand.add((dd.toDouble, id, dd))
        }
        i += 1
      }
    }
    val arr = new Array[(Double, Long, Float)](cand.size)
    cand.toArray(arr)
    java.util.Arrays.sort(arr, Ordering.by((t: (Double, Long, Float)) => (t._1, t._2)))
    if ((d.codes != null || d.lcodes != null || d.lwcodes != null) && meta.refine) {
      // RFlat: exact double re-rank of the ADC/Hamming top
      // (fetchK · refineFactor), same candidate cut and fold order as the
      // distributed refineStage
      val refined = arr.take(fetchK * Ann.refineFactor(spark, meta)).map { t =>
        val v = d.vecs(d.idPos.get(t._2))
        var sEd = 0.0; var j = 0
        if (l2) while (j < v.length) {
          val x = v(j).toDouble - query(j).toDouble; sEd += x * x; j += 1
        } else {
          while (j < v.length) { sEd += v(j).toDouble * query(j).toDouble; j += 1 }
          sEd = -sEd
        }
        (sEd, t._2, sEd.toFloat)
      }
      java.util.Arrays.sort(refined,
        Ordering.by((t: (Double, Long, Float)) => (t._1, t._2)))
      refined.take(fetchK).map(t => (t._2, t._3))
    } else arr.take(fetchK).map(t => (t._2, t._3))
  }

  /** Filtered driver-local search with the same nprobe-saturation contract
   *  as the distributed `Ann.searchFiltered`: when the probed clusters
   *  under-fill k and nprobe < nlist, retry with every list probed. */
  def searchFiltered(spark: SparkSession, meta: IndexMeta, tomb: Set[Long],
      query0: Array[Float], k: Int, allow: Long => Boolean): Array[(Long, Float)] = {
    val probed = search(spark, meta, tomb, query0, k, allow)
    if (AnnEngine.of(meta).ivf && meta.nprobe < meta.nlist && probed.length < k)
      search(spark, meta, tomb, query0, k, allow, nprobeOverride = meta.nlist)
    else probed
  }

  /** Test hook. */
  private[graft] def clear(): Unit = cache.clear()
}
