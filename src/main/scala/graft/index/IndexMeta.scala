package graft.index

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.{ByteBuffer, ByteOrder}
import org.json4s._
import org.json4s.jackson.{Serialization, JsonMethods}

/** One index shard: a `.diskann` file plus its label→id mapping file
 *  (the reference keeps label↔rowid maps beside the engine bytes,
 *  src/include/diskann_index.hpp:145-146; we keep them as a sidecar so the
 *  `.diskann` image stays byte-compatible). */
case class ShardMeta(file: String, idsFile: String, count: Long)

/**
 * Index catalog entry, persisted as `metadata.json` in the index directory.
 * Replaces the reference's in-DB catalog + registry (rust_lib/src/ffi.rs
 * registry; src/ann_list.cpp listing).
 */
case class IndexMeta(
    name: String,
    engine: String,               // an AnnEngine name (AnnEngine.known)
    column: String,
    idColumn: String,
    dim: Int,
    metric: String,               // "l2" | "ip" | "cosine"
    maxDegree: Int,
    buildComplexity: Int,
    alpha: Float,
    quantized: Boolean,
    numVectors: Long,
    numDeleted: Long,
    shards: List[ShardMeta],
    sourcePath: String = "",      // flat/ivfflat: parquet dir of (id, vec[, cluster])
    nlist: Int = 0,               // ivfflat
    nprobe: Int = 1,              // ivfflat
    refine: Boolean = false,      // pq/ivfpq: RFlat exact re-rank stage
    refineK: Int = 0,             // RFlat k_factor override (0 = session conf);
                                  // FAISS IndexRefineFlat.k_factor is likewise
                                  // a per-index mutable field
    opq: Boolean = false,         // pq: rotation.bin pre-transform (OPQ)
    version: Int = 1,
    // root paths of the source relation the index was built over (when the
    // build input was a plain file scan) — the binding the transparent
    // optimizer rewrite matches on (reference binds indexes to tables via
    // the catalog; we bind to file paths)
    sourceFiles: List[String] = Nil,
    // scalar-quantization code width when quantized (8 = u8 SQ8, 4/6 =
    // packed); 8 default keeps pre-existing metadata.json readable
    quantBits: Int = 8,
    // PCA pre-transform (FAISS IndexPreTransform analog): when pcaFile is
    // set, stored vectors live in the pcaDim(=dim)-dim transformed space,
    // queries arrive in inputDim dims and are mapped through the stored
    // rotation by Ann.prepQuery; distances are transformed-space distances
    inputDim: Int = 0,
    pcaFile: String = "",
    // PCA flavor the stored rotation was fit with: "" plain | "r" PCAR
    // (still a rotation — L2-preserving at full dim) | "w" PCAW (whitening —
    // Mahalanobis space, rejected by rangeSearch at any dim) | "q" OPQ
    // chain (`OPQ<m>,IVF<n>,PQ<m>` — a PQ-aware full-dim rotation with
    // mean zero, metric-safe for every metric). The transform itself is
    // fully folded into pca.bin; this field only gates semantics.
    pcaVariant: String = "",
    // lsh: FAISS IndexLSH training flags the stored hyperplanes were built
    // with — "r" rows are orthonormalized, "t" thresholds.bin holds trained
    // per-bit cut points ("rt" = both, "" = raw sign projections)
    lshVariant: String = "",
    // IMI coarse quantizer (factory `IMI2x<b>[,Flat|,PQ<m>]`): bits per
    // half-space codebook. The stored centroid table is the 2^(2b)-cell
    // cross product (every serve surface stays centroid-table-generic);
    // this field lets probe SELECTION decompose into per-half distance
    // lists + a heap merge (KMeansLite.nearestPImi) instead of scanning
    // the product table. 0 = plain IVF (default keeps old metadata.json
    // readable).
    imiB: Int = 0,
    // HNSW coarse quantizer (factory `IVF<n>_HNSW<m>[,Flat|,PQ<m>|,SQ8…]`,
    // the FAISS IndexHNSWFlat-as-quantizer analog): HNSW graph degree of
    // `coarse.hnsw`, a navigable graph over the SAME centroids.bin used
    // for QUERY-TIME probe selection — O(ef·log nlist) half of the serve
    // latency that plain IVF spends ranking all nlist centroids per query.
    // Build/append assignment stays the exact distributed scan (a Spark
    // cluster has the parallelism where FAISS's single process does not),
    // so index CONTENTS are bit-identical to plain IVF and only probe
    // SETS at nprobe < nlist may differ. 0 = exact probe selection.
    coarseHnswM: Int = 0) {
  def metricObj: graft.core.Metric = graft.core.Metric.fromName(metric)
}

object IndexCatalog {
  implicit private val fmts: Formats = Serialization.formats(NoTypeHints)

  def rootDir(conf: String => Option[String]): String =
    conf("spark.graft.ann.root").getOrElse(
      sys.props.getOrElse("graft.ann.root", "/tmp/graft-indexes"))

  def indexDir(root: String, name: String): String = s"$root/$name"

  def exists(root: String, name: String): Boolean =
    new File(s"${indexDir(root, name)}/metadata.json").isFile

  /** Writes `metadata.json`, with the paths of files under the index
   *  directory stored relative to it, so the directory can move to another
   *  root and two copies of one index write the same bytes; a path outside
   *  it (an index sharing another's data) is stored absolute. */
  def save(root: String, meta: IndexMeta): Unit = {
    val dir = new File(indexDir(root, meta.name))
    dir.mkdirs()
    val base = dir.getAbsoluteFile.toPath.normalize
    val rel = (p: String) => {
      val f = Paths.get(p).toAbsolutePath.normalize
      if (p.isEmpty) p else if (f.startsWith(base)) base.relativize(f).toString else f.toString
    }
    val tmp = new File(dir, "metadata.json.tmp")
    Files.writeString(tmp.toPath, Serialization.writePretty(mapPaths(meta, rel)))
    Files.move(tmp.toPath, new File(dir, "metadata.json").toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Reads `metadata.json`, resolving relative paths under the index
   *  directory; absolute paths and earlier builds' `<root>/...` paths load
   *  as stored. */
  def load(root: String, name: String): IndexMeta = {
    val dir = indexDir(root, name)
    val f = new File(s"$dir/metadata.json")
    require(f.isFile, s"ANN index '$name' not found under $root")
    val resolve = (p: String) =>
      if (p.isEmpty || new File(p).isAbsolute || p.startsWith(s"$root/")) p else s"$dir/$p"
    mapPaths(JsonMethods.parse(Files.readString(f.toPath)).extract[IndexMeta], resolve)
  }

  /** `meta` with `f` applied to each path of a file it owns. */
  private def mapPaths(meta: IndexMeta, f: String => String): IndexMeta =
    meta.copy(sourcePath = f(meta.sourcePath), pcaFile = f(meta.pcaFile),
      shards = meta.shards.map(sh => sh.copy(file = f(sh.file), idsFile = f(sh.idsFile))))

  def list(root: String): Seq[IndexMeta] = {
    val d = new File(root)
    if (!d.isDirectory) Seq.empty
    else d.listFiles().toSeq.filter(f => new File(f, "metadata.json").isFile)
      .map(f => load(root, f.getName)).sortBy(_.name)
  }

  def drop(root: String, name: String): Boolean = {
    val dir = new File(indexDir(root, name))
    if (!dir.isDirectory) false
    else {
      forget(dir)
      dir.listFiles().foreach(deleteRecursive)
      dir.delete()
    }
  }

  /** Forgets the cached shards and index tables under `dir`. */
  private def forget(dir: File): Unit = {
    val root = dir.getAbsoluteFile.toPath
    val under = (p: String) => new File(p).getAbsoluteFile.toPath.startsWith(root)
    ShardCache.forget(under)
    BaseRows.forget(under)
  }

  private def deleteRecursive(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursive)
    f.delete()
  }

  /** Recursively delete a path (superseded data directories), forgetting
   *  what the caches held of it. */
  def deleteTree(path: String): Unit = {
    val f = new File(path)
    if (f.exists()) { forget(f); deleteRecursive(f) }
  }

  // ---- tombstones: flat little-endian i64 file beside metadata ----
  // (reference: deleted_labels_ set serialized with the index,
  //  src/include/diskann_index.hpp:149)

  def tombstonePath(root: String, name: String): String =
    s"${indexDir(root, name)}/tombstones.bin"

  def readTombstones(root: String, name: String): Set[Long] = {
    val p = Paths.get(tombstonePath(root, name))
    if (!Files.exists(p)) Set.empty
    else {
      val bytes = Files.readAllBytes(p)
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      val out = Set.newBuilder[Long]
      while (bb.remaining() >= 8) out += bb.getLong
      out.result()
    }
  }

  def writeTombstones(root: String, name: String, ids: Set[Long]): Unit = {
    val bb = ByteBuffer.allocate(ids.size * 8).order(ByteOrder.LITTLE_ENDIAN)
    ids.toSeq.sorted.foreach(bb.putLong)
    Files.write(Paths.get(tombstonePath(root, name)), bb.array())
  }

  // ---- shard id-mapping sidecar: flat little-endian i64 per label ----

  def writeIds(path: String, ids: Array[Long]): Unit = {
    val bb = ByteBuffer.allocate(ids.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    ids.foreach(bb.putLong)
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, bb.array())
  }

  def readIds(path: String): Array[Long] = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong; i += 1 }
    out
  }

  // ---- centroids for ivfflat: [n u32][dim u32][f32 * n * dim] LE ----

  def writeCentroids(path: String, cents: Array[Array[Float]], dim: Int): Unit = {
    val bb = ByteBuffer.allocate(8 + cents.length * dim * 4).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(cents.length); bb.putInt(dim)
    cents.foreach(c => c.foreach(bb.putFloat))
    Files.write(Paths.get(path), bb.array())
  }

  def readCentroids(path: String): Array[Array[Float]] = {
    val bb = ByteBuffer.wrap(Files.readAllBytes(Paths.get(path))).order(ByteOrder.LITTLE_ENDIAN)
    val n = bb.getInt; val dim = bb.getInt
    Array.fill(n) { val c = new Array[Float](dim); var d = 0; while (d < dim) { c(d) = bb.getFloat; d += 1 }; c }
  }

  // ---- per-cluster max member↔centroid L2 radii: [n u32][f32 * n] LE ----
  // (enables exact triangle-inequality cluster pruning for range queries)

  def writeRadii(path: String, radii: Array[Float]): Unit = {
    val bb = ByteBuffer.allocate(4 + radii.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(radii.length)
    radii.foreach(bb.putFloat)
    Files.write(Paths.get(path), bb.array())
  }

  // ---- lsh trained thresholds: [n u32][f64 * n] LE ----
  // (double, not float: the sign decision s >= t must replay bit-for-bit in
  //  the DuckDB oracle, which computes both sides in double)

  def writeThresholds(path: String, t: Array[Double]): Unit = {
    val bb = ByteBuffer.allocate(4 + t.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(t.length)
    t.foreach(bb.putDouble)
    Files.write(Paths.get(path), bb.array())
  }

  def readThresholds(path: String): Array[Double] = {
    val bb = ByteBuffer.wrap(Files.readAllBytes(Paths.get(path))).order(ByteOrder.LITTLE_ENDIAN)
    val n = bb.getInt
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = bb.getDouble; i += 1 }
    out
  }

  def readRadii(path: String): Array[Float] = {
    val bb = ByteBuffer.wrap(Files.readAllBytes(Paths.get(path))).order(ByteOrder.LITTLE_ENDIAN)
    val n = bb.getInt
    val out = new Array[Float](n)
    var i = 0
    while (i < n) { out(i) = bb.getFloat; i += 1 }
    out
  }
}
