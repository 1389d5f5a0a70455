package graft.index

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import graft.core.{GraphIndex, DiskannFormat, DiskannMmapIndex, HnswFormat, PcaCodec}

/** A loaded shard: the graph plus its label→external-id mapping. */
final case class LoadedShard(index: GraphIndex, ids: Array[Long])

/**
 * Executor-JVM-wide cache of decoded index files — graph shards, the IVF
 * coarse quantizer's centroid table and probe graph ([[Coarse]]) and
 * `pca.bin` transforms — one entry per file path, valid
 * while the file's length and mtime and the load key (a shard's `cosine`, a
 * file kind otherwise) hold; a rewritten file replaces its entry. The
 * reference mmaps `.diskann` files once per process
 * (rust_lib/src/disk_provider.rs:182-279); on the JVM we cache the decoded
 * value so repeated queries against the same index (the dominant serving
 * pattern) skip deserialization, and tasks reach every file by path.
 * Entries are soft-referenced so the executor can shed them under memory
 * pressure instead of OOMing; a rewrite or drop that deletes index files
 * forgets their entries in the JVM that deletes them.
 */
object ShardCache {
  /** A decoded file and the (length, mtime, load key) it was loaded at. */
  private final class Entry(val length: Long, val mtime: Long, val key: Any,
      loaded: AnyRef) extends java.lang.ref.SoftReference[AnyRef](loaded)

  private val cache = new ConcurrentHashMap[String, Entry]()
  private val decodes = new AtomicLong

  /** Shards at or above this size serve disk-resident via mmap
   *  (DiskannMmapIndex) instead of decoding into heap — the reference's
   *  DiskProvider behavior (rust_lib/src/disk_provider.rs:182-279). Small
   *  shards still decode: heap search has no page-fault jitter and the
   *  footprint is trivial. Override with -Dgraft.ann.mmapThreshold=<bytes>
   *  (0 = always mmap). */
  def mmapThreshold: Long =
    sys.props.get("graft.ann.mmapThreshold").map(_.toLong).getOrElse(64L << 20)

  /** The value of `path` decoded under `key`: the cached one while its
   *  entry holds (two stats and one lookup), else `decode(length)`'s,
   *  which replaces the entry. */
  private[index] def load[T <: AnyRef](path: String, key: Any)(decode: Long => T): T = {
    val f = new File(path)
    val mtime = f.lastModified
    val length = f.length
    val e = cache.get(path)
    val hit = if (e != null && e.length == length && e.mtime == mtime && e.key == key)
      e.get() else null
    if (hit != null) hit.asInstanceOf[T]
    else {
      decodes.incrementAndGet()
      val loaded = decode(length)
      cache.put(path, new Entry(length, mtime, key, loaded))
      loaded
    }
  }

  def get(diskannPath: String, idsPath: String, cosine: Boolean): LoadedShard =
    load(diskannPath, cosine) { length =>
      val graph: GraphIndex =
        if (diskannPath.endsWith(".hnsw")) HnswFormat.readFile(diskannPath)
        else if (length >= mmapThreshold) {
          // SQ8 shards serve quantized from the mapped appendix; null only
          // on a malformed appendix — the heap reader then raises the
          // descriptive parse error
          val mapped = DiskannMmapIndex.open(diskannPath, cosineMetadata = cosine)
          if (mapped != null) mapped
          else DiskannFormat.readFile(diskannPath, cosineMetadata = cosine)
        }
        else DiskannFormat.readFile(diskannPath, cosineMetadata = cosine)
      LoadedShard(graph, IndexCatalog.readIds(idsPath))
    }

  /** The frozen `pca.bin` transform at `path`. */
  def pca(path: String): PcaCodec.Pca = load(path, "pca")(_ => PcaCodec.read(path))

  /** Forgets the entries of the files whose paths `deleted` holds. */
  def forget(deleted: String => Boolean): Unit = cache.keySet.removeIf(deleted(_))

  /** The file paths with an entry (test hook). */
  private[graft] def cachedPaths: Set[String] = cache.keySet.asScala.toSet

  /** Decodes so far in this JVM: a hit costs none, a miss one. */
  private[graft] def loads: Long = decodes.get

  def invalidate(): Unit = cache.clear()
}
