package graft.index

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import graft.core.{GraphIndex, DiskannFormat, DiskannMmapIndex, HnswFormat}

/** A loaded shard: the graph plus its label→external-id mapping. */
final case class LoadedShard(index: GraphIndex, ids: Array[Long])

/**
 * Executor-JVM-wide cache of loaded shards, one entry per shard path, valid
 * while the file's length and mtime hold (a rewritten file replaces its
 * entry). The reference mmaps `.diskann` files once per process
 * (rust_lib/src/disk_provider.rs:182-279); on the JVM we cache the decoded
 * in-memory graph so repeated queries against the same index (the dominant
 * serving pattern) skip deserialization. Entries are soft-referenced so the
 * executor can shed them under memory pressure instead of OOMing; a rewrite
 * or drop that deletes shard files forgets their entries in the JVM that
 * deletes them.
 */
object ShardCache {
  /** A loaded shard and the (length, mtime, cosine) it was loaded at. */
  private final class Entry(val length: Long, val mtime: Long, val cosine: Boolean,
      loaded: LoadedShard) extends java.lang.ref.SoftReference[LoadedShard](loaded)

  private val cache = new ConcurrentHashMap[String, Entry]()

  /** Shards at or above this size serve disk-resident via mmap
   *  (DiskannMmapIndex) instead of decoding into heap — the reference's
   *  DiskProvider behavior (rust_lib/src/disk_provider.rs:182-279). Small
   *  shards still decode: heap search has no page-fault jitter and the
   *  footprint is trivial. Override with -Dgraft.ann.mmapThreshold=<bytes>
   *  (0 = always mmap). */
  def mmapThreshold: Long =
    sys.props.get("graft.ann.mmapThreshold").map(_.toLong).getOrElse(64L << 20)

  def get(diskannPath: String, idsPath: String, cosine: Boolean): LoadedShard = {
    val f = new File(diskannPath)
    val mtime = f.lastModified
    val length = f.length
    val e = cache.get(diskannPath)
    val hit = if (e != null && e.length == length && e.mtime == mtime && e.cosine == cosine)
      e.get() else null
    if (hit != null) hit
    else {
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
      val loaded = LoadedShard(graph, IndexCatalog.readIds(idsPath))
      cache.put(diskannPath, new Entry(length, mtime, cosine, loaded))
      loaded
    }
  }

  /** Forgets the entries of the shards whose paths `deleted` holds. */
  def forget(deleted: String => Boolean): Unit = cache.keySet.removeIf(deleted(_))

  /** The shard paths with an entry (test hook). */
  private[graft] def cachedPaths: Set[String] = cache.keySet.asScala.toSet

  def invalidate(): Unit = cache.clear()
}
