package graft.index

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/**
 * Driver cache of a parquet table's decoded rows by id: the reference's
 * `DataTable::Fetch` by row id (src/ann_optimizer.cpp:114-118) for the eager
 * top-k rewrite, which then attaches a read's base columns without a scan
 * job.
 *
 * Entries are per file, keyed by path + length + mtime (the fingerprint rule
 * of [[ExactServe]]) plus the read schema, options and id column, so an
 * append decodes only its new files and a file rewritten in place misses.
 * Each file is decoded once through Spark's own `ParquetFileFormat` reader
 * with the relation's options, so values are bit-identical to a scan's, and
 * indexed by the [[Ann.idKey]] LONG value of its id column: duplicated ids
 * all match, NULL keys never do. Resident bytes stay under the caller's
 * budget, evicting the least recently used file first.
 */
private[graft] object BaseRows {

  private final case class Key(path: String, length: Long, mtime: Long,
      schema: StructType, options: Map[String, String], idColumn: String)

  /** One file's rows sorted by id key; `keys(i)` is `rows(i)`'s key. */
  private final class FileRows(val keys: Array[Long], val rows: Array[InternalRow],
      val bytes: Long)

  private val cache = new java.util.LinkedHashMap[Key, FileRows](16, 0.75f, true)
  private var resident = 0L

  /** Files decoded since start (test hook: an append decodes only its files). */
  private[graft] val decodedFiles = new AtomicLong(0)

  /** The files `fs` lists, when each is still on disk with the listed length
   *  and mtime; None for a stale listing. */
  def listing(fs: HadoopFsRelation): Option[Seq[FileStatus]] = {
    val files = fs.location.listFiles(Nil, Nil).flatMap(_.files).map(_.fileStatus)
    val conf = fs.sparkSession.sessionState.newHadoopConfWithOptions(fs.options)
    val fresh = files.forall { f =>
      try {
        val now = f.getPath.getFileSystem(conf).getFileStatus(f.getPath)
        now.getLen == f.getLen && now.getModificationTime == f.getModificationTime
      } catch { case _: java.io.IOException => false }
    }
    if (fresh) Some(files) else None
  }

  /** Rows of `files` (decoded as `fs` reads them, in `output`'s layout)
   *  whose id key is one of `ids`, in file order then key order. */
  def fetch(fs: HadoopFsRelation, files: Seq[FileStatus], output: Seq[Attribute],
      idAttr: Attribute, ids: Array[Long], budget: Long): Seq[InternalRow] = {
    val keyOf = (f: FileStatus) => Key(f.getPath.toString, f.getLen, f.getModificationTime,
      fs.dataSchema, fs.options, idAttr.name)
    val have = cache.synchronized(files.map(f => f -> cache.get(keyOf(f))))
    val missing = have.collect { case (f, null) => f }
    val decoded = if (missing.isEmpty) Map.empty[FileStatus, FileRows]
      else decode(fs, missing, output, idAttr).toMap
    val sorted = ids.distinct.sorted
    val out = Seq.newBuilder[InternalRow]
    have.foreach { case (f, cached) =>
      val fr = if (cached != null) cached else decoded(f)
      sorted.foreach { id =>
        var i = lowerBound(fr.keys, id)
        while (i < fr.keys.length && fr.keys(i) == id) { out += fr.rows(i); i += 1 }
      }
    }
    cache.synchronized {
      decoded.foreach { case (f, fr) =>
        val old = cache.put(keyOf(f), fr)
        resident += fr.bytes - (if (old == null) 0L else old.bytes)
      }
      val it = cache.values.iterator
      while (resident > budget && it.hasNext) { resident -= it.next().bytes; it.remove() }
    }
    out.result()
  }

  private[graft] def clear(): Unit = cache.synchronized { cache.clear(); resident = 0L }

  private def decode(fs: HadoopFsRelation, files: Seq[FileStatus], output: Seq[Attribute],
      idAttr: Attribute): Seq[(FileStatus, FileRows)] = {
    val reader = new ParquetFileFormat().buildReaderWithPartitionValues(
      fs.sparkSession, fs.dataSchema, new StructType(), fs.dataSchema, Nil,
      fs.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
      fs.sparkSession.sessionState.newHadoopConfWithOptions(fs.options))
    val toUnsafe = UnsafeProjection.create(fs.dataSchema)
    val key = BindReferences.bindReference(Ann.idKey(idAttr, idAttr.dataType), output)
    files.map { f =>
      val rows = reader(PartitionedFile(InternalRow.empty, SparkPath.fromPath(f.getPath), 0,
        f.getLen, Array.empty, f.getModificationTime, f.getLen))
        .map(r => toUnsafe(r).copy())
        .flatMap(r => Option(key.eval(r)).map(k => (k.asInstanceOf[Long], r)))
        .toArray.sortBy(_._1)
      decodedFiles.incrementAndGet()
      f -> new FileRows(rows.map(_._1), rows.map(_._2: InternalRow),
        rows.iterator.map(_._2.getSizeInBytes.toLong + 32).sum)
    }
  }

  private def lowerBound(keys: Array[Long], id: Long): Int = {
    var lo = 0
    var hi = keys.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (keys(mid) < id) lo = mid + 1 else hi = mid
    }
    lo
  }
}
