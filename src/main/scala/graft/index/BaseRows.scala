package graft.index

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, LogicalRelation,
  PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import graft.core.Route

/**
 * Driver cache of a parquet table's decoded rows: the reference's
 * `DataTable::Fetch` by row id (src/ann_optimizer.cpp:114-118) for the eager
 * top-k rewrite, which then attaches a read's base columns without a scan
 * job, and the whole corpus for driver-local BM25.
 *
 * Entries are per file, keyed by path + length + mtime (the fingerprint rule
 * of [[ExactServe]]) plus the read schema, options and id column, so an
 * append decodes only its new files and a file rewritten in place misses.
 * Each file is decoded once through Spark's own `ParquetFileFormat` reader
 * with the relation's options, so values are bit-identical to a scan's, and
 * indexed by the [[Ann.idKey]] LONG value of its id column: duplicated ids
 * all match, NULL keys never do. Whole-listing reads ([[scan]]) see every
 * row, NULL ids included, with per-file values derived from the rows (the
 * BM25 postings) held beside them. Resident bytes stay under the gate,
 * evicting the least recently used file first; each file's resident bytes
 * are remembered past its eviction, so a route held to them ([[held]]) sees
 * what a listing costs once decoded, not its compressed parquet bytes.
 */
private[graft] object BaseRows {

  /** A read the driver may answer: its one parquet leaf, that leaf's
   *  relation and its fresh file listing. */
  final case class Listed(lr: LogicalRelation, fs: HadoopFsRelation, files: Seq[FileStatus])

  private final case class Key(path: String, length: Long, mtime: Long,
      schema: StructType, options: Map[String, String], idColumn: String)

  /** One file's rows in file order; `keys` are the non-NULL id keys sorted,
   *  `at(i)` the position of the row keyed `keys(i)`. `derived` holds values
   *  computed from the rows by tag; their bytes count in `bytes`. */
  private final class FileRows(val rows: Array[InternalRow], val keys: Array[Long],
      val at: Array[Int], var bytes: Long) {
    val derived = new java.util.HashMap[Any, AnyRef]
    var cached = false
  }

  private val cache = new java.util.LinkedHashMap[Key, FileRows](16, 0.75f, true)
  private var resident = 0L

  private val KnownMax = 1 << 14

  /** The last resident bytes (rows plus derived values) of up to `KnownMax`
   *  files seen, by path, length and mtime, least recently seen dropped
   *  first. */
  private val known = new java.util.LinkedHashMap[(String, Long, Long), java.lang.Long](
      16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[(String, Long, Long),
        java.lang.Long]): Boolean = size > KnownMax
  }

  private def fileId(f: FileStatus) = (f.getPath.toString, f.getLen, f.getModificationTime)

  /** Files decoded since start (test hook: an append decodes only its files). */
  private[graft] val decodedFiles = new AtomicLong(0)

  /** `plan`'s parquet leaf and its fresh listing when the driver may answer
   *  `plan` (route op `op`): one plain parquet leaf (no partitions, buckets,
   *  streaming or `_metadata` columns) that `fits`, under nodes [[foldable]]
   *  evaluates, with listed bytes within the gate, every listed file
   *  unchanged on disk and `cost` of the listing (by default its listed
   *  bytes) within the gate. Posts the op's one route event either way; the
   *  estimate is that cost, or the listed bytes when no fresh listing was
   *  taken (the plan's size estimate when its leaf is not a file
   *  relation). */
  def local(spark: SparkSession, op: String, plan: LogicalPlan,
      fits: LogicalRelation => Boolean = _ => true,
      cost: Seq[FileStatus] => Long = _.map(_.getLen).sum): Option[Listed] = {
    val leaf = plan.collectLeaves() match {
      case Seq(lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _)) => Some((lr, fs))
      case _ => None
    }
    val bytes = leaf.fold(plan.stats.sizeInBytes.min(Long.MaxValue).toLong)(
      _._2.location.sizeInBytes)
    val plain = leaf.exists { case (lr, fs) =>
      fs.fileFormat.isInstanceOf[ParquetFileFormat] && fs.partitionSchema.isEmpty &&
        fs.bucketSpec.isEmpty && !lr.isStreaming &&
        lr.output.map(_.name) == fs.dataSchema.map(_.name) && foldable(plan, lr) && fits(lr)
    }
    // each listed file is stat'ed, so only when the table is within the gate
    val files = if (plain && bytes <= Route.maxBytes(spark)) listing(leaf.get._2) else None
    if (files.isEmpty) {
      Route.post(spark, op, Route.Distributed, bytes, Route.maxBytes(spark))
      None
    } else if (!Route.local(spark, op, cost(files.get))) None
    else Some(Listed(leaf.get._1, leaf.get._2, files.get))
  }

  /** The bytes `files` held when last resident (rows and derived values),
   *  a file never decoded counting its listed length: a lower bound until a
   *  fill has measured it. */
  def held(files: Seq[FileStatus]): Long = cache.synchronized {
    files.iterator.map(f => Option(known.get(fileId(f))).fold(f.getLen)(_.longValue)).sum
  }

  /** True when `plan` is only limits, projections, filters and sorts of
   *  deterministic, evaluable expressions over `lr`. */
  private def foldable(plan: LogicalPlan, lr: LogicalRelation): Boolean = plan match {
    case rel: LogicalRelation => rel eq lr
    case _: GlobalLimit | _: LocalLimit | _: Project | _: Filter | _: Sort =>
      plan.expressions.forall(_.find {
        case _: AttributeReference | _: SortOrder => false
        case e => !e.deterministic || e.isInstanceOf[Unevaluable] ||
          e.isInstanceOf[SubqueryExpression]
      }.isEmpty) && foldable(plan.children.head, lr)
    case _ => false
  }

  /** `plan` evaluated on the driver over its LocalRelation leaf, when that
   *  folds completely: Spark's own `ConvertToLocalRelation` to a fixpoint,
   *  plus a stable sort of a LocalRelation by the interpreted ordering. */
  def foldLocal(plan: LogicalPlan): Option[LocalRelation] = {
    var prev: LogicalPlan = null
    var cur = plan
    while (!(cur fastEquals prev)) {
      prev = cur
      cur = ConvertToLocalRelation(cur).transformUp {
        case Sort(order, true, LocalRelation(output, data, false, None), _) =>
          val ordering = new InterpretedOrdering(order, output)
          LocalRelation(output, data.sortWith(ordering.lt))
      }
    }
    cur match {
      case l: LocalRelation => Some(l)
      case _ => None
    }
  }

  /** The files `fs` lists, when each is still on disk with the listed length
   *  and mtime; None for a stale listing. */
  private def listing(fs: HadoopFsRelation): Option[Seq[FileStatus]] = {
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

  /** Rows of `l`'s files (in `l.lr.output`'s layout) whose id key is one of
   *  `ids`, in file order then key order. */
  def fetch(l: Listed, idAttr: Attribute, ids: Array[Long]): Seq[InternalRow] = {
    val sorted = ids.distinct.sorted
    val out = Seq.newBuilder[InternalRow]
    entries(l, idAttr).foreach { fr =>
      sorted.foreach { id =>
        var i = lowerBound(fr.keys, id)
        while (i < fr.keys.length && fr.keys(i) == id) { out += fr.rows(fr.at(i)); i += 1 }
      }
    }
    out.result()
  }

  /** Every row of `l`'s files, NULL ids included: one array per file in file
   *  order, each with `derive` of its rows. `derive` runs once per cached
   *  file and `tag`; the value it returns is held with the file's rows and
   *  its byte size (the second value) counts against the gate. */
  def scan[A <: AnyRef](l: Listed, idAttr: Attribute, tag: Any)(
      derive: Array[InternalRow] => (A, Long)): Seq[(Array[InternalRow], A)] =
    l.files.zip(entries(l, idAttr)).map { case (f, fr) =>
      val a = fr.synchronized {
        Option(fr.derived.get(tag)).getOrElse {
          val (a, bytes) = derive(fr.rows)
          fr.derived.put(tag, a)
          cache.synchronized {
            fr.bytes += bytes
            known.put(fileId(f), fr.bytes)
            if (fr.cached) resident += bytes
            evict(Route.maxBytes(l.fs.sparkSession))
          }
          a
        }
      }
      (fr.rows, a.asInstanceOf[A])
    }

  private[graft] def clear(): Unit = cache.synchronized {
    cache.values.forEach(_.cached = false)
    cache.clear()
    known.clear()
    resident = 0L
  }

  /** The cache entries of `l`'s files, decoding the missing ones. */
  private def entries(l: Listed, idAttr: Attribute): Seq[FileRows] = {
    val keyOf = (f: FileStatus) => Key(f.getPath.toString, f.getLen, f.getModificationTime,
      l.fs.dataSchema, l.fs.options, idAttr.name)
    val have = cache.synchronized(l.files.map(f => f -> cache.get(keyOf(f))))
    val missing = have.collect { case (f, null) => f }
    val decoded = if (missing.isEmpty) Map.empty[FileStatus, FileRows]
      else decode(l, missing, idAttr).toMap
    cache.synchronized {
      decoded.foreach { case (f, fr) =>
        val old = cache.put(keyOf(f), fr)
        if (old != null) { old.cached = false; resident -= old.bytes }
        fr.cached = true
        resident += fr.bytes
        known.putIfAbsent(fileId(f), fr.bytes)
      }
      evict(Route.maxBytes(l.fs.sparkSession))
    }
    have.map { case (f, cached) => if (cached != null) cached else decoded(f) }
  }

  /** Drops least recently used files until the resident bytes fit `budget`;
   *  the caller holds the cache lock. */
  private def evict(budget: Long): Unit = {
    val it = cache.values.iterator
    while (resident > budget && it.hasNext) {
      val fr = it.next()
      fr.cached = false
      resident -= fr.bytes
      it.remove()
    }
  }

  private def decode(l: Listed, files: Seq[FileStatus],
      idAttr: Attribute): Seq[(FileStatus, FileRows)] = {
    val fs = l.fs
    val reader = new ParquetFileFormat().buildReaderWithPartitionValues(
      fs.sparkSession, fs.dataSchema, new StructType(), fs.dataSchema, Nil,
      fs.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
      fs.sparkSession.sessionState.newHadoopConfWithOptions(fs.options))
    val toUnsafe = UnsafeProjection.create(fs.dataSchema)
    val key = BindReferences.bindReference(Ann.idKey(idAttr, idAttr.dataType), l.lr.output)
    files.map { f =>
      val rows = reader(PartitionedFile(InternalRow.empty, SparkPath.fromPath(f.getPath), 0,
        f.getLen, Array.empty, f.getModificationTime, f.getLen))
        .map(r => toUnsafe(r).copy()).toArray
      val keyed = rows.indices
        .flatMap(i => Option(key.eval(rows(i))).map(k => (k.asInstanceOf[Long], i)))
        .sortBy(_._1)
      decodedFiles.incrementAndGet()
      f -> new FileRows(rows.map(r => r: InternalRow), keyed.map(_._1).toArray,
        keyed.map(_._2).toArray, rows.iterator.map(_.getSizeInBytes.toLong + 32).sum)
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
