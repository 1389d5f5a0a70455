package graft.search

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.LongType
import graft.index.BaseRows

/**
 * The driver-local route of [[Hybrid.bm25Ranks]] (route op `search.bm25`):
 * BM25 from per-file postings held beside the [[BaseRows]] entries, the
 * counterpart of the reference's persisted FTS inverted index, looked up
 * once per search (src/ann_search.cpp:1032-1057). No Spark job runs.
 *
 * A file's postings (each row's document length and, per term, the rows
 * holding it with their term frequencies) are built once per cached file,
 * by evaluating the distributed route's own bound id/tokens/length
 * expressions, so lower-casing, regex and NULL semantics are the scan's.
 * Each query then folds the input's filters over the cached rows on the
 * driver ([[BaseRows.foldLocal]], as the `ann.fetch` rewrite does),
 * takes N, avgdl and the terms' document frequencies over the rows they
 * keep, and scores only the kept rows holding a query term (no other row
 * can score above 0) with [[Hybrid.termScore]].
 */
private[search] final class Bm25Corpus private (build: => Seq[Bm25Corpus.File],
    id: Expression) {
  import Bm25Corpus._

  /** Decoded and tokenized on first use: an empty term set needs neither. */
  private lazy val files = build

  /** N (every kept row), avgdl (over kept rows with tokens) and each term's
   *  document frequency, as the distributed aggregate computes them. */
  def stats(terms: Seq[String]): Hybrid.Stats = {
    var n, dlSum, dlRows = 0L
    for (f <- files; i <- f.keep.indices if f.keep(i)) {
      n += 1
      val dl = f.postings.dl(i)
      if (dl >= 0) { dlSum += dl; dlRows += 1 }
    }
    val dfs = terms.map { t =>
      files.iterator.map { f =>
        val p = f.postings.terms.getOrElse(t, Array.emptyIntArray)
        (p.indices by 2).count(k => f.keep(p(k))).toLong
      }.sum
    }
    Hybrid.Stats(n, if (dlRows == 0) 0.0 else dlSum.toDouble / dlRows, dfs)
  }

  /** The ids of the ≤ `topN` best rows scoring above 0, by (score desc, id);
   *  rows with a NULL id are not ranked. */
  def top(terms: Seq[String], s: Hybrid.Stats, topN: Int): Seq[Long] = {
    val idfs = terms.indices.map(s.idf).toArray
    val hits = mutable.ArrayBuffer.empty[(Double, Long)]
    for (f <- files) {
      val tfs = mutable.HashMap.empty[Int, Array[Int]]
      for ((t, j) <- terms.zipWithIndex; p <- f.postings.terms.get(t); k <- p.indices by 2
           if f.keep(p(k)))
        tfs.getOrElseUpdate(p(k), new Array[Int](terms.length))(j) = p(k + 1)
      for ((pos, tf) <- tfs) {
        val dl = f.postings.dl(pos).toDouble
        // summed in term order, as the distributed score's reduce(_ + _)
        var score = Hybrid.termScore(tf(0), dl, s.avgdl, idfs(0))
        for (j <- 1 until tf.length) score += Hybrid.termScore(tf(j), dl, s.avgdl, idfs(j))
        if (score > 0) {
          val key = id.eval(f.rows(pos))
          if (key != null) hits += ((score, key.asInstanceOf[Long]))
        }
      }
    }
    hits.sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)).take(topN)
      .map(_._2).toSeq
  }
}

private[search] object Bm25Corpus {

  /** Files tokenized since start (test hook: an append tokenizes only its files). */
  private[graft] val tokenizedFiles = new AtomicLong(0)

  /** One file's postings: each row's token count (-1 for NULL tokens) and,
   *  per term, the rows holding it as (position, term frequency) pairs
   *  packed in one array. */
  private final class Postings(val dl: Array[Int], val terms: Map[String, Array[Int]])

  /** A file's rows, its postings and which of its rows the input keeps. */
  private final class File(val rows: Array[InternalRow], val postings: Postings,
      val keep: Array[Boolean])

  /** The corpus of `df` when BM25 over it may run on the driver: `df`'s
   *  optimized plan is deterministic filters and projections over one
   *  plain, fresh parquet relation whose files' [[BaseRows.held]] bytes
   *  fit the gate, and `docs` (the distributed route's id, tokens and
   *  length columns, selected from `df`) reads only that relation's
   *  columns. Posts the one `search.bm25` route event. */
  def apply(df: DataFrame, docs: DataFrame): Option[Bm25Corpus] = {
    val plan = df.queryExecution.optimizedPlan
    // the analyzed columns, with runtime-replaceable functions (array_size)
    // replaced as the optimizer does
    def replaced(e: Expression): Expression =
      e.transformDown { case r: RuntimeReplaceable => replaced(r.replacement) }
    val cols = docs.queryExecution.analyzed match {
      case Project(list, _) => list.map { case a: Alias => replaced(a.child); case e => e }
      case _ => Nil
    }
    def fits(lr: LogicalRelation): Boolean = cols.length == 3 &&
      !plan.exists(p => !(p eq lr) && !p.isInstanceOf[Filter] && !p.isInstanceOf[Project]) &&
      cols.head.references.nonEmpty &&
      cols.flatMap(_.references).forall(a => lr.output.exists(_.exprId == a.exprId))
    BaseRows.local(df.sparkSession, "search.bm25", plan, fits).map { l =>
      val Seq(id, toks, dl) = cols.map(BindReferences.bindReference(_, l.lr.output))
      val idAttr = l.lr.output.find(a => cols.head.references.contains(a)).get
      new Bm25Corpus({
        val scanned = BaseRows.scan(l, idAttr, ("bm25", toks, dl))(postings(_, toks, dl))
        scanned.zip(kept(plan, l.lr, scanned.map(_._1))).map {
          case ((rows, p), keep) => new File(rows, p, keep) }
      }, id)
    }
  }

  private def postings(rows: Array[InternalRow], toks: Expression,
      dl: Expression): (Postings, Long) = {
    val lens = new Array[Int](rows.length)
    val acc = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofInt]
    for (i <- rows.indices) {
      lens(i) = Option(dl.eval(rows(i))).fold(-1)(_.asInstanceOf[Int])
      val a = toks.eval(rows(i)).asInstanceOf[ArrayData]
      if (a != null) {
        val tf = mutable.HashMap.empty[String, Int]
        for (j <- 0 until a.numElements()) {
          val t = a.getUTF8String(j).toString
          tf(t) = tf.getOrElse(t, 0) + 1
        }
        for ((t, c) <- tf) acc.getOrElseUpdate(t, new mutable.ArrayBuilder.ofInt) += i += c
      }
    }
    val terms = acc.map { case (t, b) => t -> b.result() }.toMap
    tokenizedFiles.incrementAndGet()
    (new Postings(lens, terms),
      4L * lens.length + terms.iterator.map { case (t, p) => 4L * p.length + 2L * t.length + 80 }.sum)
  }

  /** Which rows of each of `files` (in `lr`'s layout) `plan` keeps: its
   *  filters and inner projections folded by [[BaseRows.foldLocal]] over the
   *  rows, each carrying its (file, row) position through every projection.
   *  Projections above every filter keep all rows and are not evaluated. */
  private def kept(plan: LogicalPlan, lr: LogicalRelation,
      files: Seq[Array[InternalRow]]): Seq[Array[Boolean]] = {
    val pos = AttributeReference("__bm25_pos", LongType, nullable = false)()
    def numbered(p: LogicalPlan): LogicalPlan = p match {
      case Filter(cond, c) => Filter(cond, numbered(c))
      case Project(list, c) => Project(list :+ pos, numbered(c))
      case _ => LocalRelation(lr.output :+ pos, files.zipWithIndex.flatMap { case (rows, f) =>
        rows.indices.map(i => new JoinedRow(rows(i), InternalRow((f.toLong << 32) | i)))
      })
    }
    def filters(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, c) => filters(c)
      case other => other
    }
    val keep = files.map(rows => new Array[Boolean](rows.length))
    val out = BaseRows.foldLocal(numbered(filters(plan))).get
    val at = out.output.indexWhere(_.exprId == pos.exprId)
    out.data.foreach { r =>
      val p = r.getLong(at)
      keep((p >>> 32).toInt)(p.toInt) = true
    }
    keep
  }
}
