package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{LogicalRelation, HadoopFsRelation}
import org.apache.spark.sql.types._
import graft.expressions._
import graft.index.{Ann, AnnEngine, BaseRows, IndexCatalog, IndexMeta}

/**
 * Marker kept in the injected filter so the rewrite is applied once per plan
 * (the reference attaches an EXPLAIN note to its rewritten scan instead,
 * src/ann_optimizer.cpp:508-524), carrying the number of hit ids the search
 * fetched. Evaluates to true for every row; it is deliberately non-foldable
 * so no later simplification removes it, and it codegens to a constant so it
 * costs nothing at runtime. Its one child, [[KeepMarker]], is never
 * evaluated: it keeps Spark's `ConvertToLocalRelation`, which folds no
 * filter holding an unevaluable expression, from folding the marker filter
 * of a driver-answered read into its `LocalRelation`.
 */
case class AnnRewrittenMarker(indexName: String, fetched: Int,
    child: Expression = KeepMarker) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override lazy val deterministic: Boolean = true
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = true
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ExprCode.forNonNullValue(org.apache.spark.sql.catalyst.expressions.codegen.JavaCode
      .literal("true", BooleanType))
  override def prettyName: String = s"ann_index_scan['$indexName']"
  override def toString: String = s"$prettyName(fetched=$fetched)"
  override def sql: String = toString
  override protected def withNewChildInternal(c: Expression): AnnRewrittenMarker =
    copy(child = c)
}

/** The never-evaluated child of [[AnnRewrittenMarker]]. */
case object KeepMarker extends LeafExpression with Unevaluable {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
}

/**
 * Transparent top-k-by-distance → ANN index scan rewrite — the Spark
 * counterpart of the reference's optimizer extension
 * (src/ann_optimizer.cpp:348-576).
 *
 * Matches `GlobalLimit(k, LocalLimit(k, Sort(dist, [Project,] [Filter,]
 * Relation)))` where `dist` is one of this engine's vector distance
 * expressions over (indexed column, literal query vector):
 *
 *   - array_distance / array_distance_sq ASC            → L2 index
 *   - array_negative_inner_product ASC | inner_product DESC → IP index
 *   - array_cosine_distance ASC | cosine_similarity DESC → cosine index
 *     (the reference matches ASC for every function — for similarity
 *      functions that returns the LEAST similar rows; we match the
 *      semantically-correct direction instead)
 *
 * and rewrites the relation to `Filter(id INSET <hit ids>, relation)`,
 * keeping the original Project/Filter/Sort/Limit on top:
 *   - the index search runs while the optimizer plans the query
 *     (driver-local over cached shards for small indexes — the serving
 *     path; shard-fan-out job otherwise), so EXPLAIN of a rewritten top-k
 *     searches too; [[AnnTopKRule.cachedHits]] keeps the explain → count →
 *     collect of one plan to one search;
 *   - the base rows are fetched by id on one of two routes (op
 *     `ann.fetch`, [[graft.core.Route]]). Below the gate the rows come
 *     from the [[BaseRows]] driver cache, the way the reference fetches
 *     by row id (src/ann_optimizer.cpp:114-118), and the whole top-k folds
 *     to `Filter(marker, LocalRelation)`: no scan and no Spark job. Above
 *     it, integral hit ids are pushed into the parquet scan at planning
 *     time (`PushedFilters: [In(id, …)]`), so the 100 TB base table is
 *     never re-scanned either way (other id types match
 *     `try_cast(id AS BIGINT)`, the key the index was built on, which does
 *     not push);
 *   - the ids ride one `InSet` that generated code references as an
 *     object instead of inlining them as literals, so one compiled plan
 *     serves every query ([[Ann.idInSet]]);
 *   - keeping Sort preserves exact output ordering and the user-visible
 *     distance values (computed by the original projection), where the
 *     reference substitutes index-internal distances (its documented
 *     sqrt-vs-squared mismatch, SURVEY §7.3).
 *
 * Cost gates mirror the reference (src/ann_optimizer.cpp:459-472): skip
 * tables < 50 rows, skip k > 10% of rows (30% for graph indexes). A Filter
 * between projection and scan does not bail (the reference gives up,
 * :479-481): we over-fetch `k·3 + 100` (README.md:164) and let the
 * retained Filter re-filter.
 */
object AnnTopKRule {
  /** Over-fetch factor under a retained Filter (reference README.md:164). */
  val OverfetchMultiplier = 3

  /** Planning-time search results, cached per (index path, catalog content
   *  hash, metadata searched, query, k) so repeated optimizations of one
   *  plan (explain → count → collect, AQE re-planning) don't re-run the ANN
   *  search. Every index mutation (build, append, delete, vacuum, merge)
   *  rewrites metadata.json — keying on its CONTENT hash (not mtime, whose
   *  granularity can alias rapid mutations) plus the full path (two roots
   *  may hold same-named indexes) keeps cached hits consistent. The parsed
   *  `meta` the search runs over is in the key too: the caller parses it
   *  before hashing, so a writer committing in between leaves an entry no
   *  later read matches. Bounded LRU. */
  private val MaxCached = 128
  private type Key = (String, Long, IndexMeta, Seq[Float], Int)
  private val hitsCache =
    new java.util.LinkedHashMap[Key, Array[(Long, Float)]](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Key, Array[(Long, Float)]]) =
        size() > MaxCached
    }

  private def cachedHits(metaPath: String, contentHash: Long, meta: IndexMeta,
      query: Array[Float], fetchK: Int)(
      compute: => Array[(Long, Float)]): Array[(Long, Float)] = {
    val key = (metaPath, contentHash, meta, query.toSeq, fetchK)
    hitsCache.synchronized {
      val hit = hitsCache.get(key)
      if (hit != null) return hit
    }
    val computed = compute
    hitsCache.synchronized { hitsCache.put(key, computed) }
    computed
  }

  /** 64-bit content hash of metadata.json (CRC32 + Arrays.hashCode) — a
   *  32-bit key alone leaves a realistic aliasing window for rapid index
   *  mutations. Unreadable file → unique value, i.e. no caching. */
  private def metaHashOf(metaPath: String): Long =
    try {
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(metaPath))
      val crc = new java.util.zip.CRC32
      crc.update(bytes)
      (crc.getValue << 32) ^ (java.util.Arrays.hashCode(bytes).toLong & 0xffffffffL)
    } catch { case _: java.io.IOException => System.nanoTime() }

  private[graft] def clearCache(): Unit = hitsCache.synchronized(hitsCache.clear())
}

case class AnnTopKRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    spark.conf.getOption("spark.graft.ann.rewriteEnabled").forall(_.toBoolean)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformDown {
      // ORDER BY dist LIMIT k — with an optional Project between the limit and
      // the sort (the SQL path leaves one: SELECT id FROM t ORDER BY expr)
      case gl @ GlobalLimit(IntegerLiteral(k),
          ll @ LocalLimit(_, sort @ Sort(Seq(order), true, sortChild, _)))
          if k > 0 && !alreadyRewritten(sortChild) =>
        tryRewrite(k, order, sortChild)(c =>
          gl.copy(child = ll.copy(child = sort.copy(child = c)))).getOrElse(gl)
      case gl @ GlobalLimit(IntegerLiteral(k),
          ll @ LocalLimit(_, proj @ Project(_,
            sort @ Sort(Seq(order), true, sortChild, _))))
          if k > 0 && !alreadyRewritten(sortChild) =>
        tryRewrite(k, order, sortChild)(c =>
          gl.copy(child = ll.copy(child = proj.copy(child = sort.copy(child = c)))))
          .getOrElse(gl)
    }
  }

  private def alreadyRewritten(plan: LogicalPlan): Boolean =
    plan.exists {
      case f: Filter => f.condition.exists(_.isInstanceOf[AnnRewrittenMarker])
      case _ => false
    }

  /** Distance expression → (required metric, is-similarity i.e. wants DESC). */
  private def metricOf(e: Expression): Option[(String, Boolean)] = e match {
    case _: ArrayDistance | _: ArrayDistanceSq => Some(("l2", false))
    case _: ArrayNegativeInnerProduct => Some(("ip", false))
    case _: ArrayInnerProduct => Some(("ip", true))
    case _: ArrayCosineDistance => Some(("cosine", false))
    case _: ArrayCosineSimilarity => Some(("cosine", true))
    case _ => None
  }

  /** The rewritten top-k, `top` applied to the rewritten sort child. */
  private def tryRewrite(k: Int, order: SortOrder, child: LogicalPlan)(
      top: LogicalPlan => LogicalPlan): Option[LogicalPlan] = {
    // resolve the sort key through any child projection aliases
    val distExpr = order.child match {
      case a: Attribute =>
        child.collectFirst {
          case p: Project => p.projectList.collectFirst {
            case al @ Alias(e, _) if al.exprId == a.exprId => e
          }
        }.flatten.getOrElse(a)
      case e => e
    }
    val vb = distExpr match {
      case b: VectorBinaryExpression => b
      case _ => return None
    }
    val (requiredMetric, isSimilarity) = metricOf(vb).getOrElse(return None)
    val dirOk = (order.direction, isSimilarity) match {
      case (Ascending, false) => true
      case (Descending, true) => true
      case _ => false
    }
    if (!dirOk) return None

    // identify column side vs constant query-vector side (either arg order;
    // unwrap casts like the reference, src/ann_optimizer.cpp:398-413)
    def unwrap(e: Expression): Expression = e match {
      case Cast(c, _, _, _) => unwrap(c)
      case other => other
    }
    val (colSide, vecSide) = (unwrap(vb.left), unwrap(vb.right)) match {
      case (a: Attribute, v) if v.foldable => (a, vb.right)
      case (v, a: Attribute) if v.foldable => (a, vb.left)
      case _ => return None
    }
    val query = extractQueryVector(vecSide).getOrElse(return None)

    // locate the scan relation beneath (allow Project/Filter in between)
    var hasFilter = false
    def findRelation(p: LogicalPlan): Option[LogicalRelation] = p match {
      case lr: LogicalRelation => Some(lr)
      case Project(_, c) => findRelation(c)
      case Filter(_, c) => { hasFilter = true; findRelation(c) }
      case _ => None
    }
    val lr = findRelation(child).getOrElse(return None)
    // the ordered column must come from this relation
    if (!lr.output.exists(_.exprId == colSide.exprId)) return None
    val rootPaths = lr.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString).toSet
      case _ => return None
    }

    // index selection: same source files + same column + compatible metric
    // (reference FindAnnIndex, src/ann_optimizer.cpp:260-345). When several
    // indexes cover the same scan, prefer an EXACT-serving engine (flat) —
    // the result-preserving choice — then tiebreak by name, so selection is
    // DETERMINISTIC (catalog listing order is filesystem order).
    val rootDir = Ann.root(spark)
    val meta = IndexCatalog.list(rootDir).filter { m =>
      m.sourceFiles.nonEmpty && m.sourceFiles.toSet == rootPaths &&
        m.column == colSide.name && m.metric == requiredMetric &&
        m.dim == query.length &&
        // lsh serves HAMMING values, not the declared metric's distances —
        // a rewrite would silently change the query's _distance semantics
        // (every other engine returns true metric distances; only the
        // RANKING is approximate)
        AnnEngine.of(m) != AnnEngine.Lsh &&
        // pca-transformed indexes serve transformed-space distances (and
        // take original-dim queries) — same value-semantics exclusion
        m.pcaFile.isEmpty
    }.sortBy(m => (if (AnnEngine.of(m) == AnnEngine.Flat) 0 else 1, m.name))
      .headOption.getOrElse(return None)

    // cost gates (reference src/ann_optimizer.cpp:459-472)
    val rows = meta.numVectors
    if (rows < 50) return None
    val frac = if (AnnEngine.of(meta).isGraph) 0.30 else 0.10
    if (k > rows * frac) return None

    // fetch size: plain k, or k·mult + 100 when a filter must re-filter
    // (README.md:164)
    val fetchK = if (hasFilter) k * AnnTopKRule.OverfetchMultiplier + 100 else k
    val idAttr = lr.output.find(_.name == meta.idColumn).getOrElse(return None)

    val metaPath = s"${IndexCatalog.indexDir(rootDir, meta.name)}/metadata.json"
    val metaHash = AnnTopKRule.metaHashOf(metaPath)
    val hits = AnnTopKRule.cachedHits(metaPath, metaHash, meta, query, fetchK) {
      Ann.collectHits(spark, meta, IndexCatalog.readTombstones(rootDir, meta.name), query,
        fetchK, searchComplexity = 0, oversample = 1)
    }
    val ids = hits.map(_._1)
    val inSet = Ann.idInSet(idAttr, idAttr.dataType, ids)
    val marker = AnnRewrittenMarker(meta.name, hits.length)
    // graft the filter directly above the relation, under any existing ops
    def inject(p: LogicalPlan, filter: LogicalPlan): LogicalPlan = p match {
      case rel: LogicalRelation if rel eq lr => filter
      case other => other.withNewChildren(other.children.map(inject(_, filter)))
    }
    // driver-local (op `ann.fetch`): the same filter over every base row
    // whose id key is a hit, folded with everything above it; the marker
    // (which would stop the fold) goes on top
    val local = BaseRows.local(spark, "ann.fetch", top(child)).flatMap { l =>
      val rows = BaseRows.fetch(l, idAttr, ids)
      BaseRows.foldLocal(top(inject(child, Filter(inSet, LocalRelation(lr.output, rows)))))
        .map(Filter(marker, _))
    }
    Some(local.getOrElse(top(inject(child, Filter(And(inSet, marker), lr)))))
  }

  /** Evaluate a foldable array expression to f32 (any numeric element type —
   *  the reference coerces the same set, src/ann_search.cpp:471-493). */
  private def extractQueryVector(e: Expression): Option[Array[Float]] = {
    if (!e.foldable) return None
    e.dataType match {
      case ArrayType(et, _) =>
        val data = e.eval(null).asInstanceOf[ArrayData]
        if (data == null) return None
        val n = data.numElements()
        val out = new Array[Float](n)
        var i = 0
        while (i < n) {
          if (data.isNullAt(i)) return None
          out(i) = et match {
            case FloatType => data.getFloat(i)
            case DoubleType => data.getDouble(i).toFloat
            case IntegerType => data.getInt(i).toFloat
            case LongType => data.getLong(i).toFloat
            case ShortType => data.getShort(i).toFloat
            case ByteType => data.getByte(i).toFloat
            case d: DecimalType => data.getDecimal(i, d.precision, d.scale).toFloat
            case _ => return None
          }
          i += 1
        }
        Some(out)
      case _ => None
    }
  }
}
