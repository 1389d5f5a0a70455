package graft.search

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.text.TextOps
import graft.functions.{toFloatVec, floatVec, array_distance_sq}
import graft.index.Ann

/**
 * Hybrid BM25 + vector search with Reciprocal-Rank-Fusion — the Spark
 * re-expression of the reference's `hybrid_search`
 * (src/ann_search.cpp:903-1163): BM25 candidates (the reference shells out
 * to DuckDB's FTS extension; here a native Okapi-BM25 over the input),
 * vector candidates from the ANN index (or exact scan), then
 * `Σ wᵢ·1/(60+rankᵢ)` fusion (RRF_K=60, :1026), sort desc, top-k.
 *
 * Output: id, `_bm25_rank`, `_vector_rank` (0 = not in that candidate list),
 * `_rrf_score`. Ranks are integers and the fusion is rational arithmetic, so
 * results are engine-exact; only near-tied BM25 scores (double ln/idf) could
 * reorder, and ties break by id.
 *
 * Scale shape: while the input's decoded rows and postings fit the one
 * gate (route op `search.bm25`) BM25 runs on the driver from per-file
 * postings cached beside the [[graft.index.BaseRows]] rows, built once per
 * file (an append tokenizes only its files). The gain rests on those rows
 * and postings staying resident between searches: a warm search launches
 * no Spark job, while a fill decodes and tokenizes on one driver thread,
 * about as slow as one distributed search. Above the gate the
 * term-frequency projection is
 * codegen over the token array, doc-frequencies for the (few) query terms
 * are one small aggregate, ranking is a single top-N, and the driver holds
 * only |queryTerms| doc-frequency counts. Either way the driver fuses the
 * two ≤N-row rank lists.
 */
object Hybrid {

  val RrfK = 60
  // reference defaults: src/ann_search.cpp:911-915
  val DefaultBm25Weight = 0.3
  val DefaultVectorWeight = 0.7
  val K1 = 1.2
  val B = 0.75

  /** Lowercase word tokens of the query string (same regex as TextOps). */
  def queryTerms(qText: String): Seq[String] =
    "[a-z0-9]+".r.findAllIn(qText.toLowerCase).toSeq.distinct

  /** BM25-ranked top-N doc ids for a bag of query terms:
   *  (id, _bm25_rank 1..N). Okapi BM25, idf = ln((N-df+0.5)/(df+0.5)+1).
   *  N counts every input row; avgdl and df count the rows with tokens (a
   *  NULL text has none and never scores). Rows with a NULL id count in the
   *  statistics but take no rank.
   *
   *  Two routes, one answer (route op `search.bm25`, estimate = the bytes
   *  the input's files hold on the driver once decoded and tokenized,
   *  [[graft.index.BaseRows.held]], limit = the gate): a plain parquet
   *  input under deterministic filters and projections scores on the driver
   *  from cached per-file postings ([[Bm25Corpus]]) with no Spark job; any
   *  other input runs one statistics aggregate and one top-N scan. */
  def bm25Ranks(df: DataFrame, textCol: String, idCol: String,
      terms: Seq[String], topN: Int): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val docs = df.select(col(idCol).cast(LongType).as("id"), toks.as("toks"),
      array_size(toks).as("dl"))
    val corpus = Bm25Corpus(df, docs)
    val ids = if (terms.isEmpty) Nil else corpus match {
      case Some(c) =>
        val stats = c.stats(terms)
        if (stats.anyScore) c.top(terms, stats, topN) else Nil
      case None => distributedTop(docs, terms, topN)
    }
    ranked(df.sparkSession, ids, "_bm25_rank")
  }

  /** The distributed route of [[bm25Ranks]] over its `docs` columns. */
  private def distributedTop(docs: DataFrame, terms: Seq[String], topN: Int): Seq[Long] = {
    // corpus statistics — ONE aggregate pass: count, avgdl, and every
    // term's doc frequency together (per-term count() jobs would re-scan
    // and re-tokenize the corpus once per term)
    val statAggs = count(lit(1)).as("__n") +: avg(col("dl")).as("__avgdl") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(array_contains(col("toks"), t).cast(LongType)).as(s"__df$i")
      }
    val row = docs.agg(statAggs.head, statAggs.tail: _*).head()
    val stats = Stats(row.getLong(0), if (row.isNullAt(1)) 0.0 else row.getDouble(1),
      terms.indices.map(i => if (row.isNullAt(2 + i)) 0L else row.getLong(2 + i)))
    if (!stats.anyScore) return Nil
    // termScore's operations, in its order
    val dl = col("dl").cast(DoubleType)
    val score: Column = terms.zipWithIndex.map { case (t, i) =>
      val tf = array_size(filter(col("toks"), x => x === t)).cast(DoubleType)
      (tf * lit(K1 + 1)) / (tf + lit(K1) * (lit(1.0 - B) + lit(B) * dl / lit(stats.avgdl))) *
        lit(stats.idf(i))
    }.reduce(_ + _)
    // distributed top-N first (TakeOrderedAndProject — no global sort)
    orderedIds(docs.withColumn("__score", score)
      .where(col("__score") > 0 && col("id").isNotNull)
      .orderBy(col("__score").desc, col("id"))
      .limit(topN), topN)
  }

  /** BM25 corpus statistics: the row count, the mean token count of the
   *  rows with tokens (0 when none has) and each query term's document
   *  frequency. */
  private[search] final case class Stats(n: Long, avgdl: Double, dfs: Seq[Long]) {
    /** False when no row can score above 0: an empty input, or no query term
     *  in any row (then every score is 0 or NULL). */
    def anyScore: Boolean = n > 0 && dfs.exists(_ > 0)
    def idf(i: Int): Double = {
      val dft = dfs(i).toDouble
      math.log((n - dft + 0.5) / (dft + 0.5) + 1.0)
    }
  }

  /** One term's Okapi BM25 score for a row of `dl` tokens holding it `tf`
   *  times; the distributed route's score column spells the same operations
   *  in the same order, so both routes give bit-identical doubles. */
  private[search] def termScore(tf: Double, dl: Double, avgdl: Double, idf: Double): Double =
    (tf * (K1 + 1)) / (tf + K1 * ((1.0 - B) + B * dl / avgdl)) * idf

  /** Rank an ordered (orderBy.limit(topN)) result by global row position:
   *  collect the ≤ topN id rows (collect of a sorted plan preserves global
   *  order) and return a LOCAL relation of (id, rank). Bounded by the
   *  candidate budget (topN ≤ a few hundred) — the same boundedness as the
   *  ANN route's collectHits, never corpus-sized. The earlier
   *  rdd.zipWithIndex spelling executed the whole TakeOrdered scan TWICE
   *  per downstream action (zipWithIndex runs an eager partition-count job
   *  at construction, and the ExistingRDD re-runs the scan lineage when the
   *  fused result executes); a LocalRelation evaluates the scan once and
   *  rrfFuse collects it with no job. (An unpartitioned Window would log
   *  WindowExec's move-all-data warning on every serving query, and the
   *  optimizer folds away constant partition keys, so there is no quiet
   *  window spelling.) */
  private def rankOrdered(top: DataFrame, rankName: String, topN: Int): DataFrame =
    ranked(top.sparkSession, orderedIds(top, topN), rankName)

  /** The ids of an ordered (orderBy.limit(topN)) result, in order. */
  private def orderedIds(top: DataFrame, topN: Int): Seq[Long] =
    // defensive re-limit: correctness of the collect below relies on the
    // caller passing an orderBy.limit(topN) plan — a second limit over an
    // already-limited plan is a no-op, and it bounds the collect even if a
    // future caller forgets (the invariant was previously only documented)
    top.limit(topN).select(col("id")).collect().map(_.getLong(0)).toSeq

  /** `ids` in order as a local relation of (id, rank 1..). */
  private def ranked(spark: SparkSession, ids: Seq[Long], rankName: String): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ids.zipWithIndex.map {
      case (id, i) => Row(id, i + 1) }: _*), StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField(rankName, IntegerType, nullable = false))))

  /** Exact vector ranks (squared-L2 over an embedding column):
   *  (id, _vector_rank 1..N). */
  def exactVectorRanks(df: DataFrame, vecCol: String, idCol: String,
      qVec: Array[Float], topN: Int): DataFrame = {
    val dd = array_distance_sq(toFloatVec(col(vecCol)), floatVec(qVec.toSeq))
    val top = df.select(col(idCol).cast(LongType).as("id"), dd.as("__dd"))
      .orderBy(col("__dd"), col("id"))
      .limit(topN)
    rankOrdered(top, "_vector_rank", topN)
  }

  /** ANN vector ranks via a named index. */
  def annVectorRanks(spark: SparkSession, indexName: String, qVec: Array[Float],
      topN: Int, searchComplexity: Int = 0): DataFrame = {
    import spark.implicits._
    Ann.collectHits(spark, indexName, qVec, topN, searchComplexity, 1)
      .toSeq.zipWithIndex.map { case ((id, _), i) => (id, i + 1) }
      .toDF("id", "_vector_rank")
  }

  /** RRF fusion of two rank tables → (id, _bm25_rank, _vector_rank,
   *  _rrf_score) desc, top-k. Missing ranks surface as 0 and contribute
   *  nothing (reference :1091-1106). Both tables are collected (every rank
   *  builder above returns a LocalRelation bounded by the candidate budget,
   *  whose collect launches no job) and the ≤ 2·budget rows fuse on the
   *  driver into a LocalRelation: a single LocalTableScan instead of a
   *  full-outer SortMergeJoin behind two exchanges. The score adds the two
   *  doubles in the oracle's order, so it is bit-identical to it. */
  def rrfFuse(bm25: DataFrame, vector: DataFrame, k: Int,
      bm25Weight: Double = DefaultBm25Weight,
      vectorWeight: Double = DefaultVectorWeight): DataFrame = {
    def ranks(df: DataFrame): Array[(Long, Int)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1)))
    val b = ranks(bm25); val v = ranks(vector)
    val bm = b.toMap; val vm = v.toMap
    val fused = (b.map(_._1) ++ v.map(_._1)).distinct.map { id =>
      val br = bm.get(id); val vr = vm.get(id)
      val s = br.map(r => bm25Weight / (RrfK.toDouble + r)).getOrElse(0.0) +
        vr.map(r => vectorWeight / (RrfK.toDouble + r)).getOrElse(0.0)
      Row(id, br.getOrElse(0).toLong, vr.getOrElse(0).toLong, s)
    }.sortBy(r => (-r.getDouble(3), r.getLong(0))).take(k)
    bm25.sparkSession.createDataFrame(java.util.Arrays.asList(fused: _*), StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("_bm25_rank", LongType, nullable = false),
      StructField("_vector_rank", LongType, nullable = false),
      StructField("_rrf_score", DoubleType, nullable = false))))
  }

  /** Full hybrid search over a table carrying both a text and a vector
   *  column (reference hybrid_search signature). `indexName` empty = exact
   *  vector scan. */
  def hybridSearch(df: DataFrame, textCol: String, vecCol: String, idCol: String,
      qText: String, qVec: Array[Float], k: Int = 10,
      bm25Weight: Double = DefaultBm25Weight, vectorWeight: Double = DefaultVectorWeight,
      bm25Candidates: Int = 100, vectorCandidates: Int = 100,
      indexName: String = "", searchComplexity: Int = 0): DataFrame = {
    val terms = queryTerms(qText)
    val bm25 = bm25Ranks(df, textCol, idCol, terms, bm25Candidates)
    val vec =
      if (indexName.nonEmpty)
        annVectorRanks(df.sparkSession, indexName, qVec, vectorCandidates, searchComplexity)
      else exactVectorRanks(df, vecCol, idCol, qVec, vectorCandidates)
    rrfFuse(bm25, vec, k, bm25Weight, vectorWeight)
  }

  // --------------------------------------------------------- oracle SQL

  /** DuckDB oracle for the exact-vector hybrid search over
   *  documents ⋈ embeddings (same formulas, same literals). */
  def oracleSql(qText: String, qVecSql: String, k: Int,
      bm25Candidates: Int = 100, vectorCandidates: Int = 100): String = {
    val terms = queryTerms(qText)
    val tf = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, x -> x = '$t'))::DOUBLE AS tf$i"
    }.mkString(",\n    ")
    val dfSel = terms.zipWithIndex.map { case (t, i) =>
      s"(SELECT count(*)::DOUBLE FROM tok WHERE list_contains(toks, '$t')) AS df$i"
    }.mkString(",\n    ")
    val score = terms.indices.map { i =>
      s"(tf$i * ($K1 + 1)) / (tf$i + $K1 * ((1.0 - $B) + $B * dl / avgdl)) * " +
      s"ln((n_docs - df$i + 0.5) / (df$i + 0.5) + 1.0)"
    }.mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id AS id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |  FROM documents
       |),
       |stats AS (
       |  SELECT count(*)::DOUBLE AS n_docs, avg(len(toks)) AS avgdl,
       |    $dfSel
       |  FROM tok
       |),
       |scored AS (
       |  SELECT id, $score AS s
       |  FROM (SELECT id, len(toks)::DOUBLE AS dl,
       |    $tf
       |    FROM tok), stats
       |),
       |bm25 AS (
       |  SELECT id, rnk AS bm25_rank FROM (
       |    SELECT id, row_number() OVER (ORDER BY s DESC, id) AS rnk
       |    FROM scored WHERE s > 0) WHERE rnk <= $bm25Candidates
       |),
       |vec AS (
       |  SELECT id, rnk AS vector_rank FROM (
       |    SELECT vec_id AS id, row_number() OVER (
       |      ORDER BY ${d2("embedding", qVecSql)}, vec_id) AS rnk
       |    FROM embeddings) WHERE rnk <= $vectorCandidates
       |)
       |SELECT coalesce(bm25.id, vec.id) AS id,
       |  coalesce(bm25_rank, 0)::BIGINT AS _bm25_rank,
       |  coalesce(vector_rank, 0)::BIGINT AS _vector_rank,
       |  (CASE WHEN bm25_rank IS NOT NULL THEN $DefaultBm25Weight / (${RrfK}::DOUBLE + bm25_rank) ELSE 0.0 END
       |   + CASE WHEN vector_rank IS NOT NULL THEN $DefaultVectorWeight / (${RrfK}::DOUBLE + vector_rank) ELSE 0.0 END)
       |   AS _rrf_score
       |FROM bm25 FULL OUTER JOIN vec ON bm25.id = vec.id
       |ORDER BY _rrf_score DESC, id LIMIT $k""".stripMargin
  }

  private def d2(vecExpr: String, qExpr: String): String =
    s"list_sum(list_transform($vecExpr::DOUBLE[], (x, i) -> (x - ($qExpr)[i]) * (x - ($qExpr)[i])))"
}
