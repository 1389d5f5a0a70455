package graft.text

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Route

/**
 * Text-analysis + near-duplicate operators for large-scale training-data
 * pipelines, layered over the same engine as the ANN core (north-star ops
 * per BASELINE.md; the reference itself delegates all text work to its host
 * engine, so these are Spark-native designs, not ports).
 *
 * The distributed plans here are compositions of `org.apache.spark.sql.functions`
 * and compiled text kernels — whole-stage-codegen'd, no UDFs. Their near-dup
 * shuffles are the LSH band-bucket exchanges, the 100 TB-safe shape
 * (candidates per band bucket, never an all-pairs product). Small inputs take
 * the driver-local versions [[graft.core.Route]] picks: one narrow collect
 * finished on the driver, or a driver union-find for [[connectedComponents]].
 *
 * All hashing is modular integer arithmetic (base/mod constants below), so
 * results are engine-independent and bit-exactly reproducible in the DuckDB
 * oracle (see [[TextSql]] which generates the equivalent SQL from the SAME
 * constants).
 */
object TextOps {

  /** Rolling-hash modulus (prime, < 2^30 so a*h fits in a signed 64-bit). */
  val HashMod = 1000000007L
  /** Char-level rolling hash base. */
  val HashBase = 31L
  /** Band-combine base for minhash band signatures. */
  val BandBase = 1000003L

  /** MinHash signature size / LSH banding (8 bands × 4 rows ⇒ candidate
   *  threshold ≈ (1/8)^(1/4) ≈ 0.6 Jaccard). */
  val NumHashes = 32
  val BandRows = 4
  val NumBands: Int = NumHashes / BandRows

  /** Deterministic per-hash-function affine params (a_j, b_j), j = 0..n-1. */
  /** Per-hash-function (a_j, b_j) for the minhash family
   *  `(h·a_j + b_j) mod HashMod`. The constants are derived with a
   *  splitmix64-style finalizer so the functions are pairwise-uncorrelated:
   *  an earlier LINEAR-in-j family (`a_j = 1299721·(j+1)`) made the 32 rows
   *  co-move — when a doc's unique shingle hashed low under one function it
   *  hashed low under many, so near-dup docs could diverge from their
   *  cluster in ALL bands at once and lose every candidate pair (observed:
   *  a 150-doc clique at Jaccard 0.93 left members with zero candidates).
   *  Values are plain Long constants, embedded identically into the DuckDB
   *  oracle SQL by [[TextSql]]. */
  def hashParams(n: Int): Seq[(Long, Long)] = {
    def mix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    (0 until n).map { j =>
      (java.lang.Math.floorMod(mix(2L * j), HashMod - 1) + 1,
        java.lang.Math.floorMod(mix(2L * j + 1), HashMod))
    }
  }

  /** SimHash width in bits (< 31 so per-bit sums stay in int range and the
   *  token hash, < HashMod < 2^30, covers every bit). */
  val SimHashBits = 30

  // ------------------------------------------------------------- tokenizing

  /** Lowercase word tokens (`[a-z0-9]+`). */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Fused per-document term frequencies over the same tokens:
   *  `array<struct<term, term_freq>>` in one compiled pass
   *  (graft.expressions.TermCounts) — exploding this yields one row per
   *  DISTINCT (doc, term), not per token occurrence. */
  def termCountsCol(text: Column): Column =
    graft.functions.mkCol(graft.expressions.TermCounts(graft.functions.mkExpr(text)))

  /** BPE-ish token count: alphanumeric runs + individual punctuation marks. */
  def tokenCountRegex(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
      .cast(LongType)

  // ---------------------------------------------------------- fingerprinting

  /** Char-level polynomial rolling hash of a string: h ← (h·B + code) mod P.
   *  The document-fingerprint primitive; also the shingle hash. Backed by a
   *  codegen'd expression (graft.expressions.RollingHash) — the equivalent
   *  aggregate∘transform∘split formulation runs interpreted and dominated
   *  profiles. */
  def rollingHash(s: Column): Column =
    graft.functions.mkCol(graft.expressions.RollingHash(graft.functions.mkExpr(s)))

  // ------------------------------------------------------------------ lang id

  /** Stopword sets for the language-ID heuristic (function words that are
   *  near-unique per language). Checked in fixed order; first max wins. */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf"),
    "es" -> Seq("el", "los", "las", "una", "es", "y", "que", "por", "con"),
    "fr" -> Seq("le", "les", "des", "est", "et", "que", "pour", "dans", "une"))

  /** n-gram/stopword language ID: count stopword hits per language over the
   *  token stream (with multiplicity); predict the first language (in
   *  [[LangStopwords]] order) achieving the max count, or "und" when no
   *  stopword matched at all. */
  /** Compiled stopword-hit count (with multiplicity) over a token array —
   *  count-identical to `size(filter(toks, _.isInCollection(words)))`, one
   *  fused pass instead of per-element interpreted HOF dispatch. */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    graft.functions.mkCol(graft.expressions.StopwordHits(
      graft.functions.mkExpr(toks), words))

  def langId(toks: Column): Column = {
    val counts = LangStopwords.map { case (lang, words) =>
      lang -> stopwordHits(toks, words)
    }
    val maxCount = greatest(counts.map(_._2): _*)
    val chain = counts.foldRight(lit("und")) { case ((lang, c), els) =>
      when(c === maxCount, lit(lang)).otherwise(els)
    }
    when(maxCount === 0L, lit("und")).otherwise(chain)
  }

  // ------------------------------------------------------------ quality score

  /** Document quality heuristics → (n_chars, n_tokens, mean_token_len,
   *  stopword_ratio, punct_ratio, score). Fixed-order double arithmetic so
   *  the oracle reproduces bit-identical values. */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nChars = length(text).cast(LongType)
    val nToks = size(toks).cast(LongType)
    // fused integer counts (TokenLenSum / StopwordHits) — the double
    // arithmetic below is unchanged, so values stay bit-identical to the
    // interpreted aggregate/filter formulation and the DuckDB oracle
    val sumTokLen = graft.functions.mkCol(graft.expressions.TokenLenSum(
      graft.functions.mkExpr(toks)))
    val meanLen = when(nToks > 0, sumTokLen.cast(DoubleType) / nToks.cast(DoubleType))
      .otherwise(lit(0.0))
    val enStop = LangStopwords.head._2
    val stopRatio = when(nToks > 0,
      stopwordHits(toks, enStop).cast(DoubleType)
        / nToks.cast(DoubleType)).otherwise(lit(0.0))
    val nPunct = size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0)))
      .cast(LongType)
    val punctRatio = when(nChars > 0,
      nPunct.cast(DoubleType) / nChars.cast(DoubleType)).otherwise(lit(0.0))
    val score =
      least(nToks.cast(DoubleType) / lit(100.0), lit(1.0)) * 0.25 +
      stopRatio * 0.25 +
      (lit(1.0) - punctRatio) * 0.25 +
      least(meanLen / lit(8.0), lit(1.0)) * 0.25
    Seq(
      "n_chars" -> nChars, "n_tokens" -> nToks, "mean_token_len" -> meanLen,
      "stopword_ratio" -> stopRatio, "punct_ratio" -> punctRatio,
      "quality" -> score)
  }

  /** Gopher-style repetition quality signals (Rae et al. 2021, §A1.1 of the
   *  Gopher paper; the MassiveText filters): per document, the fraction of
   *  n-gram occurrences claimed by the most frequent n-gram and by n-grams
   *  appearing more than once. High values flag boilerplate/spam that the
   *  length/stopword signals in [[qualityColumns]] miss. One fused
   *  [[graft.expressions.NgramRepetition]] pass per (doc, n) — no explode,
   *  no shuffle, trivially partition-parallel at any corpus size; each
   *  fraction is ONE double division of exact longs, so a SQL oracle
   *  computing the same counts reproduces it bit-exactly. */
  def repetitionColumns(text: Column): Seq[(String, Column)] = {
    def stats(n: Int): Column =
      graft.functions.mkCol(graft.expressions.NgramRepetition(
        graft.functions.mkExpr(text), n))
    val bi = stats(2)
    val five = stats(5)
    def frac(st: Column, f: String): Column =
      when(st.getField("total") > 0,
        st.getField(f).cast(DoubleType) / st.getField("total").cast(DoubleType))
        .otherwise(lit(0.0))
    Seq(
      "top_bigram_frac" -> frac(bi, "max_count"),
      "dup_bigram_frac" -> frac(bi, "dup_count"),
      "dup_5gram_frac" -> frac(five, "dup_count"))
  }

  /** The curation gate verdict ("lang" / "quality" / "repetitive" / NULL)
   *  in one compiled pass — see [[graft.expressions.GateReason]]. Language
   *  order and stopword sets are [[LangStopwords]]; quality and repetition
   *  arithmetic match [[qualityColumns]] / [[repetitionColumns]] bit-
   *  exactly (CurateSpec parity test). */
  def gateReason(text: Column, langs: Set[String], minQuality: Double,
      maxDupBigramFrac: Double): Column =
    graft.functions.mkCol(graft.expressions.GateReason(
      graft.functions.mkExpr(text), LangStopwords,
      langs.toSeq.sorted, minQuality, maxDupBigramFrac))

  /**
   * Gopher-style rule report (Rae et al. 2021, MassiveText §A1.1): the
   * classic per-document heuristic gates — word-count bounds, mean word
   * length bounds, symbol-to-word ratio, fraction of words containing an
   * alphabetic character, and a minimum stopword count — each surfaced as
   * its measured signal plus a single `passes` conjunction. One codegen
   * projection per row, no shuffle: pushes to the scan at any corpus size.
   * All ratios are single double divisions of exact integer counts, so a
   * SQL oracle reproduces them bit-exactly.
   */
  def gopherRules(df: DataFrame, textCol: String, idCol: String,
      minWords: Long = 50L, maxWords: Long = 100000L,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
      minStopwords: Long = 2L): DataFrame = {
    val toks = tokens(col(textCol))
    val nW = size(toks).cast(LongType)
    val sumLen = graft.functions.mkCol(graft.expressions.TokenLenSum(
      graft.functions.mkExpr(toks)))
    val meanLen = when(nW > 0,
      sumLen.cast(DoubleType) / nW.cast(DoubleType)).otherwise(lit(0.0))
    val nSym = size(regexp_extract_all(col(textCol),
      lit("[^A-Za-z0-9\\s]"), lit(0))).cast(LongType)
    val symR = when(nW > 0,
      nSym.cast(DoubleType) / nW.cast(DoubleType)).otherwise(lit(0.0))
    // tokens are [a-z0-9]+, so "has an alphabetic char" = matches [a-z]
    val nAlpha = size(filter(toks, t => t.rlike("[a-z]"))).cast(LongType)
    val alphaFrac = when(nW > 0,
      nAlpha.cast(DoubleType) / nW.cast(DoubleType)).otherwise(lit(0.0))
    val nStop = stopwordHits(toks, LangStopwords.head._2)
    df.select(col(idCol),
      nW.as("n_words"),
      meanLen.as("mean_word_len"),
      symR.as("symbol_ratio"),
      alphaFrac.as("alpha_word_frac"),
      nStop.as("n_stopwords"),
      (nW >= minWords && nW <= maxWords &&
        meanLen >= minMeanLen && meanLen <= maxMeanLen &&
        symR <= maxSymbolRatio && alphaFrac >= minAlphaFrac &&
        nStop >= minStopwords).as("passes"))
  }

  /**
   * Fixed-token-budget training chunks with overlap — the step that turns
   * variable-length documents into model-sized pieces (a sliding window of
   * `budget` tokens advancing by `budget - overlap`; the final chunk is
   * whatever remains, never empty). Emits one row per chunk:
   * `(id, chunk_idx, tok_start, n_tok, chunk_text)` with 0-based token
   * offsets. Pure per-row sequence arithmetic + explode — no shuffle, and
   * chunk counts are exact integers, so the SQL oracle replays it
   * bit-identically.
   */
  def chunkDocuments(df: DataFrame, textCol: String, idCol: String,
      budget: Int, overlap: Int = 0): DataFrame = {
    require(budget > 0 && overlap >= 0 && overlap < budget,
      s"need 0 <= overlap < budget, got budget=$budget overlap=$overlap")
    // one compiled pass (graft.expressions.ChunkSpans): lower → tokenize →
    // per-chunk span join. The previous transform(sequence(...),
    // i -> struct(..., array_join(slice(toks, ...)))) formulation ran
    // interpreted per element (transform/slice/array_join are
    // CodegenFallback) and re-sliced the token array per chunk — the
    // dominant per-row cost of chunk emission. Struct values are
    // bit-identical (TextOpsSpec parity test), including the degenerate
    // (0,0,0,"") chunk of a token-less document the filter below drops.
    val chunks = graft.functions.mkCol(graft.expressions.ChunkSpans(
      graft.functions.mkExpr(col(textCol)), budget, overlap))
    df.select(col(idCol), explode(chunks).as("__c"))
      .where(col("__c.n_tok") > 0) // a token-less document has no chunks
      .select(col(idCol), col("__c.chunk_idx"), col("__c.tok_start"),
        col("__c.n_tok"), col("__c.chunk_text"))
  }

  /**
   * DSIR-style importance weights (Xie et al. 2023, "Data Selection for
   * Language Models via Importance Resampling"): hash each document's
   * bigrams into `dim` buckets, estimate the target (eval) and raw bucket
   * distributions from occurrence counts, and score every document by the
   * add-one-smoothed target/raw count RATIO summed over its features in
   * order. (The paper sums log-ratios; the ratio sum is used here so the
   * score is a fixed-order sum of exact integer divisions — bit-exact
   * across engines, where `ln` is not.) Output: (id, n_feats, w_sum).
   *
   * Shape at 100 TB: one explode→groupBy whose map-side combine collapses
   * every partition to ≤ dim rows, one single-row cross join broadcasting
   * the dense ratio table back, and a per-row fold — no driver collect,
   * no per-document join.
   */
  def dsirWeights(df: DataFrame, textCol: String, idCol: String,
      evalPred: Column => Column, dim: Int = 256): DataFrame = {
    require(dim > 0, "dim must be positive")
    val toks = tokens(col(textCol))
    val feats = transform(ngramsCol(toks, 2),
      g => rollingHash(g) % dim)
    val base = df.select(col(idCol).cast(LongType).as("id"),
      feats.as("__feats"))
    // explode_OUTER + null drop ≡ inner explode row-for-row, but the inner
    // generate's inferred size(__feats) > 0 filter pushed the ENTIRE
    // interpreted ngrams→rollingHash transform tree into a scan-level
    // Filter below the projection that computes it (the bandTable
    // pathology) — every row paid the feature kernel twice to pre-drop
    // rows the explode drops for free
    val flagged = base.select(evalPred(col("id")).as("__ev"),
      explode_outer(col("__feats")).as("__b"))
      .where(col("__b").isNotNull)
    val counts = flagged.groupBy("__b").agg(
      sum(when(col("__ev"), 1L).otherwise(0L)).as("__tc"),
      sum(when(!col("__ev"), 1L).otherwise(0L)).as("__rc"))
    // dense dim-length ratio list (absent bucket → (0+1)/(0+1) = 1.0)
    val ratioRow = counts
      .agg(map_from_entries(collect_list(struct(col("__b"),
        ((col("__tc") + 1L).cast(DoubleType) /
          (col("__rc") + 1L).cast(DoubleType))))).as("__m"))
      .select(transform(sequence(lit(0L), lit(dim - 1L)),
        i => coalesce(element_at(col("__m"), i), lit(1.0))).as("__rl"))
    base.crossJoin(ratioRow)
      .select(col("id"), size(col("__feats")).cast(LongType).as("n_feats"),
        aggregate(col("__feats"), lit(0.0), (acc, b) =>
          acc + element_at(col("__rl"), (b + 1L).cast(IntegerType)))
          .as("w_sum"))
  }

  /**
   * Exact blocklist dedup with a Bloom pre-filter — drop every row whose
   * text content (by rolling-hash fingerprint) appears in `block`. The
   * 100 TB shape: a plain anti-join would shuffle the ENTIRE corpus on the
   * fingerprint; instead a driver-built Bloom filter over the (much
   * smaller) blocklist broadcasts to every task, rows it rejects pass
   * through with NO shuffle at all, and only the candidate sliver (true
   * hits + fpp false positives) pays the exact anti-join that removes
   * Bloom false positives. Results are therefore EXACT — the Bloom filter
   * only routes rows, it never decides membership alone.
   */
  def blocklistAntiJoin(df: DataFrame, textCol: String, idCol: String,
      block: DataFrame, blockTextCol: String, fpp: Double = 0.01): DataFrame = {
    // Opaque pins __fp's evaluation in THIS projection: the Bloom routing
    // filters below reference __fp, and pushdown otherwise substitutes
    // rolling_hash(text) into the scan-level Filter where the UDF's
    // null-safety wrapper references it twice and FilterExec does no
    // subexpression elimination — every row hashed its text 2× per branch
    def opq(c: Column): Column = graft.functions.mkCol(
      graft.expressions.Opaque(graft.functions.mkExpr(c)))
    val fpDf = df.withColumn("__fp", opq(rollingHash(col(textCol))))
    // Opaque on the blocklist side too: the anti-join infers
    // isnotnull(__bfp), which otherwise re-hashes every blocklist row at
    // its scan below this projection
    val blockFp = block.select(opq(rollingHash(col(blockTextCol))).as("__bfp"))
    // an EMPTY blocklist drops nothing — and Spark's bloomFilter aggregate
    // NPEs on zero rows, so the guard is correctness, not just a shortcut
    if (blockFp.isEmpty) return df
    // size the Bloom from JOIN-SAFE plan statistics instead of an exact
    // count() — one fewer Spark job, and over/under-sizing only moves the
    // FP rate (FPs are removed by the exact anti-join either way, so
    // results are unchanged). scanBoundedSizeEstimate keeps a derived
    // block plan (joins inflate Catalyst stats multiplicatively) from
    // ballooning the expected-item count into a multi-hundred-MB filter;
    // the 2^26 cap bounds the broadcast at ~80 MB even then.
    val stats = block.queryExecution.optimizedPlan.stats
    val estRows = stats.rowCount.map(_.toLong)
      .getOrElse((scanBoundedSizeEstimate(block) / 64)
        .min(BigInt(Long.MaxValue)).toLong)
    val bloom = blockFp.stat.bloomFilter("__bfp",
      math.min(1L << 26, math.max(1024L, estRows)), fpp)
    val bloomB = df.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((fp: Long) => bloomB.value.mightContainLong(fp))
    // NULL text → NULL fingerprint → the UDF yields NULL, which fails BOTH
    // branches; route NULL fingerprints into the clean branch explicitly
    // (an equi anti-join never matches on NULL keys, so they are kept)
    val clean = fpDf.where(col("__fp").isNull || !mightContain(col("__fp")))
    val candidates = fpDf.where(col("__fp").isNotNull && mightContain(col("__fp")))
      .join(blockFp, col("__fp") === col("__bfp"), "left_anti")
    clean.unionByName(candidates).drop("__fp")
  }

  /** Per-document distinctive terms — the exact-arithmetic cousin of TF-IDF
   *  keyword extraction: rank a document's terms by (document frequency ASC,
   *  term frequency DESC, term ASC) and keep the top `k`. Pure integer/string
   *  ordering, so the ranking is bit-reproducible in any engine (float IDF
   *  logs would differ in the last ulp across libm implementations and break
   *  hash-compare). One explode + two aggregations; the doc-frequency table
   *  is vocabulary-sized (Heaps' law: ≪ corpus), and the per-document
   *  row_number window shuffles on the id — both scale-safe. */
  def rareTerms(df: DataFrame, textCol: String, idCol: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val termCounts = termCountsCol(col(textCol))
    // driver route: one narrow job evaluates the SAME fused TermCounts
    // expression, the df/rank bookkeeping runs on the driver
    val projected = df.select(col(idCol), col(textCol))
    if (Route.local(df.sparkSession, "text.rareTerms", scanBoundedSizeEstimate(projected)))
      return rareTermsLocal(projected, idCol, k)
    // fused per-doc term counting: the token explosion never materializes
    // and (doc, term) needs no shuffle — the explode below is partition-local
    val tf = df
      .select(col(idCol), explode(termCounts).as("tc"))
      .select(col(idCol), col("tc.term").as("term"), col("tc.term_freq").as("term_freq"))
    // tf is unique per (doc, term) → doc frequency = row count per term;
    // vocabulary-sized (Heaps' law, ≪ corpus) — but NOT forced broadcast:
    // this branch only runs above the local gate, where a web-scale
    // vocabulary (10^8+ tokens) could OOM the driver; AQE converts the join
    // to broadcast at runtime from docFreq's ACTUAL size when it is small
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("doc_freq"), col("term_freq").desc, col("term"))
    tf.join(docFreq, "term")
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .where(col("rnk") <= k)
      .select(col(idCol), col("term"), col("doc_freq"), col("term_freq"), col("rnk"))
  }

  /** Driver-local rare-term ranking over collected (id, text) rows — same
   *  token-count kernel as the TermCounts expression (shared static, lowered
   *  via UTF8String for identical unicode case mapping) and the same integer
   *  ordering (doc_freq asc, term_freq desc, term asc; unique per term so
   *  ties cannot flip) → bit-identical to the distributed window plan. */
  private def rareTermsLocal(projected: DataFrame, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.unsafe.types.UTF8String
    val spark = projected.sparkSession
    val rows = projected.collect()
    val n = rows.length
    val perDoc = new Array[java.util.LinkedHashMap[String, Array[Long]]](n)
    graft.core.ParChunks.foreach(n) { (_, s, e) =>
      var i = s
      while (i < e) {
        val t = rows(i).get(1)
        if (t != null) perDoc(i) = graft.expressions.TermCounts.count(
          UTF8String.fromString(t.asInstanceOf[String]).toLowerCase.toString)
        i += 1
      }
    }
    // doc frequency: docs containing each term (per-doc keys are distinct)
    val docFreq = new java.util.HashMap[String, Array[Long]]()
    perDoc.foreach { tc =>
      if (tc != null) tc.keySet().forEach { term =>
        val c = docFreq.get(term)
        if (c == null) docFreq.put(term, Array(1L)) else c(0) += 1L
      }
    }
    // emit pre-encoded InternalRows through the shim: no per-action Row
    // re-encoding and a single-partition scan for the downstream sort/limit
    val idType = projected.schema.head.dataType
    def internalId(v: Any): Any = idType match {
      case StringType => UTF8String.fromString(v.asInstanceOf[String])
      case _ => v // numeric ids are already internal-format
    }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.catalyst.InternalRow]
    out.sizeHint(n * k)
    var d = 0
    while (d < n) {
      val tc = perDoc(d)
      if (tc != null && !tc.isEmpty) {
        val terms = new Array[(String, Long)](tc.size)
        val it = tc.entrySet().iterator()
        var j = 0
        while (it.hasNext) {
          val en = it.next(); terms(j) = (en.getKey, en.getValue()(0)); j += 1
        }
        val ranked = terms.sortBy { case (term, tf) => (docFreq.get(term)(0), -tf, term) }
        val id = internalId(rows(d).get(0))
        var i = 0
        val top = math.min(k, ranked.length)
        while (i < top) {
          val (term, tf) = ranked(i)
          val r = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(5)
          r.update(0, id); r.update(1, UTF8String.fromString(term))
          r.update(2, docFreq.get(term)(0)); r.update(3, tf)
          r.update(4, (i + 1).toLong)
          out += r
          i += 1
        }
      }
      d += 1
    }
    val schema = StructType(Seq(
      projected.schema.head.copy(name = idCol),
      StructField("term", StringType), StructField("doc_freq", LongType),
      StructField("term_freq", LongType), StructField("rnk", LongType)))
    org.apache.spark.sql.graftshim.GraftShim.internalCreateDataFrame(spark,
      spark.sparkContext.parallelize(out.toSeq, 1), schema)
  }

  // --------------------------------------------------------------- simhash

  /** SimHash over token hashes: per bit b, sum ±1 across tokens (with
   *  multiplicity) by bit b of the token's rolling hash; bit set iff sum>0.
   *  One compiled pass (graft.expressions.SimHash) — the per-bit aggregate
   *  formulation re-evaluated the token-hash array once per bit. */
  def simhash(toks: Column): Column =
    graft.functions.mkCol(graft.expressions.SimHash(graft.functions.mkExpr(toks), SimHashBits))

  // ------------------------------------------------------- minhash + LSH

  /** k-token shingle strings (space-joined); whole doc when < k tokens. */
  def shingles(toks: Column, k: Int = 3): Column =
    when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => array_join(slice(toks, i, lit(k)), " ")))
    .otherwise(array(array_join(toks, " ")))

  /** Distinct shingle hashes for a document — one compiled pass
   *  (graft.expressions.ShingleHashes), set-identical to
   *  array_distinct(transform(shingles(toks,k), rollingHash)) and SORTED
   *  ascending (the Jaccard verify stage merge-counts intersections). */
  def shingleHashes(toks: Column, k: Int = 3): Column =
    graft.functions.mkCol(graft.expressions.ShingleHashes(graft.functions.mkExpr(toks), k))

  /** MinHash signature (array of NumHashes longs) over distinct shingle
   *  hashes: min_j over shingles of (a_j·h + b_j) mod P. */
  def minhashSignature(shingleHs: Column): Column =
    array(hashParams(NumHashes).map { case (a, b) =>
      array_min(transform(shingleHs, h => (h * a + b) % HashMod))
    }: _*)

  /** LSH band hashes: fold each band's rows with the band base, mod P. */
  def bandHashes(sig: Column): Column =
    array((0 until NumBands).map { band =>
      (0 until BandRows).foldLeft(lit(0L): Column) { (acc, r) =>
        (acc * BandBase + element_at(sig, band * BandRows + r + 1)) % HashMod
      }
    }: _*)

  // -------------------------------------------------- DataFrame-level ops

  /** Per-doc signature table: (id, shingle hashes, minhash sig, band hashes).
   *
   *  A pure PROJECTION: all 32 minhashes come from one compiled pass over
   *  the shingle-hash array ([[graft.expressions.MinhashSig]] — value-
   *  identical to the `min((h·a_j+b_j) % P)` aggregate formulation, pinned
   *  by MinhashSigParitySpec), and the band hashes fold the sig array.
   *  No explode, no groupBy, no join — the previous explode→agg(id)→
   *  join-back shape shuffled one row per (doc, shingle) and re-joined the
   *  corpus by id, the two largest stages of the 1000× dedup smoke. As a
   *  projection it also column-prunes per consumer: the Jaccard verify
   *  branches read only (id, shingles) and never pay the minhash compute.
   *  `carry` columns (name, expr) ride along after `shingles`. */
  def signatures(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, carry: Seq[(String, Column)] = Nil): DataFrame = {
    val toks = tokens(col(textCol))
    val sh = shingleHashes(toks, shingleK)
    df.select(col(idCol).as("id") +: sh.as("shingles") +:
        carry.map { case (n, c) => c.as(n) }: _*)
      .withColumn("sig", graft.functions.mkCol(graft.expressions.MinhashSig(
        graft.functions.mkExpr(col("shingles")), NumHashes)))
      .withColumn("bands", bandHashes(col("sig")))
  }

  /** Exploded band table (id, band_idx, band_hash) — the LSH join key.
   *
   *  posexplode_OUTER, deliberately: `bands` is a literal NumBands-element
   *  array (never empty), so outer ≡ inner row-for-row — but the inner
   *  generate lets Catalyst's InferFiltersFromGenerate plant a
   *  `size(bands) > 0` filter that pushdown substitutes all the way to the
   *  parquet scan, re-materializing the full regex→shingle→minhash band
   *  expression tree in a Filter BELOW the projection that computes it.
   *  That doubled the per-row signature kernel (the dominant map-side cost
   *  of every minhash entry) for a filter that can never drop a row; the
   *  outer generate infers nothing and keeps the kernel evaluated once. */
  def bandTable(sigs: DataFrame): DataFrame =
    sigs.select(col("id"), posexplode_outer(col("bands")).as(Seq("band_idx", "band_hash")))

  /** Candidate near-dup pairs (id_a < id_b) sharing ≥ 1 LSH band, with the
   *  number of matching bands. The shuffle is on (band_idx, band_hash) —
   *  never an all-pairs product — but a band BUCKET is still a clique: a
   *  duplicate cluster of k copies (mirrored boilerplate, template spam)
   *  puts k members in the same bucket and the self-join emits k²/2 pairs,
   *  all of which the Jaccard verify stage then scores. That quadratic is
   *  what made the 100× smoke grow 5.1× for 3.33× data and concentrated one
   *  bucket's clique into a single straggler task.
   *
   *  Buckets at or under `spark.graft.neardup.bucketCliqueCap` (default 64)
   *  keep the exact clique pairing — the output is bit-identical to the
   *  uncapped shape. Oversized buckets switch to LINEAR chain+anchor
   *  pairing over the bucket's id order: each member pairs with its
   *  P = 8 immediate id-order predecessors plus the A = 8 smallest-id
   *  members ([[capDefaults]]). For a
   *  true duplicate cluster (every pair qualifies) the drop/component
   *  semantics are unchanged — every non-min member still meets a
   *  qualifying smaller partner (its predecessor), and the anchors keep a
   *  false-collision run from hiding the bucket minimum — while emitted
   *  pairs grow as k·(P+A) instead of k². `n_bands` counts the bands in
   *  which a pair was EMITTED (identical to before for pairs seen only in
   *  capped-size buckets). Set the cap to 0 to disable.
   *
   *  Plan shape: ONE exchange on the bucket key + one in-bucket sort.
   *  Every member's partners come from window columns over that sort —
   *  a sliding collect_list of the last max(cap, P) predecessor ids
   *  (which for a ≤-cap bucket is the member's ENTIRE clique) and A
   *  nth_value anchor columns — so per-row state is O(cap) no matter how
   *  large a bucket gets, and the pairs explode in place. An earlier
   *  formulation realized the same pair sets with a bucket self-join
   *  (small) plus a rank-keyed explode-join (large); those re-shuffled
   *  and re-sorted the full emitted-pair volume — ~640M rows at the
   *  1000× smoke — and were the dominant cost of the dedup pipeline
   *  (NeardupCapSpec pins the join-shape ≡ window-shape equivalence).
   */
  def candidatePairs(sigs: DataFrame): DataFrame =
    bucketPartners(sigs)
      .select(explode(col("__partners")).as("id_a"), col("id").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_bands"))

  /** Default (cap, chain-predecessor, anchor) values — the single source
   *  for [[capKnobs]] and the `lsh_cap_audit` oracle's closed-form CASE
   *  (SparkEntry generates the SQL from these so a changed default can
   *  never silently desync operator from oracle). Only the cap is a
   *  session conf. */
  val capDefaults: (Int, Int, Int) = (64, 8, 8)

  /** The (cap, chain-predecessor, anchor) triple candidatePairs uses: the
   *  session's `spark.graft.neardup.bucketCliqueCap` plus the fixed chain
   *  and anchor counts. Public so the `lsh_cap_audit` query can assert its
   *  oracle (generated from [[capDefaults]]) matches the session. */
  def capKnobs(spark: org.apache.spark.sql.SparkSession): (Int, Int, Int) =
    capDefaults.copy(_1 = spark.conf.getOption("spark.graft.neardup.bucketCliqueCap")
      .map(_.toInt).getOrElse(capDefaults._1))

  /** DuckDB SQL expression for the pre-dedup pair count a bucket of `n`
   *  members emits under knobs (cap, p, a): full clique n·(n−1)/2 at or
   *  below the cap; above it, rank r ≤ p+a keeps all r−1 smaller ids
   *  (chain+anchor frames are contiguous there) and every later rank emits
   *  exactly p+a partners — Σ = C(p+a,2) + (p+a)·(n−(p+a)). Requires
   *  cap ≥ p+a so the closed form's two regimes meet below the cap. */
  def capEmittedCaseSql(cap: Int, p: Int, a: Int): String = {
    val m = p + a
    require(cap >= m, s"closed form needs cap >= p+a ($cap < $m)")
    s"CASE WHEN n <= $cap THEN n * (n - 1) // 2 " +
      s"ELSE ${m * (m - 1) / 2} + $m * (n - $m) END"
  }

  /** Per band-bucket member: bucket size `__n` and the exact partner-id
   *  array the pairing emits (clique below the cap, chain+anchor above) —
   *  candidatePairs explodes it; [[lshBucketStats]] audits its mass. */
  private def bucketPartners(sigs: DataFrame): DataFrame = {
    val spark = sigs.sparkSession
    val (cap0, chainP, anchorA) = capKnobs(spark)
    val bt = bandTable(sigs)
    val W = org.apache.spark.sql.expressions.Window
    val wo = W.partitionBy("band_idx", "band_hash").orderBy(col("id"))
    // bucket size over the ORDERED spec with an explicit unbounded frame:
    // an order-less spec would plan its own (band, hash)-only sort pass
    // before the id-ordered one — same values, one extra sort of the table
    val wn = wo.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    // cap=0 disables the chain route: every bucket keeps its full clique.
    // The sliding predecessor frame must then be unbounded; otherwise it
    // is capped at max(cap, P) rows — O(cap) per-row state even in a
    // million-member bucket.
    val predFrame = if (cap0 <= 0) wo.rowsBetween(W.unboundedPreceding, -1)
      else wo.rowsBetween(-math.max(cap0.toLong, chainP.toLong), -1)
    // window expressions materialize as plain columns first (the analyzer
    // only extracts window calls that sit directly in a projection)
    val ranked = bt
      .withColumn("__n", count(lit(1)).over(wn))
      .withColumn("__preds", collect_list(col("id")).over(predFrame))
      .withColumn("__anchors", array((1 to anchorA).map(j =>
        nth_value(col("id"), j).over(wo)): _*))
    val nPreds = size(col("__preds"))
    // clique: every smaller id (the whole frame). Chain+anchor: the last P
    // frame entries (ranks rn-P..rn-1) ∪ the first A bucket ids strictly
    // below this one (running-frame nth_value; null until rank j exists).
    val partners = if (cap0 <= 0) col("__preds") else {
      when(col("__n") <= cap0, col("__preds"))
        .otherwise(array_distinct(concat(
          slice(col("__preds"), greatest(lit(1), nPreds - (chainP - 1)),
            least(lit(chainP), nPreds)),
          filter(col("__anchors"), p => p.isNotNull && p < col("id")))))
    }
    ranked.select(col("band_idx"), col("band_hash"), col("id"), col("__n"),
      partners.as("__partners"))
  }

  /** Cap audit for the LSH band buckets ([[candidatePairs]]'s clique cap) —
   *  the `ngramBucketStats` treatment for minhash dedup: ONE row of
   *  bucket-population counters so top-octave runtime growth is attributable
   *  to output mass by artifact, not by prose. `buckets_total` /
   *  `buckets_pairful` (≥2 members) / `buckets_over_cap` (clique cap
   *  exceeded → chain+anchor pairing), `clique_pairs` (Σ n·(n−1)/2, what an
   *  uncapped pairing would emit pre-dedup), `emitted_pairs` (what the
   *  capped pairing actually emits pre-dedup, from the REAL partner arrays),
   *  `capped_away_pairs` (the difference — duplicate mass the cap absorbed),
   *  and `max_bucket`. A corpus whose duplication structure exceeds the cap
   *  (giant cliques) shows emitted ≪ clique here; zero over-cap buckets
   *  certifies the output is bit-identical to the uncapped shape. */
  def lshBucketStats(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3): DataFrame = {
    val spark = df.sparkSession
    val (cap0, _, _) = capKnobs(spark)
    val per = bucketPartners(signatures(df, textCol, idCol, shingleK))
      .groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("n"),
        sum(size(col("__partners")).cast(LongType)).as("em"))
    per.agg(
      count(lit(1)).as("buckets_total"),
      coalesce(sum(when(col("n") >= 2L, 1L).otherwise(0L)), lit(0L))
        .as("buckets_pairful"),
      coalesce(sum(when(col("n") > cap0.toLong, 1L).otherwise(0L)), lit(0L))
        .as("buckets_over_cap"),
      coalesce(sum(floor(col("n") * (col("n") - 1L) / 2L).cast(LongType)),
        lit(0L)).as("clique_pairs"),
      coalesce(sum(col("em")), lit(0L)).as("emitted_pairs"),
      coalesce(max(col("n")), lit(0L)).as("max_bucket"))
      .withColumn("capped_away_pairs",
        col("clique_pairs") - col("emitted_pairs"))
  }

  /** Candidate pairs with exact n-gram Jaccard (|A∩B| / |A∪B| over distinct
   *  shingle hashes), keeping pairs ≥ minJaccard.
   *
   *  `carry` — optional per-row columns to ride the verify joins: each
   *  (name, expr) surfaces on the output as `<name>_a` / `<name>_b`
   *  evaluated on the pair's two documents. They travel on the
   *  one-row-per-doc signature sides (NOT through the 8×-exploded band
   *  shuffle), so a caller that needs per-side metadata on the emitted
   *  pairs (dedupVsCorpus's frame flag) gets it for free instead of
   *  re-joining the corpus onto the pair table afterwards.
   *
   *  Driver route: ONE narrow job collects (id, shingles, bands, carry) and
   *  the driver buckets, pairs ([[bucketPartners]]' clique / chain+anchor
   *  rule and knobs), counts `n_bands` and verifies with the same sorted
   *  merge into an eager LocalRelation. Distributed: one window exchange on
   *  the band bucket, one `groupBy` on the pair and two sort-merge verify
   *  joins. The driver route falls back to that plan for an id type other
   *  than BYTE/SHORT/INT/BIGINT (the driver orders ids as longs; no route
   *  event) and, after its event read local, for null or duplicated ids (the
   *  window and joins treat those differently); rows with NULL text form no
   *  pair on either route. */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, minJaccard: Double = 0.0,
      carry: Seq[(String, Column)] = Nil): DataFrame = {
    // no .cache() here: a library-held cache can never be safely unpersisted
    // (the returned plan still references it). sigs is a pure projection,
    // so there is no shared shuffle to cache; callers iterating across
    // actions can cache at the call site.
    val sigs = signatures(df, textCol, idCol, shingleK, carry)
    val carried = carry.map(_._1)
    val local = jaccardPairsLocal(sigs, minJaccard, carried)
    if (local.isDefined) return local.get
    val cands = candidatePairs(sigs)
    // the join sides read (id, shingles, carry) of the same projection —
    // the sig and band columns prune away, so both sides are one scan
    val sa = sigs.select(col("id").as("id_a") +: col("shingles").as("sh_a") +:
      carried.map(n => col(n).as(s"${n}_a")): _*)
    val sb = sigs.select(col("id").as("id_b") +: col("shingles").as("sh_b") +:
      carried.map(n => col(n).as(s"${n}_b")): _*)
    // shingle arrays are sorted (ShingleHashes contract): a codegen'd linear
    // merge counts the intersection without array_intersect's per-pair hash
    // set + output array — the former top cost of the whole dedup pipeline
    val inter = graft.functions.mkCol(graft.expressions.SortedIntersectCount(
      graft.functions.mkExpr(col("sh_a")), graft.functions.mkExpr(col("sh_b"))))
    // default sort-merge for both verify joins — NOT shuffle-hash hints.
    // Theory said hashing the one-row-per-doc signature side would spare
    // the second join its sort of pair rows carrying a shingle array each;
    // measurement said otherwise (300× replica, 2 rounds ×
    // both candidate routes: sort-merge won all 6 comparisons, e.g. 90.6 s
    // vs 159.7 s cold, 54.6 s vs 65.3 s warm). Building 32 concurrent
    // hashed relations of wide array rows costs more than sorting the
    // narrow pair side, and the octave smokes regressed ~20-45% while the
    // hints were in (SCALE{300,1000}_r12 vs _r11 dedup_minhash_keep).
    cands.join(sa, "id_a")
      .join(sb, "id_b")
      .withColumn("n_inter", inter)
      .withColumn("jaccard", col("n_inter").cast(DoubleType) /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")).cast(DoubleType))
      .where(col("jaccard") >= minJaccard)
      .select((Seq("id_a", "id_b", "n_bands", "jaccard") ++
        carried.flatMap(n => Seq(s"${n}_a", s"${n}_b"))).map(col): _*)
  }

  /** The driver route of [[jaccardPairs]] over its signature projection, or
   *  None when the route does not apply (gate exceeded, id type, null or
   *  duplicated ids). Each document's shingles stay in its collected
   *  UnsafeRow as a primitive long array, which the verify hands to
   *  [[graft.expressions.TextHash.sortedIntersectCount]] as is. */
  private def jaccardPairsLocal(sigs: DataFrame, minJaccard: Double,
      carry: Seq[String]): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.graftshim.GraftShim
    val spark = sigs.sparkSession
    val projected = sigs.select((Seq("id", "shingles", "bands") ++ carry).map(col): _*)
    val fields = projected.schema.fields
    val idType = fields(0).dataType
    idType match {
      case ByteType | ShortType | IntegerType | LongType =>
      case _ => return None
    }
    if (!Route.local(spark, "text.jaccardPairs", scanBoundedSizeEstimate(projected)))
      return None
    val rows = GraftShim.collectInternal(projected)
    if (rows.exists(_.isNullAt(0))) return None
    val ids = rows.map(_.get(0, idType).asInstanceOf[Number].longValue)
    val byId = rows.indices.toArray.sortBy(ids(_))
    if ((1 until byId.length).exists(k => ids(byId(k)) == ids(byId(k - 1)))) return None
    // documents in id order; rank in this array is the bucket order
    val docs = byId.filter(i => !rows(i).isNullAt(1)).map(rows(_))
    val m = docs.length
    val (cap, chainP, anchorA) = capKnobs(spark)
    // each emitted (rank_a, rank_b) pair, rank_a < rank_b, packed in a long
    val emitted = new scala.collection.mutable.ArrayBuilder.ofLong
    def emit(a: Int, b: Int): Unit = emitted += a.toLong * m + b
    var band = 0
    while (band < NumBands) {
      val buckets = new java.util.HashMap[java.lang.Long,
        scala.collection.mutable.ArrayBuilder.ofInt]()
      var d = 0
      while (d < m) {
        buckets.computeIfAbsent(docs(d).getArray(2).getLong(band),
          _ => new scala.collection.mutable.ArrayBuilder.ofInt) += d
        d += 1
      }
      buckets.values().forEach { b =>
        val members = b.result() // ascending rank = ascending id
        val n = members.length
        // bucketPartners' rule: a bucket at or under the cap (or cap <= 0)
        // pairs as a clique; above it each member pairs with the first
        // anchorA ids below it and its last chainP predecessors
        val clique = cap <= 0 || n <= cap
        var r = 1
        while (r < n) {
          val anchors = if (clique) r else math.min(anchorA, r)
          var q = 0
          while (q < anchors) { emit(members(q), members(r)); q += 1 }
          q = math.max(anchors, r - chainP)
          while (q < r) { emit(members(q), members(r)); q += 1 }
          r += 1
        }
      }
      band += 1
    }
    // n_bands = the number of buckets that emitted a pair: a run in the sort
    val keys = emitted.result()
    java.util.Arrays.sort(keys)
    def value(r: InternalRow, k: Int): Any =
      if (r.isNullAt(k)) null else r.get(k, fields(k).dataType)
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var i = 0
    while (i < keys.length) {
      var j = i + 1
      while (j < keys.length && keys(j) == keys(i)) j += 1
      val a = docs((keys(i) / m).toInt); val b = docs((keys(i) % m).toInt)
      val sa = a.getArray(1); val sb = b.getArray(1)
      val inter = graft.expressions.TextHash.sortedIntersectCount(sa, sb)
      val jaccard = inter.toDouble / (sa.numElements() + sb.numElements() - inter).toDouble
      if (jaccard >= minJaccard) {
        val row = new GenericInternalRow(4 + 2 * carry.length)
        row.update(0, value(a, 0)); row.update(1, value(b, 0))
        row.update(2, (j - i).toLong); row.update(3, jaccard)
        carry.indices.foreach { c =>
          row.update(4 + 2 * c, value(a, 3 + c))
          row.update(5 + 2 * c, value(b, 3 + c))
        }
        out += row
      }
      i = j
    }
    val schema = StructType(Seq(StructField("id_a", idType, nullable = false),
      StructField("id_b", idType, nullable = false),
      StructField("n_bands", LongType, nullable = false),
      StructField("jaccard", DoubleType, nullable = false)) ++
      carry.indices.flatMap { c =>
        Seq(fields(3 + c).copy(name = s"${carry(c)}_a"),
          fields(3 + c).copy(name = s"${carry(c)}_b"))
      })
    Some(GraftShim.localRelation(spark, out.toSeq, schema))
  }

  /**
   * SimHash near-dup pairs with hamming distance ≤ maxHamming, via the
   * pigeonhole block join: split the SimHashBits into (maxHamming+1)
   * blocks — any pair within the hamming budget must agree EXACTLY on at
   * least one block, so the block-bucket join has perfect recall while
   * joining on equality (never an all-pairs product). Candidates are then
   * verified with the exact popcount. Output: (id_a, id_b, hamming).
   */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 6): DataFrame = {
    require(maxHamming >= 0 && maxHamming < SimHashBits)
    val nBlocks = maxHamming + 1
    // text IS NOT NULL first, then KnownNotNull marks sh non-nullable —
    // true by construction (simhash of a non-null string is never null).
    // With a NULLABLE sh, InferFiltersFromConstraints derived isnotnull(sh)
    // from the self-join below and pushdown substituted the whole
    // tokenize→simhash tree into a Filter at the parquet scan, re-running
    // the kernel per row BELOW the projection that computes it (the
    // bandTable pathology via the constraint rule instead of the generate
    // rule). Null-text rows could never pair across groups anyway — the
    // hamming predicate, like the oracle's WHERE bit_count(...), rejects
    // NULL — so dropping them up front only removes the one unreachable
    // Spark-only artifact (a NULL group's intra pairs the oracle never had).
    val base = df.where(col(textCol).isNotNull)
      .select(col(idCol).cast(LongType).as("id"),
        graft.functions.mkCol(
          org.apache.spark.sql.catalyst.expressions.KnownNotNull(
            graft.functions.mkExpr(simhash(tokens(col(textCol)))))).as("sh"))
    // pair over DISTINCT hashes, not docs: clustered corpora have many
    // identical simhashes, and the block join cost is quadratic in bucket
    // population — grouping first makes it quadratic in distinct hashes.
    // sort_array keeps group identity deterministic across recomputation.
    val groups = base.groupBy("sh").agg(sort_array(collect_list(col("id"))).as("ids"))
    // block boundaries: distribute SimHashBits as evenly as possible
    val bounds = (0 to nBlocks).map(i => i * SimHashBits / nBlocks)
    def blockVal(sh: Column, i: Int): Column = {
      val lo = bounds(i); val mask = (1L << (bounds(i + 1) - lo)) - 1
      shiftright(sh, lo).bitwiseAND(mask)
    }
    val blockCols = (0 until nBlocks).map(i =>
      struct(lit(i).as("bi"), blockVal(col("sh"), i).as("bv")))
    // ONE aggregation feeds everything: the id lists ride the (linear)
    // block table instead of re-joining `groups` onto the pair table twice,
    // and the intra pairs read block 0 (one row per group) instead of a
    // fourth/fifth aggregate branch — all three references below share the
    // same scan+partial-agg exchange, so the simhash kernel pass runs once.
    // The former shape planned FIVE scan+aggregate branches (sh-only × 2
    // join sides; (sh, ids) × 2 idList joins + intra) and shuffled the
    // emitted hash pairs an extra time through distinct().
    // explode_outer: the block array is a literal nBlocks-element array
    // (never empty), and the inner generate would infer a useless
    // size(...)>0 scan filter (see bandTable) re-materializing the block
    // structs below the aggregation that produces sh
    val blocks = groups.select(col("sh"), col("ids"),
      explode_outer(array(blockCols: _*)).as("blk"))
    val a = blocks.as("a"); val b = blocks.as("b")
    // first-match dedup replaces distinct(): a pair agreeing on several
    // blocks (hamming < nBlocks−1 guarantees ≥2 matching blocks) is emitted
    // only from its LOWEST matching block index, decided inside the join
    // condition from the two sh values — the quadratic join output is never
    // shuffled for dedup.
    val firstMatch = (0 until nBlocks).foldRight(lit(-1): Column) { (i, els) =>
      when(blockVal(col("a.sh"), i) === blockVal(col("b.sh"), i), lit(i))
        .otherwise(els)
    }
    val hamming = bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast(LongType)
    val inter = a.join(b, col("a.blk") === col("b.blk") &&
        col("a.sh") < col("b.sh") && hamming <= maxHamming &&
        col("a.blk.bi") === firstMatch)
      .select(explode(col("a.ids")).as("x"), col("b.ids").as("idsb"),
        hamming.as("hamming"))
      .select(col("x"), explode(col("idsb")).as("y"), col("hamming"))
      .select(least(col("x"), col("y")).as("id_a"),
        greatest(col("x"), col("y")).as("id_b"), col("hamming"))
    // identical-hash docs are hamming-0 pairs by definition; block 0 has
    // exactly one row per group, so this reuses the blocks subtree
    val intra = blocks.where(col("blk.bi") === 0 && size(col("ids")) > 1)
      .select(explode(col("ids")).as("x"), col("ids"))
      .select(col("x"), explode(col("ids")).as("y"))
      .where(col("x") < col("y"))
      .select(col("x").as("id_a"), col("y").as("id_b"), lit(0L).as("hamming"))
    inter.unionByName(intra)
  }

  /**
   * Embedding-cosine near-dup via random-hyperplane LSH — the 100 TB scale
   * path (the exact variant is a broadcast self-join): each vector gets
   * `nTables` bucket keys of `bitsPerTable` sign bits; pairs sharing a
   * bucket in any table are verified with the exact cosine. Recall < 1 by
   * construction (pairs split across all tables' buckets are missed);
   * increase nTables for recall, bitsPerTable for precision.
   */
  def cosineLshPairs(df: DataFrame, vecCol: String, idCol: String, dim: Int,
      threshold: Double, nTables: Int = 4, bitsPerTable: Int = 10,
      seed: Long = 42L): DataFrame = {
    import graft.functions.{toFloatVec, array_cosine_similarity, lsh_buckets}
    val v = toFloatVec(col(vecCol))
    // all tables' bucket keys in one compiled pass (LshBuckets) — the
    // previous nTables×bitsPerTable literal-plane expressions formed a
    // multi-thousand-node tree whose codegen compile dominated the query
    val tb = lsh_buckets(v, dim, nTables, bitsPerTable, seed)
    // bucket-collision candidates dedup on SCALAR id pairs first (a pair
    // can collide in several tables — deduping after computing the cosine
    // would both re-verify duplicates and drag doubles through the
    // distinct shuffle); vectors join back once per UNIQUE pair
    val buckets = df.select(col(idCol).cast(LongType).as("id"),
      explode(tb).as("tb"))
    val a = buckets.as("a"); val b = buckets.as("b")
    val pairs = a.join(b, col("a.tb") === col("b.tb") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val vecs = df.select(col(idCol).cast(LongType).as("id"), v.as("__v"))
    pairs
      .join(vecs.select(col("id").as("id_a"), col("__v").as("__va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("__v").as("__vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        array_cosine_similarity(col("__va"), col("__vb")).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** SIMD float prefilter at `cut`, then exact double recompute with the
   *  per-element accumulation order of `array_cosine_similarity` / DuckDB
   *  `list_cosine_similarity` — emitted sims stay bit-identical to the SQL
   *  expression while ~all the O(N²) work runs in float SIMD. Appends
   *  qualifying (idLo, idHi, sim) to `out`; caller guarantees idA < idB. */
  @inline private def verifyPair(idA: Long, va: Array[Float], idB: Long,
      vb: Array[Float], cut: Double, threshold: Double,
      out: scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]): Unit = {
    import graft.core.Simd
    val dim = va.length
    if (Simd.cosine(va, 0, vb, 0, dim) >= cut) {
      var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < dim) {
        val x = va(i).toDouble; val y = vb(i).toDouble
        ab += x * y; aa += x * x; bb += y * y; i += 1
      }
      val den = math.sqrt(aa) * math.sqrt(bb)
      val sim = if (den == 0.0) 0.0 else ab / den
      if (sim >= threshold) out += ((idA, idB, sim))
    }
  }

  /**
   * Exact embedding-cosine near-dup pairs, auto-routed by estimated table
   * size (`spark.graft.neardup.broadcastMaxBytes`, default 256 MB):
   *
   *  - below: gemm-style broadcast self-join — the vector table broadcasts
   *    once as flat arrays, each task streams its rows against the whole
   *    broadcast side (the lock-step analog of the reference's batch
   *    distance, rust_lib/src/provider.rs:248-440);
   *  - above: block-partitioned (i,j) tile join — rows hash into T blocks by
   *    id, each of the T(T+1)/2 block-pair tiles is one task holding only
   *    its two blocks, so no executor (and no driver) ever materializes the
   *    table. Same float-prefilter + double-verify per pair → the two routes
   *    emit identical rows.
   *
   * (An approximate alternative at any scale is [[cosineLshPairs]].) Float
   * prefilter error for dim≲1k is <1e-5; margin defaults 100× that.
   */
  def cosineExactPairs(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, margin: Double = 1e-3): DataFrame = {
    import graft.functions.toFloatVec
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast(LongType).as("id"),
      toFloatVec(col(vecCol)).as("v")).as[(Long, Array[Float])]
    val maxBytes = spark.conf.getOption("spark.graft.neardup.broadcastMaxBytes")
      .map(_.toLong).getOrElse(256L << 20)
    val head = base.take(1)
    if (head.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType),
          StructField("sim", DoubleType))))
    val estBytes = base.count() * (head(0)._2.length * 4L + 32L)
    val cut = threshold - margin
    if (estBytes <= maxBytes) {
      val side = base.collect().sortBy(_._1)
      val bc = spark.sparkContext.broadcast(side)
      base.mapPartitions { it =>
        val arr = bc.value
        val ids = arr.map(_._1)
        val vecs = arr.map(_._2)
        it.flatMap { case (idA, va) =>
          // start past ALL entries with id <= idA (duplicate ids exist in
          // dirty inputs; the expression join this replaces uses a strict
          // id_a < id_b, which emits nothing between equal ids)
          var start = {
            val hit = java.util.Arrays.binarySearch(ids, idA)
            if (hit >= 0) hit + 1 else -hit - 1
          }
          while (start < ids.length && ids(start) == idA) start += 1
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          var j = start
          while (j < ids.length) {
            verifyPair(idA, va, ids(j), vecs(j), cut, threshold, out)
            j += 1
          }
          out.iterator
        }
      }.toDF("id_a", "id_b", "sim").orderBy("id_a", "id_b")
    } else {
      // ---- tiled route: T = enough blocks that one block ≈ 64 MB AND the
      // T(T+1)/2 tiles cover the cluster (T ≈ (sqrt(8P+1)-1)/2 tiles ≥ P
      // tasks; without this a small-but-over-threshold input runs 3 tiles
      // on a 16-core cluster)
      val blockTarget = 64L << 20
      val par = spark.sparkContext.defaultParallelism
      val byPar = math.ceil((math.sqrt(8.0 * par + 1) - 1) / 2).toInt
      val nBlocks = math.max(2,
        math.max(math.ceil(estBytes.toDouble / blockTarget).toInt, byPar))
      val nTiles = nBlocks * (nBlocks + 1) / 2
      // block by scrambled id hash: equal ids always co-locate, so the
      // strict id_a < id_b rule needs no cross-tile coordination
      def blockOf(id: Long): Int = {
        var h = id * -7046029254386353131L
        h ^= (h >>> 32)
        (((h % nBlocks) + nBlocks) % nBlocks).toInt
      }
      val tileOf = (i: Int, j: Int) => i * nBlocks - i * (i - 1) / 2 + (j - i)
      val nb = nBlocks
      // key carries the tile's (i, j) so the task knows its identity even
      // when one side's block is empty (inferring it from the data would
      // misread an off-diagonal tile with an empty partner as diagonal and
      // re-emit the real diagonal tile's pairs)
      val keyed = base.rdd.flatMap { case (id, v) =>
        val b = blockOf(id)
        // LEFT in tiles (b, j>=b), RIGHT in tiles (i<b, b): T copies per row
        (b until nb).iterator.map(j => ((b, j), (b, id, v))) ++
          (0 until b).iterator.map(i => ((i, b), (b, id, v)))
      }
      val part = new org.apache.spark.Partitioner {
        def numPartitions: Int = nTiles
        def getPartition(key: Any): Int = key match {
          case (i: Int, j: Int) => tileOf(i, j)
        }
      }
      keyed.partitionBy(part).mapPartitions { it =>
        val all = it.toArray
        val rows = all.map(_._2)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        if (rows.nonEmpty) {
          val (ti, tj) = all(0)._1
          if (ti == tj) {
            // diagonal tile: upper triangle over row pairs with id_a < id_b
            var i = 0
            while (i < rows.length) {
              var j = 0
              while (j < rows.length) {
                if (rows(i)._2 < rows(j)._2)
                  verifyPair(rows(i)._2, rows(i)._3, rows(j)._2, rows(j)._3,
                    cut, threshold, out)
                j += 1
              }
              i += 1
            }
          } else {
            // off-diagonal: cross product of the two blocks, oriented by id
            // (blocks are id-hash partitions, so ids never collide across)
            val l = rows.filter(_._1 == ti)
            val r = rows.filter(_._1 == tj)
            l.foreach { case (_, idL, vL) =>
              r.foreach { case (_, idR, vR) =>
                if (idL < idR) verifyPair(idL, vL, idR, vR, cut, threshold, out)
                else verifyPair(idR, vR, idL, vL, cut, threshold, out)
              }
            }
          }
        }
        out.iterator
      }.toDF("id_a", "id_b", "sim").orderBy("id_a", "id_b")
    }
  }

  /** MinHash near-dup groups → rows to KEEP after dropping near-duplicates:
   *  connected-candidates collapse to min-id representative (single-link over
   *  candidate pairs, one iteration — adequate for dedup where candidate
   *  graphs are tiny cliques; iterate to fixpoint for long chains). */
  def dedupByMinhash(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, minJaccard: Double = 0.6): DataFrame = {
    val pairs = jaccardPairs(df, textCol, idCol, shingleK, minJaccard)
    val drop = pairs.select(col("id_b").as("drop_id")).distinct()
    df.join(drop, col(idCol) === col("drop_id"), "left_anti")
  }

  /**
   * Connected components over near-dup pairs by iterative min-id label
   * propagation (large-star-ish): every id starts as its own label; each
   * round joins labels across edges in both directions and keeps the min,
   * until a fixpoint. Handles CHAINS of near-duplicates
   * (a~b~c where a≁c) that single-pass dedup misses. Returns
   * (id, component) where component = min id of the cluster.
   * Each round is two shuffle joins over the (small) edge set — the
   * standard scalable CC shape for dedup graphs with tiny components.
   * When round `maxIter` still changes a label, the distributed loop throws
   * an IllegalStateException instead of returning a partial labelling.
   */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    // dedup edge sets are usually tiny (near-DUPLICATE pairs): a driver
    // union-find over the two collected longs per edge beats 3 Spark jobs
    // per propagation round. Persist around the routing count, so the
    // upstream pair plan does not run once for the count and again after.
    val cached = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (Route.local(pairs.sparkSession, "text.cc", BigInt(cached.count()) * 16))
        connectedComponentsLocal(cached)
      else connectedComponentsLoop(cached, maxIter) // loop runs eagerly
    } finally cached.unpersist(blocking = false)
  }

  /** Driver union-find (path halving) → (id, component=min id of cluster),
   *  identical labels to the distributed fixpoint. */
  private def connectedComponentsLocal(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val es = pairs.select(col("id_a").cast(LongType), col("id_b").cast(LongType))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(if (ra < rb) rb else ra) = math.min(ra, rb)
    }
    // roots are min ids already (union always points to the smaller root)
    parent.keys.toSeq.sorted.map(id => (id, find(id))).toDF("id", "component")
  }

  private def connectedComponentsLoop(pairs: DataFrame, maxIter: Int): DataFrame = {
    val edges = pairs.select(col("id_a"), col("id_b"))
      .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .distinct().cache()
    val ids = edges.select(col("id_a").as("id")).distinct()
    var labels = ids.withColumn("component", col("id")).cache()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // candidate label for each node: min over neighbors' labels and own
      val viaEdges = edges
        .join(labels, edges("id_b") === labels("id"))
        .select(edges("id_a").as("id"), col("component"))
      val next = labels.select(col("id"), col("component")).union(viaEdges)
        .groupBy("id").agg(min("component").as("component")).cache()
      val changed = next.join(labels.withColumnRenamed("component", "old"), "id")
        .where(col("component") =!= col("old")).limit(1).count() > 0
      labels.unpersist()
      labels = next
      converged = !changed
      iter += 1
    }
    edges.unpersist()
    if (!converged) {
      labels.unpersist()
      throw new IllegalStateException(s"connectedComponents did not converge: " +
        s"round $iter of maxIter = $maxIter still changed a label, so the " +
        "labelling is partial; raise maxIter")
    }
    labels
  }

  /**
   * Incremental corpus dedup — the daily-ingest shape: drop rows of
   * `newDf` that near-duplicate (Jaccard ≥ `minJaccard`) ANY row of the
   * existing `corpusDf`. Ids must be disjoint across the two frames (true
   * for any monotonically assigned corpus id space). Implemented as
   * [[jaccardPairs]] over the tagged union, keeping only CROSS-frame
   * pairs — so it inherits the band-bucket join, the bucket-clique cap,
   * and every skew protection the in-frame path has, instead of
   * maintaining a second LSH join code path. Within-batch duplicates are
   * deliberately NOT dropped here (that is [[dedupByMinhash]] on the
   * batch); composing the two gives the full ingest pipeline. At 100 TB
   * the corpus side's signatures can be precomputed and persisted — the
   * band join then reads them instead of re-shingling the archive.
   */
  def dedupVsCorpus(newDf: DataFrame, corpusDf: DataFrame, textCol: String,
      idCol: String, shingleK: Int = 3, minJaccard: Double = 0.6): DataFrame = {
    val u = newDf.select(col(idCol), col(textCol)).withColumn("__new", lit(true))
      .unionByName(
        corpusDf.select(col(idCol), col(textCol)).withColumn("__new", lit(false)))
    // the frame flag rides the verify joins' signature sides (jaccardPairs
    // carry) — the previous shape re-joined the corpus-sized flag table
    // onto the pair table TWICE (two more exchanges of the corpus) just to
    // recover which frame each pair member came from
    val pairs = jaccardPairs(u, textCol, idCol, shingleK, minJaccard,
      carry = Seq("__new" -> col("__new")))
    val matched = pairs
      .where(col("__new_a") =!= col("__new_b")) // cross-frame pairs only
      .select(when(col("__new_a"), col("id_a")).otherwise(col("id_b"))
        .as("__drop_id"))
      .distinct()
    newDf.join(matched, col(idCol) === col("__drop_id"), "left_anti")
  }

  /** Fixpoint dedup: keep one representative (min id) per near-dup
   *  connected component; rows without any near-dup edge always survive. */
  def dedupByMinhashConverged(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, minJaccard: Double = 0.6): DataFrame = {
    val pairs = jaccardPairs(df, textCol, idCol, shingleK, minJaccard)
    val comps = connectedComponents(pairs)
    val drop = comps.where(col("id") =!= col("component"))
      .select(col("id").as("drop_id"))
    df.join(drop, col(idCol) === col("drop_id"), "left_anti")
  }

  /**
   * Converged near-dup dedup that keeps the BEST document of every
   * duplicate cluster instead of the min-id one — what a curation run
   * actually wants when duplicates differ in quality (truncated copies,
   * boilerplate-wrapped mirrors). `scoreCol` is any per-row expression
   * (e.g. `qualityColumns(...)("quality")`); the survivor is the cluster
   * member with the highest score, ties broken by MIN id, so the choice is
   * total and deterministic. Same shuffle shape as
   * [[dedupByMinhashConverged]] plus ONE k-bounded aggregation over the
   * cluster members (clusters ≪ corpus).
   */
  def dedupByMinhashKeepBest(df: DataFrame, textCol: String, idCol: String,
      scoreCol: Column, shingleK: Int = 3, minJaccard: Double = 0.6): DataFrame = {
    val pairs = jaccardPairs(df, textCol, idCol, shingleK, minJaccard)
    val comps = connectedComponents(pairs) // (id, component) — members only
    val scored = df.select(col(idCol).cast(LongType).as("__sid"),
      scoreCol.cast(DoubleType).as("__score"))
    // per cluster: argmax(score, tiebreak min id) via one max(struct(...))
    // — score packed with the NEGATED id so larger struct = better score,
    // then smaller id
    val member = comps.join(scored, col("id") === col("__sid"))
    val keep = member.groupBy("component")
      .agg(max(struct(col("__score"), (-col("id")).as("__nid"))).as("__best"))
      .select((-col("__best.__nid")).as("__keep_id"))
    val clusterIds = comps.select(col("id").as("__cid"))
    // drop every cluster member except its chosen survivor
    val drop = clusterIds.join(keep, col("__cid") === col("__keep_id"), "left_anti")
      .select(col("__cid").as("__drop_id"))
    df.join(drop, col(idCol) === col("__drop_id"), "left_anti")
  }

  // -------------------------------------------- substring (n-gram span) dedup

  /** Token n-grams of `toksCol` as space-joined strings (empty when the doc
   *  has fewer than n tokens). One compiled pass
   *  (graft.expressions.Ngrams) — the `transform ∘ slice ∘ array_join`
   *  formulation is value-identical but runs interpreted per element. */
  def ngramsCol(toksCol: Column, n: Int): Column =
    graft.functions.mkCol(graft.expressions.Ngrams(
      graft.functions.mkExpr(toksCol), n, distinct = false))

  /** [[ngramsCol]] with per-document dedup fused into the same pass (first
   *  occurrence kept) — callers exploding to (id, ngram) need no
   *  `.distinct()` shuffle afterwards. */
  def ngramsDistinctCol(toksCol: Column, n: Int): Column =
    graft.functions.mkCol(graft.expressions.Ngrams(
      graft.functions.mkExpr(toksCol), n, distinct = true))

  /** Fused lower → tokenize → distinct n-grams over the raw text column in
   *  ONE expression eval per document — bit-equal to
   *  `ngramsDistinctCol(tokens(textCol), n)` without the regex engine or
   *  the intermediate token array (graft.expressions.NgramsOfText). */
  def ngramsOfTextCol(textCol: Column, n: Int): Column =
    graft.functions.mkCol(graft.expressions.NgramsOfText(
      graft.functions.mkExpr(textCol), n, distinct = true))

  /** Per-n-gram distinct doc-id sets (`ngram`, `ids`), restricted to
   *  n-grams whose document frequency is in [2, dfMax]. The df cap is the
   *  100 TB guard: a boilerplate n-gram shared by millions of docs would
   *  otherwise square into the pair stage; it is also semantically right —
   *  ubiquitous n-grams are not duplication signals (the same IDF intuition
   *  as stopwording).
   *
   *  Shuffle shape: ONE exchange keyed on the n-gram, skew-safe because the
   *  member sets are collected with [[graft.functions.bounded_collect_set]]
   *  (state capped at dfMax+1 per group, map-side partials included): groups
   *  at or under dfMax come back exact, larger groups saturate to the empty
   *  sentinel without ever holding their posting list — a plain collect_set
   *  would concentrate a boilerplate n-gram's entire doc list in one task.
   *  Per-document n-gram dedup is fused into the generation pass
   *  ([[ngramsDistinctCol]]), so no `.distinct()` shuffle precedes it. */
  private def dupNgramSets(df: DataFrame, textCol: String, idCol: String,
      n: Int, dfMax: Int): DataFrame = {
    df.select(col(idCol).cast(LongType).as("id"),
        explode(ngramsOfTextCol(col(textCol), n)).as("ngram"))
      .groupBy("ngram")
      .agg(graft.functions.bounded_collect_set(col("id"), dfMax + 1).as("ids"))
      .where(size(col("ids")) >= 2 && size(col("ids")) <= dfMax)
  }

  /**
   * Size estimate for local-route gating that does not inflate on derived
   * inputs: Catalyst's join statistics MULTIPLY, so a plan that merely
   * filters a table through anti-join stages (e.g. a curation pipeline's
   * gate → dedup survivors) reports sizes far beyond any data that can
   * exist. When the plan contains no expanding operator (inner/outer
   * joins, Generate), its output is bounded by what its leaf scans read —
   * take the min of the plan estimate and the leaf-scan sum. Expanding
   * plans keep the raw estimate (a cross join CAN outgrow its inputs, and
   * over-estimating only costs the distributed route, never a driver OOM).
   */
  private[text] def scanBoundedSizeEstimate(df: DataFrame): BigInt = {
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan}
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    // walk the non-expanding spine: an anti/semi join's output is bounded by
    // its LEFT child regardless of what the drop-set side's subtree looks
    // like; only inner/outer joins and Generate on the spine can expand, and
    // there the (possibly inflated) Catalyst estimate stands
    def bound(plan: LogicalPlan): BigInt = plan match {
      case j: Join if j.joinType == LeftAnti || j.joinType == LeftSemi =>
        bound(j.left)
      case p if p.children.isEmpty => p.stats.sizeInBytes
      case j: Join => j.stats.sizeInBytes
      case g: Generate => g.stats.sizeInBytes
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand =>
        e.stats.sizeInBytes // rollup/cube multiply rows
      case p => p.children.map(bound).sum
    }
    val plan = df.queryExecution.optimizedPlan
    plan.stats.sizeInBytes.min(bound(plan))
  }

  /** Driver-local n-gram posting map: `ngram → distinct ids` (insertion
   *  capped at dfMax+1 — saturated n-grams are dropped like the distributed
   *  route's sentinel), or None when [[graft.core.Route]] sends `op`
   *  distributed. `flagCol` (a per-id boolean, e.g. an eval-split predicate)
   *  rides along in the SAME narrow job so callers get its value per id
   *  without a second Spark action — and with exactly the distributed
   *  route's predicate semantics. */
  private def ngramPostingsLocal(op: String, df: DataFrame, textCol: String, idCol: String,
      n: Int, dfMax: Int, flagCol: Option[Column] = None):
      Option[(java.util.HashMap[String, java.util.LinkedHashSet[java.lang.Long]],
        java.util.HashMap[java.lang.Long, java.lang.Boolean])] = {
    val cols = Seq(col(idCol).cast(LongType).as("id"),
      ngramsOfTextCol(col(textCol), n).as("ngrams")) ++
      flagCol.map(_.as("flag"))
    val projected = df.select(cols: _*)
    if (!Route.local(df.sparkSession, op, scanBoundedSizeEstimate(projected))) return None
    val cap = dfMax + 1
    val map = new java.util.HashMap[String, java.util.LinkedHashSet[java.lang.Long]]()
    val flags = new java.util.HashMap[java.lang.Long, java.lang.Boolean]()
    projected.collect().foreach { r =>
      val id = r.getLong(0)
      if (flagCol.isDefined) flags.put(id, r.getBoolean(2))
      // NULL text has no n-grams (the distributed explode emits no row)
      if (!r.isNullAt(1)) r.getSeq[String](1).foreach { g =>
        val s = map.computeIfAbsent(g, _ => new java.util.LinkedHashSet[java.lang.Long]())
        if (s.size < cap) s.add(id)
      }
    }
    Some((map, flags))
  }

  /** Kept (sorted-id) posting lists from the local map: df in [2, dfMax]. */
  private def keptPostings(map: java.util.HashMap[String, java.util.LinkedHashSet[java.lang.Long]],
      dfMax: Int): Iterator[Array[Long]] = {
    import scala.jdk.CollectionConverters._
    map.values().iterator().asScala
      .filter(s => s.size >= 2 && s.size <= dfMax)
      .map { s =>
        val ids = new Array[Long](s.size)
        val it = s.iterator()
        var i = 0
        while (it.hasNext) { ids(i) = it.next(); i += 1 }
        java.util.Arrays.sort(ids)
        ids
      }
  }

  /** Cap audit for the df-capped n-gram bucket ops ([[ngramDupPairs]],
   *  [[contaminationCounts]]): one row of bucket-population counters —
   *  `ngrams_total`, `ngrams_singleton` (df = 1, no pair signal),
   *  `ngrams_kept` (df ∈ [2, dfMax], the buckets the pair ops consume),
   *  `ngrams_dropped_over_cap` (df > dfMax, treated as boilerplate and
   *  SKIPPED), and `max_df`. The df cap is a documented precision/scale
   *  trade-off; this is its no-silent-truncation companion — a corpus
   *  where the duplication structure itself exceeds dfMax (e.g. >dfMax
   *  near-identical copies of a document) reports zero pairs, and this
   *  audit is how a pipeline distinguishes "no duplication" from "the
   *  duplication saturated the cap" (and decides to raise dfMax). Pure
   *  codegen two-level aggregation: no posting list is ever materialized —
   *  an exact per-n-gram `count`, then one global fold. */
  def ngramBucketStats(df: DataFrame, textCol: String,
      n: Int = 5, dfMax: Int = 50): DataFrame =
    df.select(explode(ngramsOfTextCol(col(textCol), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("df"))
      .agg(count(lit(1)).as("ngrams_total"),
        coalesce(sum(when(col("df") === 1L, 1L).otherwise(0L)), lit(0L))
          .as("ngrams_singleton"),
        coalesce(sum(when(col("df").between(2L, dfMax.toLong), 1L)
          .otherwise(0L)), lit(0L)).as("ngrams_kept"),
        coalesce(sum(when(col("df") > dfMax.toLong, 1L).otherwise(0L)), lit(0L))
          .as("ngrams_dropped_over_cap"),
        coalesce(max(col("df")), lit(0L)).as("max_df"))

  /** Exact substring-level near-dup detection (the n-gram-span analog of
   *  suffix-array training-data dedup): document pairs sharing at least
   *  `minShared` distinct token n-grams → (id_a, id_b, shared_ngrams).
   *  Pairs are generated per n-gram bucket from the id set (≤ dfMax² per
   *  key, by construction) — never an all-pairs product across the corpus —
   *  then one count aggregation keyed on the pair. */
  def ngramDupPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 5, minShared: Int = 3, dfMax: Int = 50): DataFrame = {
    val spark = df.sparkSession
    ngramPostingsLocal("text.ngramDupPairs", df, textCol, idCol, n, dfMax) match {
      case Some((map, _)) =>
        val counts = new java.util.HashMap[(Long, Long), Long]()
        keptPostings(map, dfMax).foreach { ids =>
          var i = 0
          while (i < ids.length) {
            var j = i + 1
            while (j < ids.length) {
              counts.merge((ids(i), ids(j)), 1L, Long.box(_) + Long.box(_))
              j += 1
            }
            i += 1
          }
        }
        import scala.jdk.CollectionConverters._
        val rows = counts.entrySet().iterator().asScala
          .filter(_.getValue >= minShared)
          .map(e => Row(e.getKey._1, e.getKey._2, e.getValue)).toSeq
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
          StructType(Seq(StructField("id_a", LongType, nullable = false),
            StructField("id_b", LongType, nullable = false),
            StructField("shared_ngrams", LongType, nullable = false))))
      case None =>
        val sets = dupNgramSets(df, textCol, idCol, n, dfMax)
        val pairs = filter(
          flatten(transform(col("ids"),
            x => transform(col("ids"), y => struct(x.as("a"), y.as("b"))))),
          p => p("a") < p("b"))
        sets.select(explode(pairs).as("p"))
          .groupBy(col("p.a").as("id_a"), col("p.b").as("id_b"))
          .agg(count(lit(1)).as("shared_ngrams"))
          .where(col("shared_ngrams") >= minShared)
    }
  }

  /** Benchmark decontamination: for every training document (rows NOT
   *  matching `evalPred` on the id), the number of distinct token n-grams it
   *  shares with ANY eval document (rows matching `evalPred`). Rows with
   *  zero overlap are omitted. Each n-gram bucket splits its id set into
   *  eval/train halves locally, so a training n-gram counts once no matter
   *  how many eval docs contain it; one count aggregation keyed on the
   *  training id follows. */
  def contaminationCounts(df: DataFrame, textCol: String, idCol: String,
      evalPred: Column => Column, n: Int = 5, dfMax: Int = 50): DataFrame = {
    val spark = df.sparkSession
    ngramPostingsLocal("text.contaminationCounts", df, textCol, idCol, n, dfMax,
        flagCol = Some(evalPred(col(idCol).cast(LongType)))) match {
      case Some((map, flags)) =>
        import scala.jdk.CollectionConverters._
        def isEval(id: Long): Boolean = flags.get(id).booleanValue()
        val counts = new java.util.HashMap[Long, Long]()
        keptPostings(map, dfMax).foreach { ids =>
          if (ids.exists(isEval(_)))
            ids.foreach(id => if (!isEval(id))
              counts.merge(id, 1L, Long.box(_) + Long.box(_)))
        }
        val rows = counts.entrySet().iterator().asScala
          .map(e => Row(e.getKey.longValue(), e.getValue.longValue())).toSeq
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
          StructType(Seq(StructField("id", LongType, nullable = false),
            StructField("n_contaminated", LongType, nullable = false))))
      case None =>
        val sets = dupNgramSets(df, textCol, idCol, n, dfMax)
        sets
          .where(exists(col("ids"), x => evalPred(x)))
          .select(explode(filter(col("ids"), x => !evalPred(x))).as("id"))
          .groupBy("id").agg(count(lit(1)).as("n_contaminated"))
    }
  }

  /**
   * Decontamination as a FILTER: the surviving training corpus after
   * dropping every train row whose count of (df-capped) shared n-grams with
   * the eval split exceeds `maxOverlap` (0 = any overlap disqualifies) —
   * the enforcement step over [[contaminationCounts]]'s report. Same
   * bucketed shape; the final anti-join touches only the contaminated ids.
   */
  def decontaminateFilter(df: DataFrame, textCol: String, idCol: String,
      evalPred: Column => Column, n: Int = 5, dfMax: Int = 50,
      maxOverlap: Long = 0L): DataFrame = {
    val bad = contaminationCounts(df, textCol, idCol, evalPred, n, dfMax)
      .where(col("n_contaminated") > maxOverlap)
      .select(col("id").as("__bad_id"))
    df.where(!evalPred(col(idCol).cast(LongType)))
      .join(bad, col(idCol) === col("__bad_id"), "left_anti")
  }

  // ------------------------------------------------------- line-level dedup

  /** K-word lines of a document's text, space-joined — the unit of
   *  C4-style line/paragraph dedup when the source carries no explicit
   *  separators. One compiled pass (graft.expressions.WordLines) over the
   *  same lowercase `[a-z0-9]+` tokens; the interpreted
   *  `transform(sequence, i -> array_join(slice(...)))` formulation it
   *  replaces is pinned value-identical in TextOpsSpec. */
  def wordLines(text: Column, k: Int): Column =
    graft.functions.mkCol(graft.expressions.WordLines(graft.functions.mkExpr(text), k))

  /**
   * Exact line-level dedup (C4 keeps one instance of every duplicated
   * line): documents split into `wordsPerLine`-token lines; across the
   * corpus each distinct line survives exactly ONCE — in its first
   * occurrence position (min id, then min line index) — and every other
   * instance is dropped. Returns per-doc `(id, n_lines, n_kept,
   * text_dedup)` with `text_dedup` the kept lines re-joined in order.
   *
   * Shape: one explode and two shuffles — a line-keyed aggregation that
   * carries BOTH the first-occurrence min and the instance list (so the
   * per-instance kept/dropped verdict falls out of one explode of the
   * aggregate, with no join back over the corpus), then the per-doc
   * regroup. The earlier formulation aggregated the min alone and re-
   * joined it against the full instance table — a third corpus-sized
   * shuffle whose line-string keys made it the dominant stage of the
   * 1000× smoke. Line buckets are as skewed as the corpus' duplicate
   * mass, the same profile the n-gram span dedup handles. 100 TB-safe.
   */
  def dedupLines(df: DataFrame, textCol: String, idCol: String,
      wordsPerLine: Int = 20): DataFrame = {
    val p = df.select(col(idCol),
        posexplode(wordLines(col(textCol), wordsPerLine))
          .as(Seq("idx", "line")))
    // the surviving instance of a line is its global first occurrence:
    // lexicographic min over (id, idx). The instance list rides the same
    // aggregation; line text is shuffled once per distinct (line,
    // map-partition), not once per instance.
    val grouped = p.groupBy("line")
      .agg(min(struct(col(idCol).as("__kid"), col("idx").as("__kidx"))).as("__first"),
        collect_list(struct(col(idCol).as("__iid"), col("idx").as("__iidx"))).as("__insts"))
    val inst = grouped.select(col("line"), col("__first"),
      explode(col("__insts")).as("__i"))
    val kept = col("__i.__iid") === col("__first.__kid") &&
      col("__i.__iidx") === col("__first.__kidx")
    inst.groupBy(col("__i.__iid").as(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
            when(kept, struct(col("__i.__iidx").as("idx"), col("line"))))),
          s => s.getField("line")), " ").as("text_dedup"))
  }

  // -------------------------------------------------------- feature hashing

  /** Sparse feature-hashed term frequencies per document:
   *  `array<struct<bucket, tf>>` with bucket = rolling_hash(token) % dim,
   *  sorted by bucket (one compiled pass, graft.expressions.HashedTf). The
   *  hashing-vectorizer step that turns text into fixed-width integer
   *  features without a vocabulary build — no shuffle, pushes to the scan. */
  def hashedTf(text: Column, dim: Int): Column =
    graft.functions.mkCol(graft.expressions.HashedTf(graft.functions.mkExpr(text), dim))

  /** Dense form of [[hashedTf]]: an `array<long>` of length `dim`. */
  def hashedTfDense(text: Column, dim: Int): Column = {
    val sparse = hashedTf(text, dim)
    transform(sequence(lit(0L), lit(dim.toLong - 1L)), b =>
      coalesce(element_at(map_from_entries(sparse), b), lit(0L)))
  }

  // ------------------------------------------------------ sequence packing

  /**
   * Greedy token-budget sequence packing — the training-data step that
   * concatenates documents into fixed-budget model sequences. Within each
   * `groupCol` group (a natural packing domain: language, source, shard),
   * documents are taken in id order and appended to the current sequence
   * while they fit; a document that would overflow starts the next sequence
   * (an oversize document gets a sequence of its own). Emits one row per
   * document: `(group, id, n_tokens, seq_id, seq_offset)` — `seq_id` is the
   * 0-based sequence index within the group, `seq_offset` the document's
   * token offset inside its sequence.
   *
   * The scan is inherently sequential per group — but "group" is NOT the
   * parallelism unit: [[SegmentedPack]] range-partitions on (group, id), so
   * a group that dominates the corpus (one language at 95% of 100 TB)
   * still spreads over every task. Partition boundaries are composed
   * EXACTLY (bit-identical to the serial scan and the DuckDB recursive-CTE
   * oracle, pinned by PackSequencesSkewSpec): per range, the greedy
   * breaks are a function of the group-local token prefix sums plus one
   * incoming scalar (the open sequence's token base), which the driver
   * chains across ranges with a binary search per boundary. Deterministic
   * on any partition layout; pure integer arithmetic.
   *
   * Small inputs ([[graft.core.Route]]; both routes spec-pinned
   * bit-identical) take the SERIAL one-shuffle scan: at toy scale the
   * segmented passes are pure fixed cost. So does a budget above
   * [[SegmentedPack.MaxComposeBudget]], without a route decision.
   */
  def packSequences(df: DataFrame, textCol: String, idCol: String,
      groupCol: String, budget: Long): DataFrame = {
    require(budget > 0, "token budget must be positive")
    val counted = countedForPack(df, textCol, idCol, groupCol)
    if (budget > SegmentedPack.MaxComposeBudget ||
        Route.local(df.sparkSession, "text.pack", scanBoundedSizeEstimate(df)))
      packSequencesSerial(counted, budget, groupCol, idCol)
    else SegmentedPack.pack(counted, budget, groupCol, idCol)
  }

  /** NULL text packs as a zero-token document; rows without an id cannot
   *  be assigned a sequence and are dropped; a NULL group is its own group. */
  private[text] def countedForPack(df: DataFrame, textCol: String, idCol: String,
      groupCol: String): Dataset[(String, Long, Long)] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.where(col(idCol).isNotNull)
      .select(
        col(groupCol).cast("string").as("g"),
        col(idCol).cast(LongType).as("id"),
        coalesce(size(tokens(col(textCol))).cast(LongType), lit(0L)).as("n"))
      .as[(String, Long, Long)]
  }

  /** The one-task-per-group serial scan (pre-round-8 shape): ONE shuffle +
   *  sortWithinPartitions + a constant-memory scan that resets at group
   *  boundaries. Kept as the huge-budget fallback and as the parity
   *  reference for [[SegmentedPack]]'s specs. */
  private[text] def packSequencesSerial(counted: Dataset[(String, Long, Long)],
      budget: Long, groupCol: String, idCol: String): DataFrame = {
    val spark = counted.sparkSession
    import spark.implicits._
    val sorted = counted
      .repartition(col("g"))
      .sortWithinPartitions(col("g"), col("id"))
    val packed = sorted.mapPartitions { it =>
      var started = false
      var curGroup: String = null
      var running = 0L
      var seq = 0L
      it.map { case (g, id, n) =>
        if (!started || !java.util.Objects.equals(g, curGroup)) {
          started = true; curGroup = g; seq = 0L; running = n
          (g, id, n, 0L, 0L)
        } else if (running + n > budget) {
          seq += 1; val out = (g, id, n, seq, 0L); running = n; out
        } else {
          val out = (g, id, n, seq, running); running += n; out
        }
      }
    }
    packed.toDF(groupCol, idCol, "n_tokens", "seq_id", "seq_offset")
  }

  // ------------------------------------------------------ stratified sampling

  /** Knuth multiplicative constant for the sampling gate. */
  val SampleMult = 2654435761L

  /** Deterministic hash-gate for stratified sampling of training mixes: keeps
   *  a row iff `(id · SampleMult) mod 1000 < permille`. Pure codegen'd
   *  integer arithmetic — no RNG state, no shuffle, pushes down to the scan,
   *  and selects the SAME rows on any cluster size, retry, or engine (the
   *  arithmetic is exactly reproducible in SQL), so a training mix is
   *  re-derivable from the recipe alone. `permille` may be any per-row
   *  expression (per-stratum rates via CASE/when). The id is pre-reduced mod
   *  [[HashMod]] so the product stays < 2^63 for any 64-bit id — engines
   *  that check overflow (DuckDB does) evaluate it identically. */
  def sampleGate(idCol: Column, permille: Column): Column =
    pmod(pmod(idCol.cast(LongType), lit(HashMod)) * lit(SampleMult), lit(1000L)) <
      permille.cast(LongType)

  /** Budgeted domain mixing: downsample each domain to (at most) a target
   *  row budget — the rebalancing step every training-mix recipe runs after
   *  curation (a Pile/ROOTS-style "give me N_web docs of web, N_code of
   *  code, …" mix; Gao et al. 2020 §2 weights components exactly this way).
   *  Per domain d with n_d rows the keep-rate is
   *  `min(1, target_d / n_d)`; rows pass the same multiplicative hash gate
   *  as [[sampleGate]], at millionth granularity so large corpora hit small
   *  rates accurately. Domains absent from `targets` use `defaultTarget`.
   *
   *  Scale shape: one tiny per-domain count aggregate (rows = #domains)
   *  broadcast back onto the scan, then a pure codegen'd integer gate — no
   *  data shuffle of the corpus itself, deterministic on any cluster
   *  size/retry, and the kept set for a smaller budget is a SUBSET of any
   *  larger budget's (the gate threshold is monotone in the rate), so mixes
   *  can be grown without resampling. All arithmetic (one multiply, one
   *  divide, a floor) is reproduced bit-exactly by the SQL oracle. */
  def domainMix(df: DataFrame, domainCol: String, idCol: String,
      targets: Map[String, Long], defaultTarget: Long): DataFrame = {
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("__n"))
    val targetExpr = targets.foldLeft(lit(defaultTarget.toDouble)) {
      case (els, (d, tgt)) =>
        when(col(domainCol) === lit(d), lit(tgt.toDouble)).otherwise(els)
    }
    val rate = least(lit(1.0), targetExpr / col("__n").cast(DoubleType))
    val gate = pmod(
      pmod(col(idCol).cast(LongType), lit(HashMod)) * lit(SampleMult),
      lit(1000000L))
    df.join(broadcast(counts), Seq(domainCol))
      .where(gate < floor(rate * lit(1000000.0)).cast(LongType))
      .drop("__n")
  }

  /** [[domainMix]] with budgets in TOKENS — the unit real training mixes
   *  are specified in (a 500B-token recipe says "30B of code, 5B of
   *  books", not row counts). Per domain d the keep-rate is
   *  `min(1, target_tokens_d / tokens_d)` with tokens_d = Σ doc token
   *  counts ([[tokens]] — same tokenizer as the LM/quality ops), so the
   *  EXPECTED kept token mass matches the budget under the uniform hash
   *  gate; the same broadcast-counts + codegen-gate shape as the row
   *  variant (one extra sum in the tiny per-domain aggregate, still zero
   *  corpus shuffle). */
  def domainMixTokens(df: DataFrame, domainCol: String, textCol: String,
      idCol: String, targets: Map[String, Long], defaultTarget: Long): DataFrame = {
    val counts = df.groupBy(col(domainCol))
      .agg(sum(size(tokens(col(textCol))).cast(LongType)).as("__nt"))
    val targetExpr = targets.foldLeft(lit(defaultTarget.toDouble)) {
      case (els, (d, tgt)) =>
        when(col(domainCol) === lit(d), lit(tgt.toDouble)).otherwise(els)
    }
    val rate = least(lit(1.0), targetExpr / col("__nt").cast(DoubleType))
    val gate = pmod(
      pmod(col(idCol).cast(LongType), lit(HashMod)) * lit(SampleMult),
      lit(1000000L))
    df.join(broadcast(counts), Seq(domainCol))
      .where(gate < floor(rate * lit(1000000.0)).cast(LongType))
      .drop("__nt")
  }

  // --------------------------------------------------- bigram-LM fluency

  /** Corpus-trained bigram-LM fluency score per document — the Spark-native
   *  shape of LM-based quality filtering (CCNet, Wenzek et al. 2020, scores
   *  documents with a KenLM and drops the high-perplexity tail; the
   *  reference delegates all text scoring to its host engine, so this is a
   *  from-scratch design). The model is trained ON the corpus in the same
   *  DAG: unigram and (`minCount`-pruned) bigram occurrence counts, then
   *  each document is scored by the MLE conditional probability of its own
   *  bigram sequence. Output per doc:
   *    - `n_bigrams`: token bigrams in the doc,
   *    - `n_oov`: bigrams pruned from the model (count < `minCount`) — the
   *      disfluency signal,
   *    - `mean_cond_prob`: mean over bigrams (w1,w2) of c(w1 w2)/c(w1),
   *      OOV bigrams contributing 0. Low = unusual/noisy word sequences.
   *
   *  Scale shape: two corpus-wide count aggregations (shuffles keyed on the
   *  term — map-side partial aggregation applies), one shuffle join of the
   *  exploded doc-bigram stream against each count table, and a per-doc
   *  fold. No driver state, no all-pairs, no UDFs. The `minCount` prune is
   *  the standard LM-size control: hapax bigrams (the vast majority at any
   *  scale, by Zipf) never enter the join's build side.
   *
   *  Determinism: every probability is ONE long/long division, and the
   *  per-doc mean sums them in TOKEN-POSITION order via an explicit
   *  sequential fold (`sort_array` + `aggregate` here; `list(p ORDER BY
   *  pos)` + `list_sum` — also a sequential fold — in the DuckDB oracle),
   *  so the doubles are bit-identical across engines. */
  def lmScore(df: DataFrame, textCol: String, idCol: String,
      minCount: Long = 2): DataFrame = {
    val base = df.select(col(idCol).cast(LongType).as("__id"),
      tokens(col(textCol)).as("__toks"))
    // outer generates + null drops (≡ inner explodes row-for-row): the
    // inner generates' inferred size(...) > 0 filters pushed the tokenizer
    // regex / ngram tree into scan-level Filters below the projections
    // that compute them — the full-text regex ran twice per row per branch
    val uni = base.select(explode_outer(col("__toks")).as("__w1"))
      .where(col("__w1").isNotNull)
      .groupBy("__w1").agg(count(lit(1)).as("__cu"))
    val bg = base.select(col("__id"),
      posexplode_outer(ngramsCol(col("__toks"), 2)).as(Seq("__pos", "__bg")))
      .where(col("__bg").isNotNull)
    val bgc = bg.groupBy("__bg").agg(count(lit(1)).as("__cb"))
      .where(col("__cb") >= minCount)
    val probs = bg
      .join(bgc, Seq("__bg"), "left")
      .join(uni, element_at(split(col("__bg"), " "), 1) === col("__w1"), "left")
      .select(col("__id"), col("__pos"),
        when(col("__cb").isNull, lit(0.0))
          .otherwise(col("__cb").cast(DoubleType) / col("__cu").cast(DoubleType))
          .as("__p"))
    val perDoc = probs.groupBy("__id").agg(
      sort_array(collect_list(struct(col("__pos"), col("__p")))).as("__pp"))
    val pp = col("__pp")
    val scored = perDoc.select(col("__id"),
      size(pp).cast(LongType).as("__nb"),
      size(filter(pp, x => x.getField("__p") === lit(0.0)))
        .cast(LongType).as("__no"),
      (aggregate(pp, lit(0.0), (acc, x) => acc + x.getField("__p"))
        / size(pp).cast(DoubleType)).as("__mp"))
    df.select(col(idCol))
      .join(scored, col(idCol).cast(LongType) === col("__id"), "left")
      .select(col(idCol),
        coalesce(col("__nb"), lit(0L)).as("n_bigrams"),
        coalesce(col("__no"), lit(0L)).as("n_oov"),
        coalesce(col("__mp"), lit(0.0)).as("mean_cond_prob"))
  }

  // ------------------------------------------------------------- PII scrub

  /** PII patterns (all matched by Spark's builtin codegen'd regexp
   *  expressions; identical strings feed the DuckDB oracle). */
  val PiiEmail = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val PiiIp = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  val PiiPhone = """\b\d{3}-\d{4}\b"""

  /** PII detect + redact in one projection: a struct of match counts per
   *  category and the text with every match masked (`<EMAIL>` / `<IP>` /
   *  `<PHONE>`). Pure builtin regexp expressions — codegen'd, shuffle-free,
   *  and SQL-callable as `pii_scrub(text)`. */
  def piiScrub(text: Column): Column = struct(
    size(regexp_extract_all(text, lit(PiiEmail), lit(0)))
      .cast(LongType).as("n_emails"),
    size(regexp_extract_all(text, lit(PiiIp), lit(0)))
      .cast(LongType).as("n_ips"),
    size(regexp_extract_all(text, lit(PiiPhone), lit(0)))
      .cast(LongType).as("n_phones"),
    regexp_replace(regexp_replace(regexp_replace(text,
      PiiEmail, "<EMAIL>"), PiiIp, "<IP>"), PiiPhone, "<PHONE>").as("redacted"))
}
