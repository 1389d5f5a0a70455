package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, NamedArgumentExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.ArrayData

import graft.index.{Ann, IndexCatalog}
import graft.search.Hybrid

/**
 * SQL-callable table functions — the surface a SQL-only client uses where the
 * reference registers DuckDB table functions (src/ann_search.cpp:1165-1218,
 * src/ann_list.cpp, src/diskann_functions.cpp):
 *
 *   SELECT * FROM ann_search('documents', 'docs_idx', array(0.1, ...), 10)
 *   SELECT * FROM ann_range_search('documents', 'docs_idx', array(0.1, ...), 12.5)
 *   SELECT * FROM ann_search_batch('documents', 'docs_idx', array(array(...), ...), 5)
 *   SELECT * FROM ann_search_table('queries_view', 'documents', 'docs_idx', 5)
 *   SELECT * FROM ann_range_search_table('queries_view', 'documents', 'docs_idx', 12.5)
 *   SELECT * FROM vector_distances('embeddings', array(...))        -- + optional metric
 *   SELECT * FROM hybrid_search('documents', 'docs_idx', 'embedding', 'doc_id',
 *                               array(...), 'query text', 10)
 *   SELECT * FROM ann_list()
 *   SELECT * FROM ann_reconstruct('docs_idx', array(1, 5, 9))
 *   SELECT * FROM ann_reconstruct_n('docs_idx', 100, 50)
 *   SELECT * FROM ann_index_info()                                  -- or (name)
 *   SELECT * FROM faiss_gpu_info()
 *   SELECT * FROM ann_create_index('documents', 'embedding', 'doc_id',
 *                                  'docs_idx', 'IVF64,Flat')        -- build from SQL
 *   SELECT * FROM ann_vacuum('docs_idx')
 *   SELECT * FROM diskann_streaming_build('/path/file.bin', 'idx')
 *   SELECT * FROM rare_terms('documents', 'text', 'doc_id', 3)
 *   SELECT * FROM contamination_counts('documents', 'text', 'doc_id', 'doc_id % 5 = 0')
 *   SELECT * FROM decontaminate('documents', 'text', 'doc_id', 'doc_id % 5 = 0')
 *                                            -- the FILTER: surviving corpus rows
 *   SELECT * FROM stratified_sample('documents', 'doc_id',
 *                                   'CASE WHEN lang = ''en'' THEN 600 ELSE 250 END')
 *   SELECT * FROM dedup_lines('documents', 'text', 'doc_id', 20)
 *   SELECT * FROM pack_sequences('documents', 'text', 'doc_id', 'lang', 2048)
 *   SELECT * FROM curate_report('documents', 'text', 'doc_id', 'en,de',
 *                               eval_pred => 'doc_id % 5 = 0')
 *   SELECT * FROM dup_clusters('documents', 'text', 'doc_id', 0.6)
 *   SELECT * FROM dedup_minhash_best('documents', 'text', 'doc_id', 'n_chars')
 *   SELECT * FROM lm_score('documents', 'text', 'doc_id', 2)
 *   SELECT * FROM domain_mix('documents', 'source', 'doc_id',
 *                            'web:1000,code:500', 100)
 *   SELECT * FROM domain_mix_tokens('documents', 'source', 'text', 'doc_id',
 *                                   'web:30000,code:5000', 1000)
 *   SELECT * FROM dedup_minhash_cc('documents', 'text', 'doc_id', 0.6)
 *   SELECT * FROM dedup_vs_corpus('new_batch', 'documents', 'text', 'doc_id')
 *   SELECT * FROM ann_search_filtered('embeddings', 'emb_idx', array(...),
 *                                     10, 'id % 7 = 3')
 *   SELECT * FROM semdedup('embeddings', 'embedding', 'vec_id', 8, 0.85)
 *                                            -- iters => 10 for trained mode
 *
 * Tables are referenced by NAME (views work: `CREATE TEMP VIEW queries AS
 * SELECT ...` replaces the reference's TABLE-valued subquery inputs — Spark
 * reserves TABLE() arguments for Python UDTFs). `ann_search_table` and
 * `vector_distances` auto-detect the query-vector column like the reference
 * (first numeric-array column, src/ann_search.cpp:471-494). All arguments
 * must be literals (they configure a search; they are not per-row values);
 * trailing optionals can be passed by name with Spark's named-argument
 * syntax (`oversample => 3`), mirroring the reference's `:=` named
 * parameters.
 *
 * Registered by [[Graft.init]] on the live session and by [[GraftExtensions]]
 * at session build; resolution happens at analysis time via the session's
 * TableFunctionRegistry, and the returned plan is the same DataFrame plan the
 * Scala API builds — identical execution path, identical results.
 *
 * Laziness contract: the SIDE-EFFECTING functions (`ann_create_index`,
 * `ann_vacuum`, `ann_drop`, `diskann_streaming_build`) resolve to a
 * [[CommandTvfNode]] whose effect runs at EXECUTION time, so EXPLAIN over
 * them never mutates the catalog (the reference's bind/first-scan split,
 * src/ann_search.cpp:55-149). Read-only search functions build their plan
 * eagerly during analysis: `ann_search` and `ann_search_filtered` run
 * their index search then, so EXPLAIN over them searches too.
 */
object TableFunctions {

  private def err(fn: String, msg: String): Nothing =
    throw new IllegalArgumentException(s"$fn: $msg")

  /** Resolve positional + `name => value` arguments against the declared
   *  parameter order (the analog of the reference's named_parameters). */
  private def splitArgs(fn: String, args: Seq[Expression], names: Seq[String],
      required: Int): Map[String, Expression] = {
    val got = scala.collection.mutable.LinkedHashMap.empty[String, Expression]
    var pos = 0
    args.foreach {
      case NamedArgumentExpression(key, value) =>
        val k = key.toLowerCase
        if (!names.contains(k)) err(fn,
          s"unknown argument name: $key (expected one of ${names.mkString(", ")})")
        if (got.contains(k)) err(fn, s"duplicate argument: $key")
        got(k) = value
      case e =>
        if (got.size > pos) err(fn, "positional arguments must precede named arguments")
        if (pos >= names.length) err(fn, s"too many arguments (max ${names.length})")
        got(names(pos)) = e
        pos += 1
    }
    names.take(required).foreach { n =>
      if (!got.contains(n)) err(fn, s"missing required argument: $n")
    }
    got.toMap
  }

  private def evalLit(fn: String, e: Expression): Any = {
    if (!e.foldable) err(fn, s"argument must be a literal, got: ${e.sql}")
    e.eval()
  }

  private def str(fn: String, e: Expression): String = evalLit(fn, e) match {
    case null => err(fn, "argument must not be null")
    case v => v.toString
  }

  private def int(fn: String, e: Expression): Int = evalLit(fn, e) match {
    case i: Int => i
    case l: Long => l.toInt
    case s: Short => s.toInt
    case b: Byte => b.toInt
    case v => err(fn, s"expected an integer argument, got: $v")
  }

  private def dbl(fn: String, e: Expression): Double = evalLit(fn, e) match {
    case d: Double => d
    case f: Float => f.toDouble
    case i: Int => i.toDouble
    case l: Long => l.toDouble
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case v => err(fn, s"expected a numeric argument, got: $v")
  }

  private def num(fn: String, v: Any): Float = v match {
    case f: Float => f
    case d: Double => d.toFloat
    case i: Int => i.toFloat
    case l: Long => l.toFloat
    case s: Short => s.toFloat
    case b: Byte => b.toFloat
    case d: org.apache.spark.sql.types.Decimal => d.toFloat
    case x => err(fn, s"expected a numeric vector element, got: $x")
  }

  private def vec(fn: String, e: Expression): Array[Float] = evalLit(fn, e) match {
    case a: ArrayData => a.array.map(num(fn, _))
    case v => err(fn, s"expected an array literal query vector, got: $v")
  }

  private def lng(fn: String, e: Expression): Long = evalLit(fn, e) match {
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case v => err(fn, s"expected an integer argument, got: $v")
  }

  private def longs(fn: String, e: Expression): Array[Long] = evalLit(fn, e) match {
    case a: ArrayData => a.array.map {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case v => err(fn, s"expected an integer id element, got: $v")
    }
    case v => err(fn, s"expected an array literal of ids, got: $v")
  }

  private def vecs(fn: String, e: Expression): Array[Array[Float]] = evalLit(fn, e) match {
    case a: ArrayData => a.array.map {
      case inner: ArrayData => inner.array.map(num(fn, _))
      case v => err(fn, s"expected an array of arrays, got element: $v")
    }
    case v => err(fn, s"expected an array-of-arrays literal, got: $v")
  }

  private def plan(df: DataFrame): LogicalPlan = df.queryExecution.logical

  private def spark: SparkSession = SparkSession.active

  /**
   * Parse an eval-split predicate string into a GENUINE function of the id
   * expression: every reference to `idCol` in the parsed tree is substituted
   * with the lambda's argument. A constant closure (`_ => parsed`) would
   * break `contaminationCounts`' distributed route, which applies the
   * predicate to higher-order-function ELEMENT variables over plans where
   * the id column does not exist.
   */
  private def evalPredFromSql(fn: String, predSql: String, idCol: String):
      org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.graftshim.GraftShim
    val parsed = spark.sessionState.sqlParser.parseExpression(predSql)
    (id: org.apache.spark.sql.Column) => GraftShim.column(parsed.transform {
      case a: UnresolvedAttribute if a.name.equalsIgnoreCase(idCol) =>
        GraftShim.expression(id)
    })
  }

  /** (name, builder) for every table function. */
  private def builders: Seq[(String, Seq[Expression] => LogicalPlan)] = Seq(
    "ann_search" -> { args =>
      val fn = "ann_search"
      val a = splitArgs(fn, args,
        Seq("table", "index", "query_vec", "k", "search_complexity", "oversample"), 4)
      val index = str(fn, a("index"))
      val sc = a.get("search_complexity").map(int(fn, _)).getOrElse(0)
      val over = a.get("oversample").map(int(fn, _)).getOrElse(1)
      val idCol = IndexCatalog.load(Ann.root(spark), index).idColumn
      plan(Ann.search(spark.table(str(fn, a("table"))), idCol, index,
        vec(fn, a("query_vec")), int(fn, a("k")), sc, over))
    },
    // attribute-filtered search: allow_pred is a SQL predicate over the
    // literal column name `id` — one parse feeds both the pushed-down scan
    // predicate (exact engines) and the codegen'd per-hit selector the
    // graph engine's escalating beam applies (Ann.idFilterFromSql)
    "ann_search_filtered" -> { args =>
      val fn = "ann_search_filtered"
      val a = splitArgs(fn, args,
        Seq("table", "index", "query_vec", "k", "allow_pred",
          "search_complexity"), 5)
      val index = str(fn, a("index"))
      val sc = a.get("search_complexity").map(int(fn, _)).getOrElse(0)
      val meta = IndexCatalog.load(Ann.root(spark), index)
      val filt = Ann.idFilterFromSql(spark, str(fn, a("allow_pred")))
      val hits = Ann.collectHits(spark, meta, IndexCatalog.readTombstones(Ann.root(spark), index),
        vec(fn, a("query_vec")), int(fn, a("k")), sc, 1, Some(filt))
      plan(Ann.fetchHits(spark.table(str(fn, a("table"))), meta.idColumn, hits))
    },
    "ann_range_search" -> { args =>
      val fn = "ann_range_search"
      val a = splitArgs(fn, args,
        Seq("table", "index", "query_vec", "radius", "search_complexity"), 4)
      val index = str(fn, a("index"))
      val sc = a.get("search_complexity").map(int(fn, _)).getOrElse(0)
      val idCol = IndexCatalog.load(Ann.root(spark), index).idColumn
      plan(Ann.rangeSearch(spark.table(str(fn, a("table"))), idCol, index,
        vec(fn, a("query_vec")), dbl(fn, a("radius")).toFloat, sc))
    },
    "ann_search_batch" -> { args =>
      val fn = "ann_search_batch"
      val a = splitArgs(fn, args,
        Seq("table", "index", "query_vecs", "k", "search_complexity"), 4)
      val index = str(fn, a("index"))
      val sc = a.get("search_complexity").map(int(fn, _)).getOrElse(0)
      val idCol = IndexCatalog.load(Ann.root(spark), index).idColumn
      plan(Ann.searchBatch(spark.table(str(fn, a("table"))), idCol, index,
        vecs(fn, a("query_vecs")).toSeq, int(fn, a("k")), sc))
    },
    "ann_search_table" -> { args =>
      val fn = "ann_search_table"
      val a = splitArgs(fn, args,
        Seq("queries_table", "base_table", "index", "k", "search_complexity"), 4)
      val index = str(fn, a("index"))
      val sc = a.get("search_complexity").map(int(fn, _)).getOrElse(0)
      val idCol = IndexCatalog.load(Ann.root(spark), index).idColumn
      plan(Ann.searchTable(spark.table(str(fn, a("queries_table"))),
        spark.table(str(fn, a("base_table"))), idCol, index, int(fn, a("k")), sc))
    },
    // TABLE-input range search (the range analog of ann_search_table):
    // every (query row, base row) pair within the radius; the query-vector
    // column auto-detects like the reference's TABLE inputs
    "ann_range_search_table" -> { args =>
      val fn = "ann_range_search_table"
      val a = splitArgs(fn, args,
        Seq("queries_table", "base_table", "index", "radius",
          "search_complexity"), 4)
      val index = str(fn, a("index"))
      val idCol = IndexCatalog.load(Ann.root(spark), index).idColumn
      val qdf = spark.table(str(fn, a("queries_table")))
      val sc = a.get("search_complexity").map(int(fn, _)).getOrElse(0)
      plan(Ann.rangeSearchTable(qdf, Ann.detectVectorColumn(qdf.schema),
        spark.table(str(fn, a("base_table"))), idCol, index,
        dbl(fn, a("radius")).toFloat, sc))
    },
    "vector_distances" -> { args =>
      val fn = "vector_distances"
      val a = splitArgs(fn, args, Seq("table", "query_vec", "metric"), 2)
      val df = spark.table(str(fn, a("table")))
      val metric = a.get("metric").map(str(fn, _)).getOrElse("l2")
      plan(Ann.vectorDistances(df, Ann.detectVectorColumn(df.schema),
        vec(fn, a("query_vec")), metric))
    },
    "hybrid_search" -> { args =>
      val fn = "hybrid_search"
      // full knob parity with the reference's SQL registration
      // (src/ann_search.cpp:1203-1217): fusion weights, per-retriever
      // candidate pools, and graph search complexity are all named args
      val a = splitArgs(fn, args,
        Seq("table", "index", "vec_col", "id_col", "query_vec", "query_text",
          "k", "text_col", "bm25_weight", "vector_weight", "bm25_candidates",
          "vector_candidates", "search_complexity"), 6)
      val k = a.get("k").map(int(fn, _)).getOrElse(10)
      val textCol = a.get("text_col").map(str(fn, _)).getOrElse("text")
      plan(Hybrid.hybridSearch(spark.table(str(fn, a("table"))), textCol,
        str(fn, a("vec_col")), str(fn, a("id_col")), str(fn, a("query_text")),
        vec(fn, a("query_vec")), k,
        bm25Weight = a.get("bm25_weight").map(dbl(fn, _))
          .getOrElse(Hybrid.DefaultBm25Weight),
        vectorWeight = a.get("vector_weight").map(dbl(fn, _))
          .getOrElse(Hybrid.DefaultVectorWeight),
        bm25Candidates = a.get("bm25_candidates").map(int(fn, _)).getOrElse(100),
        vectorCandidates = a.get("vector_candidates").map(int(fn, _)).getOrElse(100),
        indexName = str(fn, a("index")),
        searchComplexity = a.get("search_complexity").map(int(fn, _)).getOrElse(0)))
    },
    // FAISS reconstruct / reconstruct_n on the SQL surface (the repo's
    // "everything callable from SQL" contract): id-list and contiguous-range
    // forms → (row_id, vector), both threshold-gated against plan blowup
    // (idIn / two range comparisons — Ann.reconstruct scaladoc)
    "ann_reconstruct" -> { args =>
      val fn = "ann_reconstruct"
      val a = splitArgs(fn, args, Seq("index", "ids"), 2)
      plan(Ann.reconstruct(spark, str(fn, a("index")),
        longs(fn, a("ids")).toSeq))
    },
    "ann_reconstruct_n" -> { args =>
      val fn = "ann_reconstruct_n"
      val a = splitArgs(fn, args, Seq("index", "i0", "ni"), 3)
      plan(Ann.reconstructN(spark, str(fn, a("index")),
        lng(fn, a("i0")), lng(fn, a("ni"))))
    },
    "ann_list" -> { args =>
      if (args.nonEmpty) err("ann_list", "takes no arguments")
      plan(Ann.list(spark))
    },
    "ann_index_info" -> { args =>
      val fn = "ann_index_info"
      val a = splitArgs(fn, args, Seq("name"), 0)
      val all = Ann.indexInfo(spark)
      a.get("name") match {
        case Some(n) => plan(all.where(all("name") === str(fn, n)))
        case None => plan(all)
      }
    },
    "faiss_gpu_info" -> { args =>
      if (args.nonEmpty) err("faiss_gpu_info", "takes no arguments")
      plan(Ann.gpuInfo(spark))
    },
    "ann_recall" -> { args =>
      val fn = "ann_recall"
      val a = splitArgs(fn, args,
        Seq("table", "index", "k", "sample_n", "search_complexity"), 2)
      val index = str(fn, a("index"))
      val meta = IndexCatalog.load(Ann.root(spark), index)
      plan(Ann.measureRecall(spark.table(str(fn, a("table"))),
        meta.column, meta.idColumn, index,
        a.get("k").map(int(fn, _)).getOrElse(10),
        a.get("sample_n").map(int(fn, _)).getOrElse(100),
        a.get("search_complexity").map(int(fn, _)).getOrElse(0)))
    },
    "ann_create_index" -> { args =>
      val fn = "ann_create_index"
      val a = splitArgs(fn, args,
        Seq("table", "vector_col", "id_col", "index_name", "factory"), 5)
      val index = str(fn, a("index_name"))
      val s = spark
      // resolve the source table during analysis (bind-time validation, no
      // execution); the build itself is deferred to the command body
      val source = s.table(str(fn, a("table")))
      val vecCol = str(fn, a("vector_col")); val idCol = str(fn, a("id_col"))
      val factory = str(fn, a("factory"))
      CommandTvfNode(fn, outputOf(Ann.indexInfo(s)), () => {
        Ann.buildIndexFactory(source, vecCol, idCol, index, factory)
        val info = Ann.indexInfo(s)
        info.where(info("name") === index)
      })
    },
    "ann_vacuum" -> { args =>
      val fn = "ann_vacuum"
      val a = splitArgs(fn, args, Seq("index_name"), 1)
      val index = str(fn, a("index_name"))
      val s = spark
      CommandTvfNode(fn, outputOf(Ann.indexInfo(s)), () => {
        Ann.vacuum(s, index)
        val info = Ann.indexInfo(s)
        info.where(info("name") === index)
      })
    },
    "ann_drop" -> { args =>
      val fn = "ann_drop"
      val a = splitArgs(fn, args, Seq("index_name"), 1)
      val index = str(fn, a("index_name"))
      val s = spark
      import s.implicits._
      CommandTvfNode(fn, outputOf(Seq(true).toDF("dropped")),
        () => Seq(Ann.drop(s, index)).toDF("dropped"))
    },
    "diskann_streaming_build" -> { args =>
      val fn = "diskann_streaming_build"
      val a = splitArgs(fn, args, Seq("path", "index_name"), 2)
      val path = str(fn, a("path")); val index = str(fn, a("index_name"))
      val s = spark
      import s.implicits._
      CommandTvfNode(fn,
        outputOf(Seq((0L, 0, 0L)).toDF("num_vectors", "dimension", "sample_size")),
        () => {
          val (n, dim, sample) = Ann.streamingBuild(s, path, index)
          Seq((n, dim, sample)).toDF("num_vectors", "dimension", "sample_size")
        })
    },
    // ---- text-pipeline operators (SQL names for the TextOps surface) ----
    "rare_terms" -> { args =>
      val fn = "rare_terms"
      val a = splitArgs(fn, args, Seq("table", "text_col", "id_col", "k"), 3)
      val k = a.get("k").map(int(fn, _)).getOrElse(3)
      plan(graft.text.TextOps.rareTerms(spark.table(str(fn, a("table"))),
        str(fn, a("text_col")), str(fn, a("id_col")), k))
    },
    // the per-doc overlap REPORT (id, n_contaminated) — diagnosis, not
    // enforcement; `decontaminate` below is the filter that acts on it
    "contamination_counts" -> { args =>
      val fn = "contamination_counts"
      // eval_pred: a SQL boolean expression over the id column naming the
      // held-out eval split, e.g. 'doc_id % 5 = 0'
      val a = splitArgs(fn, args,
        Seq("table", "text_col", "id_col", "eval_pred", "n", "df_max"), 4)
      val idCol = str(fn, a("id_col"))
      plan(graft.text.TextOps.contaminationCounts(
        spark.table(str(fn, a("table"))), str(fn, a("text_col")),
        idCol, evalPredFromSql(fn, str(fn, a("eval_pred")), idCol),
        n = a.get("n").map(int(fn, _)).getOrElse(5),
        dfMax = a.get("df_max").map(int(fn, _)).getOrElse(50)))
    },
    // decontamination as a FILTER: the surviving training corpus (rows of
    // `table` minus the eval split minus rows overlapping it beyond
    // max_overlap) — the name now does what it says; the report that used
    // to live under this name is `contamination_counts`
    "decontaminate" -> { args =>
      val fn = "decontaminate"
      val a = splitArgs(fn, args,
        Seq("table", "text_col", "id_col", "eval_pred", "n", "df_max",
          "max_overlap"), 4)
      val idCol = str(fn, a("id_col"))
      plan(graft.text.TextOps.decontaminateFilter(
        spark.table(str(fn, a("table"))), str(fn, a("text_col")),
        idCol, evalPredFromSql(fn, str(fn, a("eval_pred")), idCol),
        n = a.get("n").map(int(fn, _)).getOrElse(5),
        dfMax = a.get("df_max").map(int(fn, _)).getOrElse(50),
        maxOverlap = a.get("max_overlap").map(int(fn, _).toLong).getOrElse(0L)))
    },
    "stratified_sample" -> { args =>
      val fn = "stratified_sample"
      // rate_permille: a SQL integer expression over the table's columns
      // giving the per-row keep rate in ‰, e.g.
      // 'CASE WHEN lang = ''en'' THEN 600 ELSE 250 END'
      val a = splitArgs(fn, args, Seq("table", "id_col", "rate_permille"), 3)
      val rate = org.apache.spark.sql.graftshim.GraftShim.column(
        spark.sessionState.sqlParser.parseExpression(str(fn, a("rate_permille"))))
      val df = spark.table(str(fn, a("table")))
      plan(df.where(graft.text.TextOps.sampleGate(
        df(str(fn, a("id_col"))), rate)))
    },
    "dedup_lines" -> { args =>
      val fn = "dedup_lines"
      val a = splitArgs(fn, args, Seq("table", "text_col", "id_col",
        "words_per_line"), 3)
      plan(graft.text.TextOps.dedupLines(spark.table(str(fn, a("table"))),
        str(fn, a("text_col")), str(fn, a("id_col")),
        a.get("words_per_line").map(int(fn, _)).getOrElse(20)))
    },
    "pack_sequences" -> { args =>
      val fn = "pack_sequences"
      val a = splitArgs(fn, args, Seq("table", "text_col", "id_col",
        "group_col", "budget"), 5)
      plan(graft.text.TextOps.packSequences(spark.table(str(fn, a("table"))),
        str(fn, a("text_col")), str(fn, a("id_col")),
        str(fn, a("group_col")), int(fn, a("budget")).toLong))
    },
    "curate_report" -> { args =>
      val fn = "curate_report"
      // langs: comma-separated keep-list; eval_pred: SQL boolean over the
      // id column marking the holdout split
      val a = splitArgs(fn, args, Seq("table", "text_col", "id_col", "langs",
        "min_quality", "max_dup_bigram_frac", "min_jaccard", "eval_pred",
        "sample_permille"), 4)
      val evalPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        a.get("eval_pred") match {
          case Some(e) => evalPredFromSql(fn, str(fn, e), str(fn, a("id_col")))
          case None => _ => org.apache.spark.sql.functions.lit(false)
        }
      val cfg = graft.text.Curate.Config(
        langs = str(fn, a("langs")).split(",").map(_.trim).toSet,
        minQuality = a.get("min_quality").map(dbl(fn, _)).getOrElse(0.25),
        maxDupBigramFrac = a.get("max_dup_bigram_frac").map(dbl(fn, _))
          .getOrElse(0.5),
        minJaccard = a.get("min_jaccard").map(dbl(fn, _)).getOrElse(0.6),
        evalPred = evalPred,
        samplePermille = a.get("sample_permille")
          .map(e => org.apache.spark.sql.functions.lit(int(fn, e)))
          .getOrElse(org.apache.spark.sql.functions.lit(1000)))
      plan(graft.text.Curate.report(spark.table(str(fn, a("table"))),
        str(fn, a("text_col")), str(fn, a("id_col")), cfg))
    },
    // duplicate clusters: (id, component = min id) over verified near-dup
    // pairs — chains collapse transitively
    // SemDeDup cluster-partitioned semantic dedup: iters=0 (default) uses
    // the k lowest-id vectors as seed centroids (the bit-reproducible
    // mode); iters>0 trains KMeansLite centroids (the quality mode)
    "semdedup" -> { args =>
      val fn = "semdedup"
      val a = splitArgs(fn, args, Seq("table", "vec_col", "id_col", "k",
        "threshold", "iters"), 5)
      val df = spark.table(str(fn, a("table")))
      val vc = str(fn, a("vec_col")); val ic = str(fn, a("id_col"))
      val k = int(fn, a("k")); val tau = dbl(fn, a("threshold"))
      val iters = a.get("iters").map(int(fn, _)).getOrElse(0)
      val cents = if (iters > 0)
        graft.text.SemDedup.trainedCentroids(df, vc, k, iters)
      else graft.text.SemDedup.seedCentroids(df, vc, ic, k)
      plan(graft.text.SemDedup.semdedup(df, vc, ic, cents, tau))
    },
    "dup_clusters" -> { args =>
      val fn = "dup_clusters"
      val a = splitArgs(fn, args, Seq("table", "text_col", "id_col",
        "min_jaccard"), 3)
      plan(graft.text.TextOps.connectedComponents(
        graft.text.TextOps.jaccardPairs(spark.table(str(fn, a("table"))),
          str(fn, a("text_col")), str(fn, a("id_col")),
          minJaccard = a.get("min_jaccard").map(dbl(fn, _)).getOrElse(0.6))))
    },
    // keep the best-scoring member of each duplicate cluster; score_expr is
    // a SQL expression over the table's columns, e.g. 'n_chars' or a
    // quality formula
    "dedup_minhash_best" -> { args =>
      val fn = "dedup_minhash_best"
      val a = splitArgs(fn, args, Seq("table", "text_col", "id_col",
        "score_expr", "min_jaccard"), 4)
      val score = org.apache.spark.sql.graftshim.GraftShim.column(
        spark.sessionState.sqlParser.parseExpression(str(fn, a("score_expr"))))
      plan(graft.text.TextOps.dedupByMinhashKeepBest(
        spark.table(str(fn, a("table"))), str(fn, a("text_col")),
        str(fn, a("id_col")), score,
        minJaccard = a.get("min_jaccard").map(dbl(fn, _)).getOrElse(0.6)))
    },
    "lm_score" -> { args =>
      val fn = "lm_score"
      val a = splitArgs(fn, args, Seq("table", "text_col", "id_col",
        "min_count"), 3)
      plan(graft.text.TextOps.lmScore(spark.table(str(fn, a("table"))),
        str(fn, a("text_col")), str(fn, a("id_col")),
        a.get("min_count").map(int(fn, _).toLong).getOrElse(2L)))
    },
    // targets: 'domain:budget,domain:budget' per-domain row budgets;
    // unlisted domains use default_target
    "domain_mix" -> { args =>
      val fn = "domain_mix"
      val a = splitArgs(fn, args, Seq("table", "domain_col", "id_col",
        "targets", "default_target"), 5)
      val targets = parseTargets(fn, str(fn, a("targets")))
      plan(graft.text.TextOps.domainMix(spark.table(str(fn, a("table"))),
        str(fn, a("domain_col")), str(fn, a("id_col")),
        targets, int(fn, a("default_target")).toLong))
    },
    // token-budget domain mixing: targets are 'domain:token_budget,…'
    "domain_mix_tokens" -> { args =>
      val fn = "domain_mix_tokens"
      val a = splitArgs(fn, args, Seq("table", "domain_col", "text_col",
        "id_col", "targets", "default_target"), 6)
      plan(graft.text.TextOps.domainMixTokens(spark.table(str(fn, a("table"))),
        str(fn, a("domain_col")), str(fn, a("text_col")),
        str(fn, a("id_col")), parseTargets(fn, str(fn, a("targets"))),
        int(fn, a("default_target")).toLong))
    },
    // fixpoint dedup: one min-id survivor per near-dup connected component
    "dedup_minhash_cc" -> { args =>
      val fn = "dedup_minhash_cc"
      val a = splitArgs(fn, args, Seq("table", "text_col", "id_col",
        "min_jaccard"), 3)
      plan(graft.text.TextOps.dedupByMinhashConverged(
        spark.table(str(fn, a("table"))), str(fn, a("text_col")),
        str(fn, a("id_col")),
        minJaccard = a.get("min_jaccard").map(dbl(fn, _)).getOrElse(0.6)))
    },
    // incremental ingest dedup: new-batch table vs existing-corpus table
    "dedup_vs_corpus" -> { args =>
      val fn = "dedup_vs_corpus"
      val a = splitArgs(fn, args, Seq("new_table", "corpus_table", "text_col",
        "id_col", "min_jaccard"), 4)
      plan(graft.text.TextOps.dedupVsCorpus(
        spark.table(str(fn, a("new_table"))),
        spark.table(str(fn, a("corpus_table"))),
        str(fn, a("text_col")), str(fn, a("id_col")),
        minJaccard = a.get("min_jaccard").map(dbl(fn, _)).getOrElse(0.6)))
    }
  )

  /** 'domain:budget,domain:budget' target lists for the mix TVFs. */
  private def parseTargets(fn: String, s: String): Map[String, Long] =
    s.split(",").iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split(":") match {
        case Array(k, v) => k.trim -> v.trim.toLong
        case _ => throw new IllegalArgumentException(
          s"$fn: bad targets entry '$kv' (want domain:budget)")
      }
    }.toMap

  /** Fresh output attributes for a command node, taken from a schema-template
   *  DataFrame (built effect-free during analysis). */
  private def outputOf(template: DataFrame) =
    template.queryExecution.analyzed.output

  /** Register on a live session (Graft.init path). Idempotent: re-registering
   *  replaces the previous builder. */
  def register(session: SparkSession): Unit = {
    val reg = session.sessionState.tableFunctionRegistry
    builders.foreach { case (name, b) =>
      reg.registerFunction(FunctionIdentifier(name),
        new ExpressionInfo(getClass.getCanonicalName, name), b)
    }
  }

  /** Descriptors for [[org.apache.spark.sql.SparkSessionExtensions.injectTableFunction]]. */
  def descriptors: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan)] =
    builders.map { case (name, b) =>
      (FunctionIdentifier(name), new ExpressionInfo(getClass.getCanonicalName, name), b)
    }
}
