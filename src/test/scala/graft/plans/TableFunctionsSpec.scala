package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/**
 * Pure-SQL end-to-end: build → list/info → search → join, with no Scala API
 * calls beyond Graft.init (the SQL-only client contract the reference's
 * table functions serve, src/ann_search.cpp:1165-1218).
 */
class TableFunctionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.graft.ann.root", s"/tmp/graft-test-tvf-${System.nanoTime()}")
    .getOrCreate()
  locally {
    spark.sparkContext.setLogLevel("ERROR")
    Graft.init(spark)
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView("emb")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("docs")
  }

  private def q0Sql: String = {
    val r = spark.table("emb").orderBy("vec_id").limit(1).collect()(0)
    r.getSeq[Float](r.fieldIndex("embedding")).map(f => s"${f}f").mkString("array(", ", ", ")")
  }

  test("pure SQL: create index, list, info, search, join — no Scala calls") {
    // build
    val created = spark.sql(
      "SELECT * FROM ann_create_index('emb', 'embedding', 'vec_id', 'sql_idx', 'Flat')")
      .collect()
    assert(created.length == 1 && created(0).getAs[String]("name") == "sql_idx")
    // catalog
    assert(spark.sql("SELECT * FROM ann_list()").collect()
      .exists(_.getAs[String]("name") == "sql_idx"))
    val info = spark.sql("SELECT * FROM ann_index_info('sql_idx')").collect()
    assert(info.length == 1 && info(0).getAs[Long]("num_vectors") == 500L)
    // search + join in one SQL statement
    val rows = spark.sql(
      s"""SELECT s.vec_id, s._distance, e.label
         |FROM ann_search('emb', 'sql_idx', $q0Sql, 5) s
         |JOIN emb e ON s.vec_id = e.vec_id
         |ORDER BY s._distance, s.vec_id""".stripMargin).collect()
    assert(rows.length == 5)
    assert(rows(0).getFloat(1) == 0.0f) // query is row 0's own vector
  }

  test("pure SQL: ann_reconstruct and ann_reconstruct_n round-trip stored vectors") {
    spark.sql(
      "SELECT * FROM ann_create_index('emb', 'embedding', 'vec_id', 'sql_rc', 'Flat')")
      .collect()
    val raw = spark.table("emb").where("vec_id IN (2, 5, 9)")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    val byIds = spark.sql(
      "SELECT * FROM ann_reconstruct('sql_rc', array(2, 9, 5)) ORDER BY row_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    assert(byIds == raw)
    val byRange = spark.sql(
      "SELECT * FROM ann_reconstruct_n('sql_rc', 5, 1)").collect()
    assert(byRange.length == 1 && byRange(0).getLong(0) == 5L &&
      byRange(0).getSeq[Float](1).toSeq == raw(5L))
  }

  test("pure SQL: ann_range_search returns every row inside the radius") {
    val rows = spark.sql(
      s"SELECT * FROM ann_range_search('emb', 'sql_idx', $q0Sql, 1.0)").collect()
    // query is row 0's own vector: itself (distance 0) is always inside
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Float]("_distance")).forall(_ <= 1.0f))
    assert(rows.exists(r => r.getAs[Long]("vec_id") == 0L &&
      r.getAs[Float]("_distance") == 0.0f))
  }

  test("pure SQL: ann_range_search_table returns per-query in-radius pairs") {
    spark.sql(
      "SELECT * FROM ann_create_index('emb', 'embedding', 'vec_id', 'sql_rt', 'Flat')")
      .collect()
    spark.sql("SELECT vec_id, embedding FROM emb WHERE vec_id < 2")
      .createOrReplaceTempView("sql_rt_queries")
    val rows = spark.sql(
      "SELECT * FROM ann_range_search_table('sql_rt_queries', 'emb', 'sql_rt', 1.5)")
      .collect()
    assert(rows.nonEmpty)
    // each query's own row is within any positive radius (distance 0)
    val pairs = rows.map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Long]("tbl_vec_id"))).toSet
    assert(pairs.contains((0L, 0L)) && pairs.contains((1L, 1L)))
    assert(rows.forall(_.getAs[Float]("_distance") <= 1.5f))
  }

  test("pure SQL: batch + table-input + vector_distances + gpu_info") {
    val batch = spark.sql(
      s"SELECT * FROM ann_search_batch('emb', 'sql_idx', array($q0Sql), 3)").collect()
    assert(batch.length == 3 && batch.forall(_.getAs[Int]("query_idx") == 0))
    // TABLE input via a temp view; query-vector column auto-detected
    spark.sql("CREATE OR REPLACE TEMP VIEW qview AS " +
      "SELECT vec_id AS qid, embedding FROM emb ORDER BY vec_id LIMIT 2")
    val st = spark.sql(
      "SELECT * FROM ann_search_table('qview', 'emb', 'sql_idx', 4)").collect()
    assert(st.length == 8) // 2 queries x k=4
    val vd = spark.sql(
      s"SELECT * FROM vector_distances('emb', $q0Sql)").collect()
    assert(vd.length == 500 && vd.head.schema.fieldNames.contains("_distance"))
    val gpu = spark.sql("SELECT * FROM faiss_gpu_info()").collect()
    assert(gpu.length == 1 && gpu(0).getAs[String]("device") == "cpu")
  }

  test("pure SQL: hybrid_search over a docs+embeddings view") {
    spark.sql("CREATE OR REPLACE TEMP VIEW dv AS " +
      "SELECT d.doc_id, d.text, e.embedding FROM docs d JOIN emb e ON d.doc_id = e.vec_id")
    val r = spark.sql(
      s"""SELECT * FROM hybrid_search('dv', '', 'embedding', 'doc_id',
         |$q0Sql, 'the data', 5, 'text')""".stripMargin)
    val rows = r.collect()
    assert(rows.length <= 5 && rows.nonEmpty)
    assert(r.columns.contains("_rrf_score"))
  }

  test("named arguments: name => value mirrors the reference's := params") {
    val over = spark.sql(
      s"SELECT * FROM ann_search('emb', 'sql_idx', $q0Sql, 2, oversample => 3)").collect()
    assert(over.length == 6) // k * oversample
    // search_complexity reaches the search; a flat index ignores it
    def top5(named: String) = spark.sql(
      s"SELECT vec_id, _distance FROM ann_search('emb', 'sql_idx', $q0Sql, 5$named)")
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(top5(", search_complexity => 200") == top5(""))
    val named = spark.sql(
      s"SELECT * FROM vector_distances('emb', $q0Sql, metric => 'ip')").collect()
    assert(named.length == 500)
    val e = intercept[Exception](spark.sql(
      s"SELECT * FROM ann_search('emb', 'sql_idx', $q0Sql, 2, nope => 1)").collect())
    assert(e.getMessage.contains("unknown argument name"))
  }

  test("ann_drop removes the index from the catalog") {
    spark.sql("SELECT * FROM ann_create_index('emb', 'embedding', 'vec_id', 'drop_me', 'Flat')").collect()
    val r = spark.sql("SELECT * FROM ann_drop('drop_me')").collect()
    assert(r.length == 1 && r(0).getBoolean(0))
    assert(!spark.sql("SELECT * FROM ann_list()").collect()
      .exists(_.getAs[String]("name") == "drop_me"))
  }

  test("side-effecting TVFs are EXPLAIN-safe: effect runs at execution only") {
    import graft.index.{Ann, IndexCatalog}
    def names(): Set[String] = IndexCatalog.list(Ann.root(spark)).map(_.name).toSet
    // create: EXPLAIN must not build the index
    spark.sql("EXPLAIN SELECT * FROM ann_create_index('emb', 'embedding', " +
      "'vec_id', 'lazy_ix', 'Flat')").collect()
    assert(!names().contains("lazy_ix"), "EXPLAIN over ann_create_index built the index")
    val created = spark.sql("SELECT * FROM ann_create_index('emb', 'embedding', " +
      "'vec_id', 'lazy_ix', 'Flat')").collect()
    assert(created.length == 1 && created(0).getAs[String]("name") == "lazy_ix")
    assert(names().contains("lazy_ix"))
    // vacuum: EXPLAIN must not touch tombstones
    Ann.delete(spark, "lazy_ix", Seq(0L))
    spark.sql("EXPLAIN SELECT * FROM ann_vacuum('lazy_ix')").collect()
    assert(IndexCatalog.readTombstones(Ann.root(spark), "lazy_ix").nonEmpty,
      "EXPLAIN over ann_vacuum ran the vacuum")
    val vac = spark.sql("SELECT * FROM ann_vacuum('lazy_ix')").collect()
    assert(vac.length == 1 && vac(0).getAs[Long]("num_deleted") == 0L)
    assert(IndexCatalog.readTombstones(Ann.root(spark), "lazy_ix").isEmpty)
    // drop: EXPLAIN must keep the index
    spark.sql("EXPLAIN SELECT * FROM ann_drop('lazy_ix')").collect()
    assert(names().contains("lazy_ix"), "EXPLAIN over ann_drop dropped the index")
    assert(spark.sql("SELECT * FROM ann_drop('lazy_ix')").collect()(0).getBoolean(0))
    assert(!names().contains("lazy_ix"))
  }

  test("optimizer-pruned command TVF does not run its effect (documented)") {
    // execution-time effects follow the standard Spark contract: a subtree
    // the optimizer prunes never executes. `LIMIT 0` asks for no rows, so
    // OptimizeLimitZero replaces the node and the effect is skipped — same
    // outcome as EXPLAIN (see CommandTvf scaladoc).
    import graft.index.{Ann, IndexCatalog}
    def names(): Set[String] = IndexCatalog.list(Ann.root(spark)).map(_.name).toSet
    spark.sql("SELECT * FROM ann_create_index('emb', 'embedding', " +
      "'vec_id', 'limit0_ix', 'Flat') LIMIT 0").collect()
    assert(!names().contains("limit0_ix"),
      "LIMIT 0 consumed no rows but the effect ran anyway")
    // consuming the row runs the effect
    spark.sql("SELECT * FROM ann_create_index('emb', 'embedding', " +
      "'vec_id', 'limit0_ix', 'Flat') LIMIT 1").collect()
    assert(names().contains("limit0_ix"))
    spark.sql("SELECT * FROM ann_drop('limit0_ix')").collect()
  }

  test("hybrid_search knobs: weights/candidates/search_complexity from pure SQL") {
    // dv view exists from the hybrid test; all-BM25 weights vs all-vector
    // weights must produce different top hits on a text query that is not
    // the vector query's own document
    val bm25Heavy = spark.sql(
      s"""SELECT * FROM hybrid_search('dv', '', 'embedding', 'doc_id',
         |$q0Sql, 'the data', 5, 'text',
         |bm25_weight => 1.0, vector_weight => 0.0)""".stripMargin).collect()
    val vecHeavy = spark.sql(
      s"""SELECT * FROM hybrid_search('dv', '', 'embedding', 'doc_id',
         |$q0Sql, 'the data', 5, 'text',
         |bm25_weight => 0.0, vector_weight => 1.0,
         |bm25_candidates => 50, vector_candidates => 50)""".stripMargin).collect()
    assert(bm25Heavy.nonEmpty && vecHeavy.nonEmpty)
    // vector-only fusion must rank the query vector's own row first
    assert(vecHeavy(0).getAs[Long]("id") == 0L,
      s"vector-weighted fusion should surface doc 0, got ${vecHeavy(0)}")
    val weighted = spark.sql(
      s"""SELECT * FROM hybrid_search('dv', '', 'embedding', 'doc_id',
         |$q0Sql, 'the data', k => 5, text_col => 'text',
         |bm25_weight => 0.5, vector_weight => 0.5, search_complexity => 64)
         |""".stripMargin).collect()
    assert(weighted.length <= 5 && weighted.nonEmpty)
  }

  test("errors: non-literal args and unknown index fail cleanly") {
    val e1 = intercept[Exception](spark.sql(
      "SELECT * FROM ann_search('emb', 'sql_idx', collect_list(1.0) , 5)").collect())
    assert(e1.getMessage != null)
    val e2 = intercept[Exception](spark.sql(
      s"SELECT * FROM ann_search('emb', 'nope_idx', $q0Sql, 5)").collect())
    assert(e2.getMessage.toLowerCase.contains("nope_idx") ||
           e2.getMessage.toLowerCase.contains("index"))
  }

  test("pure SQL: text-pipeline ops — rare_terms, decontaminate, stratified_sample, pii_scrub") {
    import org.apache.spark.sql.functions.{col, when}
    // rare_terms TVF == Scala API
    val sqlRare = spark.sql(
      "SELECT * FROM rare_terms('docs', 'text', 'doc_id', 3) ORDER BY doc_id, rnk")
      .collect().map(_.toSeq).toSeq
    val scalaRare = graft.text.TextOps.rareTerms(
        spark.table("docs"), "text", "doc_id", 3)
      .orderBy("doc_id", "rnk").collect().map(_.toSeq).toSeq
    assert(sqlRare.nonEmpty && sqlRare == scalaRare)

    // contamination_counts TVF (the report): eval predicate as a SQL string
    val sqlDecon = spark.sql(
      "SELECT * FROM contamination_counts('docs', 'text', 'doc_id', 'doc_id % 5 = 0') ORDER BY id")
      .collect().map(_.toSeq).toSeq
    val scalaDecon = graft.text.TextOps.contaminationCounts(
        spark.table("docs"), "text", "doc_id", id => id % 5 === 0)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(sqlDecon == scalaDecon && sqlDecon.nonEmpty)

    // decontaminate TVF (the filter): returns the surviving corpus rows
    val sqlFilt = spark.sql(
      "SELECT doc_id FROM decontaminate('docs', 'text', 'doc_id', 'doc_id % 5 = 0') ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    val scalaFilt = graft.text.TextOps.decontaminateFilter(
        spark.table("docs"), "text", "doc_id", id => id % 5 === 0)
      .orderBy("doc_id").collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(sqlFilt == scalaFilt && sqlFilt.nonEmpty)

    // stratified_sample TVF: per-stratum rate expression in SQL
    val sqlSample = spark.sql(
      """SELECT doc_id FROM stratified_sample('docs', 'doc_id',
        |  'CASE WHEN lang = ''en'' THEN 600 ELSE 250 END') ORDER BY doc_id""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    val scalaSample = spark.table("docs")
      .where(graft.text.TextOps.sampleGate(col("doc_id"),
        when(col("lang") === "en", 600).otherwise(250)))
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(sqlSample == scalaSample && sqlSample.nonEmpty)

    // pii_scrub + sample_gate + term_counts scalar functions
    val scrubbed = spark.sql(
      """SELECT pii_scrub('mail bob@x.org or 10.0.0.1 call 555-1234').redacted AS r,
        |       pii_scrub('mail bob@x.org or 10.0.0.1 call 555-1234').n_emails AS ne,
        |       sample_gate(7, 1000) AS g,
        |       term_counts('a b a')[0].term_freq AS tf""".stripMargin).collect()(0)
    assert(scrubbed.getAs[String]("r") == "mail <EMAIL> or <IP> call <PHONE>")
    assert(scrubbed.getAs[Long]("ne") == 1L)
    assert(scrubbed.getAs[Boolean]("g"))
    assert(scrubbed.getAs[Long]("tf") == 2L)
  }

  test("text TVF error paths: unknown table, bad eval predicate") {
    val e1 = intercept[Exception](spark.sql(
      "SELECT * FROM rare_terms('no_such_table', 'text', 'doc_id')").collect())
    assert(e1.getMessage != null)
    val e2 = intercept[Exception](spark.sql(
      "SELECT * FROM decontaminate('docs', 'text', 'doc_id', 'NOT A (((')").collect())
    assert(e2.getMessage != null)
  }

  test("pure SQL: dedup_lines, pack_sequences, curate_report, hashed_tf, word_lines") {
    val sqlLines = spark.sql(
      "SELECT * FROM dedup_lines('docs', 'text', 'doc_id', 3) ORDER BY doc_id")
      .collect().map(_.toSeq).toSeq
    val scalaLines = graft.text.TextOps.dedupLines(
        spark.table("docs"), "text", "doc_id", 3)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(sqlLines.nonEmpty && sqlLines == scalaLines)

    val sqlPack = spark.sql(
      "SELECT * FROM pack_sequences('docs', 'text', 'doc_id', 'lang', 256) ORDER BY lang, doc_id")
      .collect().map(_.toSeq).toSeq
    val scalaPack = graft.text.TextOps.packSequences(
        spark.table("docs"), "text", "doc_id", "lang", 256L)
      .orderBy("lang", "doc_id").collect().map(_.toSeq).toSeq
    assert(sqlPack == scalaPack && sqlPack.nonEmpty)

    val report = spark.sql(
      """SELECT * FROM curate_report('docs', 'text', 'doc_id', 'en,de',
        |  min_quality => 0.3, eval_pred => 'doc_id % 5 = 0',
        |  sample_permille => 700) ORDER BY reason""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report.values.sum == spark.table("docs").count())
    assert(report.contains("kept"))

    val row = spark.sql(
      """SELECT hashed_tf('a b a', 8) AS h, word_lines('a b c d e', 2) AS w""")
      .collect()(0)
    val h = row.getSeq[org.apache.spark.sql.Row](0)
    assert(h.map(_.getLong(1)).sum == 3L)
    assert(row.getSeq[String](1) == Seq("a b", "c d", "e"))
  }

  test("pure SQL: dup_clusters, dedup_minhash_best, lm_score, domain_mix") {
    import org.apache.spark.sql.functions.col
    val sqlCc = spark.sql(
      "SELECT * FROM dup_clusters('docs', 'text', 'doc_id', 0.6) ORDER BY id")
      .collect().map(_.toSeq).toSeq
    val scalaCc = graft.text.TextOps.connectedComponents(
        graft.text.TextOps.jaccardPairs(spark.table("docs"), "text", "doc_id",
          minJaccard = 0.6))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(sqlCc == scalaCc)

    // score as a SQL expression over the table's own columns
    val sqlBest = spark.sql(
      "SELECT doc_id FROM dedup_minhash_best('docs', 'text', 'doc_id', 'n_chars') ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    val scalaBest = graft.text.TextOps.dedupByMinhashKeepBest(
        spark.table("docs"), "text", "doc_id", col("n_chars"))
      .orderBy("doc_id").collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(sqlBest == scalaBest && sqlBest.nonEmpty)

    val sqlLm = spark.sql(
      "SELECT * FROM lm_score('docs', 'text', 'doc_id', 2) ORDER BY doc_id")
      .collect().map(_.toSeq).toSeq
    val scalaLm = graft.text.TextOps.lmScore(spark.table("docs"), "text", "doc_id")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(sqlLm == scalaLm && sqlLm.nonEmpty)

    val sqlMix = spark.sql(
      """SELECT doc_id FROM domain_mix('docs', 'source', 'doc_id',
        |  'src0:5,src1:3', 2) ORDER BY doc_id""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    val scalaMix = graft.text.TextOps.domainMix(spark.table("docs"),
        "source", "doc_id", Map("src0" -> 5L, "src1" -> 3L), 2L)
      .orderBy("doc_id").collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(sqlMix == scalaMix && sqlMix.nonEmpty)

    // bad targets string fails cleanly
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM domain_mix('docs', 'source', 'doc_id', 'nonsense', 2)")
      .collect())
    assert(e.getMessage != null)

    val sqlMixT = spark.sql(
      """SELECT doc_id FROM domain_mix_tokens('docs', 'source', 'text',
        |  'doc_id', 'src0:500,src1:100', 80) ORDER BY doc_id""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    val scalaMixT = graft.text.TextOps.domainMixTokens(spark.table("docs"),
        "source", "text", "doc_id", Map("src0" -> 500L, "src1" -> 100L), 80L)
      .orderBy("doc_id").collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(sqlMixT == scalaMixT && sqlMixT.nonEmpty)

    val sqlCcDedup = spark.sql(
      "SELECT doc_id FROM dedup_minhash_cc('docs', 'text', 'doc_id') ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    val scalaCcDedup = graft.text.TextOps.dedupByMinhashConverged(
        spark.table("docs"), "text", "doc_id")
      .orderBy("doc_id").collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(sqlCcDedup == scalaCcDedup && sqlCcDedup.nonEmpty)

    spark.table("docs").where("doc_id % 10 = 0")
      .createOrReplaceTempView("new_batch")
    spark.table("docs").where("doc_id % 10 <> 0")
      .createOrReplaceTempView("archive")
    val sqlVs = spark.sql(
      "SELECT doc_id FROM dedup_vs_corpus('new_batch', 'archive', 'text', 'doc_id') ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    val scalaVs = graft.text.TextOps.dedupVsCorpus(
        spark.table("new_batch"), spark.table("archive"), "text", "doc_id")
      .orderBy("doc_id").collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(sqlVs == scalaVs && sqlVs.nonEmpty)
  }

  test("contamination_counts TVF survives the DISTRIBUTED route (eval_pred substitution)") {
    // force the distributed n-gram fallback: the SQL eval predicate must be
    // a genuine function of the id (applied to HOF element variables), not
    // a captured column reference
    spark.conf.set("spark.graft.localMaxBytes", "0")
    try {
      val sql = spark.sql(
        "SELECT * FROM contamination_counts('docs', 'text', 'doc_id', 'doc_id % 5 = 0') ORDER BY id")
        .collect().map(_.toSeq).toSeq
      val scala = graft.text.TextOps.contaminationCounts(
          spark.table("docs"), "text", "doc_id", id => id % 5 === 0)
        .orderBy("id").collect().map(_.toSeq).toSeq
      assert(sql == scala && sql.nonEmpty)
    } finally spark.conf.unset("spark.graft.localMaxBytes")
  }

  test("ann_recall: flat index measures 1.0, diskann clears the floor") {
    spark.sql(
      "SELECT * FROM ann_create_index('emb', 'embedding', 'vec_id', 'rc_flat', 'Flat')")
      .collect()
    val flat = spark.sql(
      "SELECT * FROM ann_recall('emb', 'rc_flat', 10, 50)").collect()(0)
    assert(flat.getAs[String]("name") == "rc_flat")
    assert(flat.getAs[Long]("sample_n") == 50L)
    assert(flat.getAs[Long]("eff_n") == 50L)
    assert(flat.getAs[Double]("recall") == 1.0,
      s"flat exact serving must have perfect recall, got $flat")
    spark.sql(
      "SELECT * FROM ann_create_index('emb', 'embedding', 'vec_id', 'rc_g', 'DiskANN32')")
      .collect()
    val g = spark.sql(
      "SELECT * FROM ann_recall('emb', 'rc_g', 10, 50, search_complexity => 128)")
      .collect()(0)
    assert(g.getAs[Double]("recall") >= 0.9, s"graph recall too low: $g")
  }

  test("ann_search_filtered: SQL == Scala IdFilter route on both engines") {
    spark.sql(
      "SELECT * FROM ann_create_index('emb', 'embedding', 'vec_id', 'fs_flat', 'Flat')")
      .collect()
    spark.sql(
      "SELECT * FROM ann_create_index('emb', 'embedding', 'vec_id', 'fs_g', 'DiskANN32')")
      .collect()
    for (idx <- Seq("fs_flat", "fs_g")) {
      val sql = spark.sql(
        s"SELECT vec_id FROM ann_search_filtered('emb', '$idx', $q0Sql, 5, 'id % 7 = 3')")
        .collect().map(_.getLong(0)).toSeq
      val q0 = spark.table("emb").orderBy("vec_id").limit(1).collect()(0)
        .getSeq[Float](1).toArray
      val scala = graft.index.Ann.searchFiltered(spark, idx, q0, 5,
        graft.index.Ann.IdFilter.modEq(7, 3))
        .collect().map(_.getLong(0)).toSeq
      assert(sql == scala && sql.nonEmpty, s"$idx: sql $sql vs scala $scala")
      assert(sql.forall(_ % 7 == 3))
    }
  }

  test("idFilterFromSql: closure matches the Column semantics (IN/BETWEEN/mod)") {
    val preds = Seq("id % 7 = 3", "id IN (2, 4, 8, 16)", "id BETWEEN 10 AND 20",
      "id % 2 = 0 AND id > 100")
    val ids = -5L to 120L
    for (p <- preds) {
      val filt = graft.index.Ann.idFilterFromSql(spark, p)
      import spark.implicits._
      val byColumn = ids.toDF("id").where(filt.column)
        .collect().map(_.getLong(0)).toSet
      val byFn = ids.filter(filt.fn).toSet
      assert(byFn == byColumn, s"predicate '$p': fn $byFn vs column $byColumn")
    }
    intercept[IllegalArgumentException] {
      graft.index.Ann.idFilterFromSql(spark, "id + 1") // not a boolean
    }
  }

  test("semdedup TVF == Scala operator (seed mode)") {
    val sql = spark.sql(
      "SELECT * FROM semdedup('emb', 'embedding', 'vec_id', 8, 0.4) ORDER BY id")
      .collect().map(_.toSeq).toSeq
    val emb = spark.table("emb")
    val seeds = graft.text.SemDedup.seedCentroids(emb, "embedding", "vec_id", 8)
    val scala = graft.text.SemDedup.semdedup(emb, "embedding", "vec_id", seeds, 0.4)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(sql == scala && sql.nonEmpty)
  }
}
