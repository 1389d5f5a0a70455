package graft

import org.apache.spark.sql.{SparkSession, DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{toFloatVec, floatVec, array_distance, array_inner_product,
  array_cosine_similarity}
import graft.index.Ann
import graft.text.{Curate, TextOps, TextSql}
import graft.search.Hybrid

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 exposes a `queries` entry; those whose
  * semantics are exactly SQL-expressible also carry a DuckDB oracle in
  * `oracleSql` (ANN-approximate results get the weaker rows-only check).
  * All float math that is oracle-checked accumulates in double precision so
  * Spark and DuckDB (over DOUBLE[] casts) produce bit-comparable values.
  */
object SparkEntry {

  /** Second deterministic query vector (reversed ramp) for multi-query ops. */
  private[graft] val Q64B: Seq[Float] = (0 until 64).map(i => (7 - (i % 8)) / 8.0f)
  private[graft] def q64bSql: String =
    Q64B.map(v => f"$v%.3f").mkString("[", ", ", "]::DOUBLE[]")

  /** Deterministic 64-dim query vector, exactly representable in f32 & f64. */
  private[graft] val Q64: Seq[Float] = (0 until 64).map(i => (i % 8) / 8.0f)
  private[graft] def q64Sql: String =
    Q64.map(v => f"$v%.3f").mkString("[", ", ", "]::DOUBLE[]")
  private[graft] def q64Arr: Array[Float] = Q64.toArray

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Attach 1-based ranks to an already-bounded (top-k / filtered-hits)
    * result under a TOTAL order (every call site tiebreaks on vec_id):
    * row_number over the same ordering — rank-identical to the previous
    * `.orderBy(...).rdd.zipWithIndex()` spelling, which ran an eager
    * partition-count job executing the ENTIRE upstream plan (index search +
    * exact re-rank) and then re-executed it through the ExistingRDD lineage
    * when the final action ran: every exact-rank entry paid its search twice
    * per action, off the codegen path. The single-partition window is
    * bounded — callers feed ≤ top-k rows, never a corpus. */
  private def rankedBy(order: Column*)(df: DataFrame): DataFrame =
    df.select(col("vec_id"), row_number().over(Window.orderBy(order: _*))
        .cast("long").as("rank"))
      .orderBy("rank")

  /** Scalar-quantization saturation oracle at `levels` quantization levels
    * (255 = SQ8, 63 = SQ6, 15 = SQ4): replay the per-dim min/max quantizer
    * in SQL and rank by L2 of the dequantized vectors. */
  /** Generated oracle for the LSH training suffixes (`LSH<nbits>[r|t|rt]`,
    * seeded hyperplanes = the nbits lowest-id embeddings): replays the
    * build bit-for-bit in SQL —
    *   rotate:  unrolled CLASSICAL Gram-Schmidt (per row k: all dots
    *            d_k_j = Σ h_k[i]·e_j[i] from the ORIGINAL row first, then
    *            w_k[i] = h_k[i] − d_k_0·e_0[i] − … left-associated, then
    *            normalize), in double, float-rounded once at the end —
    *            exactly VectorOps.orthonormalizeRows + the f32 store;
    *   trained: per-bit threshold = list_sum(list(p ORDER BY vec_id)) / n,
    *            the same id-ordered sequential double mean
    *            LshCodec.trainThresholds computes (trainSample covers the
    *            whole corpus at oracle scale);
    * then ranks by Hamming distance of the (thresholded) sign codes. */
  private def lshVariantOracleSql(nbits: Int, rotate: Boolean,
      trained: Boolean): String = {
    val rng = "range(1, 65)"
    val bits = 0 until nbits
    val sb = new StringBuilder
    sb ++= s"WITH h AS (\n  SELECT CAST(vec_id AS INT) AS b, CAST(embedding AS DOUBLE[]) AS v\n"
    sb ++= s"  FROM embeddings WHERE vec_id < $nbits),\n"
    sb ++= "g AS (SELECT " +
      bits.map(b => s"(SELECT v FROM h WHERE b = $b) AS h$b").mkString(", ") + "),\n"
    val lastE = if (rotate) {
      sb ++= s"e0 AS (SELECT *, list_transform($rng, i -> h0[i] / " +
        s"sqrt(list_sum(list_transform($rng, j -> h0[j]*h0[j])))) AS v0 FROM g),\n"
      for (k <- 1 until nbits) {
        val dots = (0 until k).map(j =>
          s"list_sum(list_transform($rng, i -> h$k[i]*v$j[i])) AS d${k}_$j").mkString(", ")
        sb ++= s"d$k AS (SELECT *, $dots FROM e${k - 1}),\n"
        val sub = (0 until k).map(j => s" - d${k}_$j*v$j[i]").mkString
        sb ++= s"w$k AS (SELECT *, list_transform($rng, i -> h$k[i]$sub) AS t$k FROM d$k),\n"
        sb ++= s"e$k AS (SELECT *, list_transform($rng, i -> t$k[i] / " +
          s"sqrt(list_sum(list_transform($rng, j -> t$k[j]*t$k[j])))) AS v$k FROM w$k),\n"
      }
      s"e${nbits - 1}"
    } else "g"
    // f<b>: the stored float hyperplanes (GS output rounds to f32 once;
    // raw seeds are already f32-exact in their double cast)
    val fCols = bits.map { b =>
      if (rotate) s"list_transform(v$b, x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS f$b"
      else s"h$b AS f$b"
    }.mkString(", ")
    sb ++= s"ef AS (SELECT $fCols FROM $lastE),\n"
    sb ++= "pv AS (SELECT e.vec_id, " + bits.map(b =>
      s"list_sum(list_transform($rng, i -> CAST(e.embedding AS DOUBLE[])[i] * ef.f$b[i])) AS p$b")
      .mkString(", ") + "\n  FROM embeddings e CROSS JOIN ef),\n"
    sb ++= "pq AS (SELECT " + bits.map(b =>
      s"list_sum(list_transform($rng, i -> ($q64Sql)[i] * f$b[i])) AS q$b")
      .mkString(", ") + " FROM ef)"
    if (trained)
      sb ++= ",\nthr AS (SELECT " + bits.map(b =>
        s"list_sum(list(p$b ORDER BY vec_id)) / count(*) AS t$b")
        .mkString(", ") + " FROM pv)"
    val thrOf = (b: Int) => if (trained) s"thr.t$b" else "0"
    sb ++= "\nSELECT pv.vec_id, CAST(" + bits.map(b =>
      s"(CASE WHEN (pv.p$b >= ${thrOf(b)}) <> (pq.q$b >= ${thrOf(b)}) THEN 1 ELSE 0 END)")
      .mkString(" + ") + " AS BIGINT) AS hamming\n"
    sb ++= "FROM pv CROSS JOIN pq" + (if (trained) " CROSS JOIN thr" else "") + "\n"
    sb ++= "ORDER BY hamming, vec_id LIMIT 10"
    sb.toString
  }

  /** Shared CTE chain of the SQ quantizer replay: per-dim min/max over the
    * corpus, code = clamp(round((v−min)/scale·levels)), dequantize, then the
    * L2 distance of each dequantized vector to the query — ends with a
    * `dist(vec_id, dd)` relation the caller ranks or radius-filters. */
  private def sqDequantDistSql(levels: Int): String =
    s"""WITH ex AS (
       |  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS e,
       |         unnest(range(1, 65)) AS i
       |  FROM embeddings),
       |mm AS (
       |  SELECT i, min(e) AS mn,
       |    CASE WHEN max(e) > min(e) THEN max(e) - min(e) ELSE 1.0 END AS sc
       |  FROM ex GROUP BY i),
       |deq AS (
       |  SELECT x.vec_id, x.i,
       |    m.mn + (least($levels, greatest(0,
       |      round((x.e - m.mn) / m.sc * $levels))) / $levels.0) * m.sc AS v
       |  FROM ex x JOIN mm m ON m.i = x.i),
       |dist AS (
       |  SELECT vec_id,
       |    sum((v - ($q64Sql)[i]) * (v - ($q64Sql)[i])) AS dd
       |  FROM deq GROUP BY vec_id)""".stripMargin

  private def sqExactOracleSql(levels: Int): String =
    s"""${sqDequantDistSql(levels)}
       |SELECT vec_id, rank FROM (
       |  SELECT vec_id, row_number() OVER (ORDER BY dd, vec_id) AS rank
       |  FROM dist)
       |WHERE rank <= 10 ORDER BY rank""".stripMargin

  /** Range variant of the SQ replay: every row whose dequantized L2 distance
    * is within the radius (row-SET oracle — ann_range_graph_exact pattern). */
  private def sqRangeOracleSql(levels: Int, radius: String): String =
    s"""${sqDequantDistSql(levels)}
       |SELECT vec_id FROM dist WHERE dd <= $radius ORDER BY vec_id""".stripMargin

  /** TABLE variant of the SQ range replay: per-(query, row) dequantized L2
    * distances for the vec_id < 3 query block, radius-filtered — the
    * `ann_range_ivfsq` oracle with the query table joined in (row-SET
    * oracle; per-query radii pruning is exact in code space at any
    * nprobe, so the probed answer equals this full filter). */
  private def sqRangeTableOracleSql(levels: Int, radius: String): String =
    s"""${sqDequantDistSql(levels)},
       |q AS (
       |  SELECT vec_id AS qid, unnest(CAST(embedding AS DOUBLE[])) AS qe,
       |         unnest(range(1, 65)) AS i
       |  FROM embeddings WHERE vec_id < 3),
       |pdist AS (
       |  SELECT q.qid, d.vec_id, sum((d.v - q.qe) * (d.v - q.qe)) AS dd
       |  FROM deq d JOIN q ON q.i = d.i
       |  GROUP BY q.qid, d.vec_id)
       |SELECT qid, vec_id AS rid FROM pdist WHERE dd <= $radius
       |ORDER BY qid, rid""".stripMargin

  /** Read events.parquet robustly across testdata generations. Older fixtures
    * wrote `ts` as parquet TIMESTAMP(NANOS), which Spark can only read as a
    * nanos-as-long LongType (legacy conf); newer fixtures write
    * TIMESTAMP_NTZ(µs), which reads as a timestamp. Returns the original
    * columns plus `tus` = epoch micros as LONG — identical under both shapes
    * (DuckDB's parquet reader truncates a NANOS column to µs the same way).
    * The legacy conf is scoped to a child session (shared SparkContext,
    * isolated SQLConf) so concurrent queries never observe the toggle; on a
    * µs file the conf is a no-op. UTC pins the NTZ→epoch interpretation to
    * DuckDB's naive-timestamp `epoch_us` semantics.
    */
  def readEvents(s: SparkSession, dir: String): DataFrame = {
    val child = s.newSession()
    child.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    child.conf.set("spark.sql.session.timeZone", "UTC")
    val ev = child.read.parquet(s"$dir/events.parquet")
    ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        ev.withColumn("tus", expr("ts div 1000"))
      case _ =>
        ev.withColumn("tus", unix_micros(col("ts").cast("timestamp")))
    }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * ANN top-k over the embeddings table through the DiskANN index path. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val emb = t(spark, dir, "embeddings")
    Ann.buildIndex(emb, "embedding", "vec_id", "entry_idx",
      Ann.BuildParams(engine = "diskann", numShards = 2, maxDegree = 32,
        buildComplexity = 64))
    Ann.search(emb, "vec_id", "entry_idx", q64Arr, 10, searchComplexity = 100)
  }

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- relational surface (host-engine capabilities, SURVEY §2.2) ----

    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q3_join" -> ((s, dir) => {
      val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      // join the selective customer filter into orders FIRST (inner joins
      // commute, so rows are identical): lineitem — the big side — then
      // joins a ~5x-smaller orderkey set instead of all of orders, and the
      // aggregate's input shrinks the same 5x. Catalyst does not reorder
      // joins without CBO, so spell it directly; the broadcast hint on the
      // reduced key set mirrors the existing broadcast(c) hint (without it
      // the planner's file-size estimate picks LINEITEM as the build side
      // and broadcasts the fact table). The un-reordered shape reshuffles
      // the full l⋈o join output on o_custkey at cluster scale; this one
      // only ever moves orders-sized data before lineitem's single pass.
      val okeys = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey")
      // the okeys broadcast is gated on the ORDERS scan size (okeys ⊆
      // orders, projected to one key column — the base scan's file-backed
      // stat bounds it above; the okeys plan's own stats are join-inflated):
      // okeys is scale-proportional, and an unconditional hint would walk
      // into the 8 GB / 512M-row broadcast cap at large scale factors.
      // Under the gate (default 256 MB of orders bytes ⇒ key column far
      // smaller) the hint overrides the planner's file-size estimate, which
      // otherwise picks LINEITEM — the fact table — as the build side;
      // above it the hint is dropped and AQE picks the strategy.
      val bcMax = s.conf.getOption("spark.graft.q3.broadcastMaxBytes")
        .map(_.toLong).getOrElse(256L << 20)
      val okeysB =
        if (o.queryExecution.optimizedPlan.stats.sizeInBytes <= bcMax)
          broadcast(okeys) else okeys
      l.join(okeysB, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(desc("revenue"), col("o_orderkey"))
        .limit(10)
    }),

    "q_window" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 2)
        .select("o_custkey", "o_orderkey", "rk")
        .orderBy("o_custkey", "rk")
    }),

    "q_setops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.where(year(col("o_orderdate")) === 1995).select("o_custkey")
      val b = o.where(year(col("o_orderdate")) === 1996).select("o_custkey")
      val c = o.where(col("o_totalprice") > 450000).select("o_custkey")
      a.intersect(b).except(c).orderBy("o_custkey")
    }),

    "q_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sq"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    "q_scalar_fns" -> ((s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 8)).as("u"),
        length(col("p_name")).cast("long").as("len"),
        round(col("p_retailprice") * 1.1, 2).as("priced"),
        concat_ws("-", col("p_brand"), col("p_type")).as("tag"))
        .orderBy("p_partkey")
    }),

    "q_semijoin" -> ((s, dir) => {
      val l97 = t(s, dir, "lineitem")
        .where(year(col("l_shipdate")) === 1997).select("l_suppkey")
      t(s, dir, "supplier")
        .join(l97, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    }),

    "q_antijoin" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_no_orders"), min("c_custkey").as("min_key"))
        .orderBy("c_mktsegment")
    }),

    "q_multijoin" -> ((s, dir) => {
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_suppliers"),
          min("s_acctbal").as("min_bal"), max("s_acctbal").as("max_bal"))
        .orderBy("r_name")
    }),

    "q_distinct_agg" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(countDistinct("o_custkey").as("n_custs"), count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    "q_case_agg" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          sum(when(col("o_totalprice") > 250000, 1L).otherwise(0L)).as("n_big"),
          count(lit(1)).as("n"),
          round(avg("o_totalprice"), 2).as("avg_price"))
        .orderBy("o_orderpriority")
    }),

    "events_agg" -> ((s, dir) => {
      // group by hour as epoch seconds so the oracle compare is integer-exact
      // in both engines; readEvents normalizes ts to epoch-µs `tus` across
      // testdata generations (TIMESTAMP(NANOS) vs TIMESTAMP_NTZ(µs)).
      readEvents(s, dir)
        .groupBy(col("event_type"),
          ((col("tus") - col("tus") % 3600000000L) / 1000000L)
            .cast("long").as("h"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sv"))
        .orderBy("event_type", "h")
    }),

    // semi-structured JSON: extract a typed field from the props payload
    // and aggregate — codegen'd get_json_object, integer-exact outputs
    "events_json" -> ((s, dir) => {
      readEvents(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"), max("k").as("max_k"))
        .orderBy("event_type")
    }),

    // gaps-and-islands sessionization over the event stream: a >30-min gap
    // starts a new session. Timestamps are exact epoch-micros longs via
    // readEvents, so the whole computation — gap compare, session ids,
    // min/max — is integer-exact in both engines. Partition-parallel by
    // user_id.
    "events_sessionize" -> ((s, dir) => {
      val ev = readEvents(s, dir)
        .select(col("user_id"), col("tus"), col("event_id"))
      // one-shuffle per-user scan (Sessionize.sessionizeBatch) — row-identical
      // to the lag → cumsum → groupBy windowed shape the oracle SQL runs,
      // including the strict-> gap boundary that matches session_window
      // (SessionizeSpec pins both)
      graft.streaming.Sessionize.sessionizeBatch(ev, "user_id", "tus",
          "event_id", 30L * 60 * 1000000L)
        .orderBy("user_id", "session_seq")
    }),

    // ---- brute-force distance + top-k (SURVEY §2.1 #9; the semantic oracle) ----

    "knn_exact_l2" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          array_distance(toFloatVec(col("embedding")), floatVec(Q64)).as("_distance"))
        .orderBy(col("_distance"), col("vec_id"))
        .limit(10)
    }),

    "knn_exact_ip" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          array_inner_product(toFloatVec(col("embedding")), floatVec(Q64)).as("sim"))
        .orderBy(desc("sim"), col("vec_id"))
        .limit(10)
    }),

    "knn_exact_cos" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          array_cosine_similarity(toFloatVec(col("embedding")), floatVec(Q64)).as("sim"))
        .orderBy(desc("sim"), col("vec_id"))
        .limit(10)
    }),

    // ---- vector_distances (SURVEY §2.1 #15): distance for every row ----

    // LATERAL top-k-per-probe shape (reference bench
    // bench/metal_diskann_bench.sql:31-39): nearest 3 vectors per label group
    "knn_per_group" -> ((s, dir) => {
      val dd = array_distance(toFloatVec(col("embedding")), floatVec(Q64))
      val w = Window.partitionBy("label").orderBy(col("__dd"), col("vec_id"))
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), dd.as("__dd"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .select(col("label"), col("rk"), col("vec_id"), col("__dd").as("_distance"))
        .orderBy("label", "rk")
    }),

    // ColBERT-style late interaction: one row per (doc group, token vector),
    // score = sum over query vectors of the best token dot — ONE
    // partial-aggregating groupBy, map-side max-combine
    "maxsim_topk" -> ((s, dir) => {
      val toks = t(s, dir, "embeddings").withColumn("gid", col("vec_id") % 50)
      graft.search.LateInteraction.maxSimTopK(toks, "embedding", "gid",
        Seq(q64Arr, Q64B.toArray), 10)
    }),

    "vector_distances" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          array_distance(toFloatVec(col("embedding")), floatVec(Q64)).as("_distance"))
        .orderBy("vec_id")
    }),

    // ---- ANN index paths (approximate → rows-only check) ----

    "ann_diskann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_diskann",
        Ann.BuildParams(engine = "diskann", numShards = 8))
      Ann.search(emb, "vec_id", "v_diskann", q64Arr, 10, searchComplexity = 128)
        .select("vec_id", "_distance")
    }),

    "ann_sq8_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_sq8",
        Ann.BuildParams(engine = "diskann", numShards = 4, quantization = "sq8"))
      Ann.search(emb, "vec_id", "v_sq8", q64Arr, 10, searchComplexity = 128)
        .select("vec_id", "_distance")
    }),

    // SQ8 saturation oracle: ONE shard ⇒ corpus-global per-dim min/max (the
    // quantization params become SQL aggregates), and a saturating beam
    // (sc ≥ n) visits every reachable node ⇒ the answer is the exact top-k
    // under SQ8-dequantized distance — both the quantizer (round, clamp,
    // dequantize) and the graph serve path hash-check against DuckDB.
    // Realistic-parameter ann_sq8_topk stays rows-only.
    "ann_sq8_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_sq8_ex",
        Ann.BuildParams(engine = "diskann", numShards = 1, quantization = "sq8"))
      import s.implicits._
      Ann.search(emb, "vec_id", "v_sq8_ex", q64Arr, 10, searchComplexity = 1024)
        .select(col("vec_id"), col("_distance"))
        .transform(rankedBy(col("_distance"), col("vec_id")))
    }),

    // SQ4/SQ6 packed scalar quantization (FAISS ScalarQuantizer
    // QT_4bit/QT_6bit analogs, beyond the reference's SQ8): same saturation
    // oracle as ann_sq8_exact — one shard, corpus-global min/max, beam ≥ n —
    // but the codes are 4/6-bit packed, so the oracle's 15/63-level
    // quantizer replay checks the packed encode→extract→dequantize pipeline
    // end to end. Built through the factory suffix ('DiskANN,SQ4').
    "ann_sq4_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_sq4_ex",
        "DiskANN,SQ4", Ann.BuildParams(numShards = 1))
      import s.implicits._
      Ann.search(emb, "vec_id", "v_sq4_ex", q64Arr, 10, searchComplexity = 1024)
        .select(col("vec_id"), col("_distance"))
        .transform(rankedBy(col("_distance"), col("vec_id")))
    }),

    "ann_sq6_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_sq6_ex",
        "DiskANN,SQ6", Ann.BuildParams(numShards = 1))
      import s.implicits._
      Ann.search(emb, "vec_id", "v_sq6_ex", q64Arr, 10, searchComplexity = 1024)
        .select(col("vec_id"), col("_distance"))
        .transform(rankedBy(col("_distance"), col("vec_id")))
    }),

    // LSH engine (FAISS IndexLSH analog) through the factory surface
    // ('LSH16'): seeded hyperplanes = the 16 lowest-id embeddings verbatim,
    // so the sign codes — and with them the ENTIRE Hamming ranking — replay
    // in SQL. Hamming distances are integral, so this entry hash-checks
    // values, not just ranks; both sides accumulate the projections in
    // double, so the sign decision cannot desync at the dot==0 boundary.
    "ann_lsh_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_lsh_ex", "LSH16",
        Ann.BuildParams(seedK = 16))
      Ann.search(emb, "vec_id", "v_lsh_ex", q64Arr, 10)
        .select(col("vec_id"), col("_distance").cast("long").as("hamming"))
        .orderBy("hamming", "vec_id")
    }),

    // realistic-parameter twin: 64-bit codes from fixed-seed Gaussian
    // hyperplanes (factory 'LSH' defaults nbits to min(dim, 64)) — the
    // hyperplanes are not SQL-replayable, so rows-only, same code path
    "ann_lsh_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_lsh", "LSH")
      Ann.search(emb, "vec_id", "v_lsh", q64Arr, 10)
        .select("vec_id", "_distance")
    }),

    // 'LSH16,RFlat' (FAISS IndexRefineFlat around IndexLSH): the seeded
    // Hamming top-40 candidates re-ranked by EXACT double L2 — binary
    // prefilter + exact re-rank, value-oracled end to end like
    // ann_pq_refine_exact
    "ann_lsh_refine_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_lshr_ex",
        "LSH16,RFlat", Ann.BuildParams(seedK = 16, refineK = 4))
      Ann.search(emb, "vec_id", "v_lshr_ex", q64Arr, 10)
        .select("vec_id", "_distance")
    }),

    // 'LSH16t' (IndexLSH train_thresholds): per-bit cut point = mean
    // projection over the id-ordered corpus — the threshold TRAINING
    // replays in SQL (ordered list_sum / n), so the thresholded codes and
    // the whole Hamming ranking stay value-oracled
    "ann_lsht_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_lsht_ex", "LSH16t",
        Ann.BuildParams(seedK = 16))
      Ann.search(emb, "vec_id", "v_lsht_ex", q64Arr, 10)
        .select(col("vec_id"), col("_distance").cast("long").as("hamming"))
        .orderBy("hamming", "vec_id")
    }),

    // 'LSH8r' (IndexLSH rotate_data): seeded hyperplanes orthonormalized by
    // classical Gram-Schmidt in double — the oracle unrolls the exact GS
    // operation order (all dots from the ORIGINAL row, then sequential
    // subtraction, then normalize; VectorOps.orthonormalizeRows), so the
    // rotated codes value-oracle bit-for-bit
    "ann_lshr_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_lshrot_ex", "LSH8r",
        Ann.BuildParams(seedK = 8))
      Ann.search(emb, "vec_id", "v_lshrot_ex", q64Arr, 10)
        .select(col("vec_id"), col("_distance").cast("long").as("hamming"))
        .orderBy("hamming", "vec_id")
    }),

    // 'LSH8rt': rotation AND trained thresholds composed — the full FAISS
    // IndexLSH training surface on one code path, still value-oracled
    "ann_lshrt_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_lshrt_ex", "LSH8rt",
        Ann.BuildParams(seedK = 8))
      Ann.search(emb, "vec_id", "v_lshrt_ex", q64Arr, 10)
        .select(col("vec_id"), col("_distance").cast("long").as("hamming"))
        .orderBy("hamming", "vec_id")
    }),

    // 'LSH256' (FAISS IndexLSH at arbitrary nbits — codes wider than one
    // machine word): 256-bit codes stored as array<bigint> of 4 words,
    // ranked by the SUM of per-word XOR popcounts. Seeded hyperplanes =
    // the 256 lowest-id embeddings, so the whole multi-word Hamming
    // ranking value-oracles exactly like ann_lsh_exact.
    "ann_lsh256_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_lsh256_ex", "LSH256",
        Ann.BuildParams(seedK = 256))
      Ann.search(emb, "vec_id", "v_lsh256_ex", q64Arr, 10)
        .select(col("vec_id"), col("_distance").cast("long").as("hamming"))
        .orderBy("hamming", "vec_id")
    }),

    // realistic-parameter twin: 'LSH256rt' — the padded random rotation
    // (nbits > dim, FAISS rotate_data's RandomRotationMatrix form) plus
    // trained thresholds; generated rotation rows are not SQL-replayable,
    // so rows-only, same multi-word code path as the oracled twin
    "ann_lsh256_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_lsh256", "LSH256rt")
      Ann.search(emb, "vec_id", "v_lsh256", q64Arr, 10)
        .select("vec_id", "_distance")
    }),

    "ann_batch" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_batch",
        Ann.BuildParams(engine = "diskann", numShards = 8))
      val q2 = Q64.map(v => 1.0f - v).toArray
      Ann.searchBatch(emb, "vec_id", "v_batch", Seq(q64Arr, q2), 5,
        searchComplexity = 128)
        .select("query_idx", "vec_id", "_distance")
    }),

    "ann_batch_exact" -> ((s, dir) => {
      // the lock-step batch surface's exact-engine instantiation: 3 queries
      // against a flat index in ONE batch plan — hash-oracled like
      // ann_search_table (the graph-engine ann_batch stays rows-only)
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_batch_ex",
        Ann.BuildParams(engine = "flat"))
      val qs = emb.where(col("vec_id") < 3).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray).toSeq
      Ann.searchBatch(emb, "vec_id", "v_batch_ex", qs, 5)
        .select(col("query_idx").cast("long").as("query_idx"),
          col("vec_id").as("rid"), col("_distance"))
        .orderBy("query_idx", "_distance", "rid")
    }),

    // the reference's SQL bench shape (bench/metal_diskann_bench.sql:31-39):
    // 50 top-k=10 queries against a DiskANN index, batch-searched
    "ann_batch50" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_b50",
        Ann.BuildParams(engine = "diskann", numShards = 8, maxDegree = 64,
          buildComplexity = 100))
      val qs = emb.where(col("vec_id") < 50).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray).toSeq
      Ann.searchBatch(emb, "vec_id", "v_b50", qs, 10, searchComplexity = 100)
        .select("query_idx", "vec_id", "_distance")
    }),

    // ivfflat with nprobe == nlist scans every cluster → exact; oracle-able
    // as rank-only output (ordering is metric-monotonic).
    // PCA transform chain (FAISS `PCA<d>,<index>` / IndexPreTransform):
    // at d = input dim the fitted map is a pure rotation around the
    // training mean, so the L2 top-k SET is preserved exactly (differences
    // cancel the centering; rounding is absorbed by the double re-rank) —
    // the full build→transform→store→query-transform→serve pipeline
    // value-oracles against the UNtransformed exact top-k. The reduced-dim
    // twin ann_pca_topk (PCA16 over an IVF terminal) is lossy by design →
    // rows-only.
    "ann_pca_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_pca_ex", "PCA64,Flat")
      import s.implicits._
      Ann.search(emb, "vec_id", "v_pca_ex", q64Arr, 10)
        .select(col("vec_id"),
          array_distance(toFloatVec(col("embedding")), floatVec(Q64)).as("__dd"))
        .transform(rankedBy(col("__dd"), col("vec_id")))
    }),

    "ann_pca_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_pca16",
        "PCA16,IVF8,Flat", Ann.BuildParams(nprobe = 8))
      Ann.search(emb, "vec_id", "v_pca16", q64Arr, 10)
        .select("vec_id", "_distance")
    }),

    // PCAR<d> (FAISS PCAMatrix random_rotation): a fixed-seed orthonormal Q
    // composed onto the eigenbasis at fit time. Q·R is still a rotation, so
    // the full-dim chain preserves L2 top-k exactly — same rank oracle as
    // ann_pca_exact, now also covering the variant-fold path
    "ann_pcar_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_pcar_ex", "PCAR64,Flat")
      import s.implicits._
      Ann.search(emb, "vec_id", "v_pcar_ex", q64Arr, 10)
        .select(col("vec_id"),
          array_distance(toFloatVec(col("embedding")), floatVec(Q64)).as("__dd"))
        .transform(rankedBy(col("__dd"), col("vec_id")))
    }),

    // PCAW<d> (FAISS eigen_power=-0.5 whitening): rows scaled by 1/sqrt(λ),
    // distances are Mahalanobis — NOT SQL-replayable (the fit is a Jacobi
    // eigendecomposition), so rows-only; the transform-chain code path it
    // rides (fold → prepQuery → IVF serve) is value-oracled by
    // ann_pca_exact / ann_pcar_exact, and PcaVariantsSpec pins the
    // unit-variance whitening property itself
    "ann_pcaw_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_pcaw16",
        "PCAW16,IVF8,Flat", Ann.BuildParams(nprobe = 8))
      Ann.search(emb, "vec_id", "v_pcaw16", q64Arr, 10)
        .select("vec_id", "_distance")
    }),

    // IMI2x<b> coarse quantizer (FAISS multi-index): cells are the cross
    // product of two half-space codebooks, served through the ivfflat stack
    // over materialized product centroids. Two oracles: saturating
    // (nprobe = nlist ⇒ exact regardless of assignment — the serve path),
    // and probe1 (seeded half-codebooks, nprobe = 1 ⇒ the answer is the
    // exact top-k WITHIN the query's cell — checks assignment, probe
    // selection, and ranking together; SQL replays the half-argmins).
    "ann_imi_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_imi_ex", "IMI2x2",
        Ann.BuildParams(nprobe = 16))
      import s.implicits._
      Ann.search(emb, "vec_id", "v_imi_ex", q64Arr, 10)
        .select(col("vec_id"),
          array_distance(toFloatVec(col("embedding")), floatVec(Q64)).as("__dd"))
        .transform(rankedBy(col("__dd"), col("vec_id")))
    }),

    "ann_imi_probe1" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_imi_p1", "IMI2x2",
        Ann.BuildParams(seedK = 4, nprobe = 1))
      import s.implicits._
      Ann.search(emb, "vec_id", "v_imi_p1", q64Arr, 10)
        .select(col("vec_id"),
          array_distance(toFloatVec(col("embedding")), floatVec(Q64)).as("__dd"))
        .transform(rankedBy(col("__dd"), col("vec_id")))
    }),

    // IMI2x<b>,PQ<m> (FAISS IMI coarse quantizer over PQ residuals): the
    // ivfpq engine with product cells — seeded half-codebooks + seeded
    // residual PQ codebook replay in SQL, so the full ADC ranking at
    // saturating probe width bit-oracles like ann_ivfpq_exact
    "ann_imipq_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_imipq_ex",
        "IMI2x2,PQ8", Ann.BuildParams(seedK = 16, nprobe = 16))
      import s.implicits._
      Ann.search(emb, "vec_id", "v_imipq_ex", q64Arr, 10)
        .select(col("vec_id"), col("_distance"))
        .transform(rankedBy(col("_distance"), col("vec_id")))
    }),

    // IVF<n>,SQ8 (FAISS IndexIVFScalarQuantizer, by_residual=false): u8
    // scalar codes under inverted lists. At saturating probe width the
    // ranking is exactly the dequantized-L2 brute force, and the per-dim
    // min/max quantizer replays in SQL — the SAME saturation oracle the
    // diskann SQ8 engine uses (sqExactOracleSql), now covering the
    // IVF + synthetic-codebook ADC route end to end
    "ann_ivfsq_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_ivfsq_ex", "IVF4,SQ8",
        Ann.BuildParams(nprobe = 4))
      import s.implicits._
      Ann.search(emb, "vec_id", "v_ivfsq_ex", q64Arr, 10)
        .select(col("vec_id"), col("_distance"))
        .transform(rankedBy(col("_distance"), col("vec_id")))
    }),

    // FAISS reconstruct/reconstruct_n analog, oracled on the ivfsq engine:
    // reconstruct returns the per-dim dequantization levels, and the SQ
    // replay recomputes them in SQL — codes via the proven saturation
    // replay, values in DuckDB REAL (float32) arithmetic mirroring the
    // synthetic codebook's `min + (lvl/255f)*scale` float expression, cast
    // to DOUBLE once at the end on both sides. Other engines' reconstruct
    // semantics (raw, PQ/OPQ decode, centroid+residual, RFlat exact,
    // LSH reject) are pinned by ReconstructSpec.
    "ann_reconstruct" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_recon", "IVF4,SQ8",
        Ann.BuildParams(nprobe = 4))
      // posexplode_OUTER + null drop ≡ inner posexplode row-for-row: the
      // inner generate's inferred size(vector) > 0 filter re-ran the decode
      // UDF inside the scan Filter (2× per row) below the projection
      Ann.reconstruct(s, "v_recon", Seq(0L, 1L, 2L, 3L))
        .select(col("row_id").as("vec_id"),
          posexplode_outer(col("vector")).as(Seq("pos", "vf")))
        .where(col("vf").isNotNull)
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("i"),
          col("vf").cast("double").as("v"))
        .orderBy("vec_id", "i")
    }),

    // realistic-parameter twin: trained coarse quantizer, nprobe 4/16 —
    // probe-bounded recall, rows-only, same code path as the oracled twin
    "ann_ivfsq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_ivfsq", "IVF16,SQ8",
        Ann.BuildParams(nprobe = 4))
      Ann.search(emb, "vec_id", "v_ivfsq", q64Arr, 10)
        .select("vec_id", "_distance")
    }),

    // quantized range search (FAISS IndexIVFScalarQuantizer range_search):
    // the radius filters CODE-SPACE distances (to the dequantized
    // reconstructions), and the cluster pruning uses radii computed over
    // those same reconstructions — exact in code space even at nprobe=1,
    // so the row SET oracles via the sq quantizer replay with a radius
    // filter (the ann_range_graph_exact id-set pattern: the engine computes
    // its double fold over float levels, the oracle doubles throughout —
    // the saturation contract is the exact ROW SET, not the float repr)
    "ann_range_ivfsq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_range_isq",
        "IVF4,SQ8", Ann.BuildParams(nprobe = 1))
      Ann.rangeSearch(emb, "vec_id", "v_range_isq", q64Arr, 16.5f)
        .select("vec_id").orderBy("vec_id")
    }),

    // IVF over PACKED sub-byte scalar codes (FAISS QT_4bit/QT_6bit under
    // IndexIVFScalarQuantizer): same saturation + quantizer-replay oracle
    // as IVF,SQ8, at 15/63 levels — covers the packed encode, the inline
    // level extraction on the scan, and the 2^bits-level synthetic codebook
    "ann_ivfsq4_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_ivfsq4_ex", "IVF4,SQ4",
        Ann.BuildParams(nprobe = 4))
      import s.implicits._
      Ann.search(emb, "vec_id", "v_ivfsq4_ex", q64Arr, 10)
        .select(col("vec_id"), col("_distance"))
        .transform(rankedBy(col("_distance"), col("vec_id")))
    }),

    "ann_ivfsq6_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_ivfsq6_ex", "IVF4,SQ6",
        Ann.BuildParams(nprobe = 4))
      import s.implicits._
      Ann.search(emb, "vec_id", "v_ivfsq6_ex", q64Arr, 10)
        .select(col("vec_id"), col("_distance"))
        .transform(rankedBy(col("_distance"), col("vec_id")))
    }),

    "ann_ivf_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_ivf_exact",
        Ann.BuildParams(engine = "ivfflat", nlist = 8, nprobe = 8))
      import s.implicits._
      Ann.search(emb, "vec_id", "v_ivf_exact", q64Arr, 10)
        .select(col("vec_id"),
          array_distance(toFloatVec(col("embedding")), floatVec(Q64)).as("__dd"))
        .transform(rankedBy(col("__dd"), col("vec_id")))
    }),

    // IVF<n>_HNSW<m> (FAISS HNSW coarse quantizer): probe selection walks
    // an HNSW graph over the centroids instead of ranking all nlist of
    // them. At saturating nprobe the graph is bypassed (every cell probed),
    // so the serve stack oracles exactly like ann_ivf_exact; graph-probed
    // operating points are the rows-only twin below + IvfHnswSpec's
    // probe-set recall pin.
    "ann_ivfhnsw_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_ivfh_ex",
        "IVF8_HNSW16,Flat", Ann.BuildParams(nprobe = 8))
      import s.implicits._
      Ann.search(emb, "vec_id", "v_ivfh_ex", q64Arr, 10)
        .select(col("vec_id"),
          array_distance(toFloatVec(col("embedding")), floatVec(Q64)).as("__dd"))
        .transform(rankedBy(col("__dd"), col("vec_id")))
    }),

    // realistic-parameter twin: nprobe 4/16 selected BY THE GRAPH — the
    // rows-only operating point covering CoarseProbe.select end to end
    "ann_ivfhnsw_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_ivfh",
        "IVF16_HNSW8,Flat", Ann.BuildParams(nprobe = 4))
      Ann.search(emb, "vec_id", "v_ivfh", q64Arr, 10)
        .select("vec_id", "_distance")
    }),

    "ann_merge_flat" -> ((s, dir) => {
      // MergeIndexes' exact-engine instantiation (FAISS IndexFlat merge_from):
      // two half-corpus flat indexes merged, searched — EXACT, so the whole
      // merge operator is hash-checked against the brute-force oracle
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb.where(col("vec_id") % 2 === 0), "embedding", "vec_id",
        "v_mf1", Ann.BuildParams(engine = "flat"))
      Ann.buildIndex(emb.where(col("vec_id") % 2 === 1), "embedding", "vec_id",
        "v_mf2", Ann.BuildParams(engine = "flat"))
      Ann.merge(s, "v_mf1", "v_mf2")
      import s.implicits._
      Ann.search(emb, "vec_id", "v_mf1", q64Arr, 10)
        .select(col("vec_id"),
          array_distance(toFloatVec(col("embedding")), floatVec(Q64)).as("__dd"))
        .transform(rankedBy(col("__dd"), col("vec_id")))
    }),

    "ann_ivf_pruned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_ivf",
        Ann.BuildParams(engine = "ivfflat", nlist = 8, nprobe = 2))
      Ann.search(emb, "vec_id", "v_ivf", q64Arr, 10).select("vec_id", "_distance")
    }),

    "ann_search_table" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_table",
        Ann.BuildParams(engine = "flat"))
      val queries = emb.where(col("vec_id") < 3).select(col("vec_id"), col("embedding"))
      Ann.searchTable(queries, "embedding", emb, "vec_id", "v_table", 5)
        .select(col("vec_id").as("qid"), col("tbl_vec_id").as("rid"), col("_distance"))
        .orderBy("qid", "_distance", "rid")
    }),

    "ann_oversample" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_over",
        Ann.BuildParams(engine = "flat"))
      Ann.search(emb, "vec_id", "v_over", q64Arr, 5, oversample = 3)
        .select("vec_id", "_distance")
    }),

    // radius query (FAISS range_search analog): flat engine → one
    // distributed filter scan, exact → oracled
    "ann_range_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_range",
        Ann.BuildParams(engine = "flat"))
      Ann.rangeSearch(emb, "vec_id", "v_range", q64Arr, 16.5f)
        .select("vec_id", "_distance")
    }),

    // radius query on ivfflat with nprobe=1: stored cluster radii prune by
    // the triangle inequality, so the result is EXACT (same oracle as the
    // flat scan) while skipping every non-intersecting cluster
    "ann_range_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_range_ivf",
        Ann.BuildParams(engine = "ivfflat", nlist = 8, nprobe = 1))
      Ann.rangeSearch(emb, "vec_id", "v_range_ivf", q64Arr, 16.5f)
        .select("vec_id", "_distance")
    }),

    // TABLE-input range search: broadcast-gemm over the base scan, every
    // (query, row) pair within the radius — exact, no top-k heap
    "ann_range_table" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_range_t",
        Ann.BuildParams(engine = "flat"))
      val queries = emb.where(col("vec_id") < 3).select(col("vec_id"), col("embedding"))
      Ann.rangeSearchTable(queries, "embedding", emb, "vec_id", "v_range_t", 1.5f)
        .select(col("vec_id").as("qid"), col("tbl_vec_id").as("rid"), col("_distance"))
        .orderBy("qid", "_distance", "rid")
    }),

    // TABLE-input range search over a QUANTIZED engine: per-query
    // dequantized-radii pruning at nprobe=1 (exact in code space — the
    // single-query ann_range_ivfsq semantics with the query table joined
    // in), code-space double-fold distances, row-SET oracle
    "ann_range_table_ivfsq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_range_tisq",
        "IVF4,SQ8", Ann.BuildParams(nprobe = 1))
      val queries = emb.where(col("vec_id") < 3).select(col("vec_id"), col("embedding"))
      Ann.rangeSearchTable(queries, "embedding", emb, "vec_id", "v_range_tisq", 1.5f)
        .select(col("vec_id").as("qid"), col("tbl_vec_id").as("rid"))
        .orderBy("qid", "rid")
    }),

    // TABLE-input range search over a GRAPH engine: the single-query
    // expanding-k beam run per (query, shard) on the searchTable task grid
    // (approximate by graph recall → rows-only; exact twin below)
    "ann_range_table_graph" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_range_tg",
        Ann.BuildParams(engine = "diskann", numShards = 4))
      val queries = emb.where(col("vec_id") < 3).select(col("vec_id"), col("embedding"))
      Ann.rangeSearchTable(queries, "embedding", emb, "vec_id", "v_range_tg", 16.5f)
        .select(col("vec_id").as("qid"), col("tbl_vec_id").as("rid"), col("_distance"))
        .orderBy("qid", "_distance", "rid")
    }),

    // graph TABLE-range saturation oracle: beam ≥ shard size makes every
    // shard's ball exact (the ann_range_graph_exact argument per query row),
    // so the pair SET equals the brute-force cross-join ball; id-set oracle
    // because the beam computes float distances and the oracle doubles
    "ann_range_table_graph_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_range_tgx",
        Ann.BuildParams(engine = "diskann", numShards = 2))
      val queries = emb.where(col("vec_id") < 3).select(col("vec_id"), col("embedding"))
      Ann.rangeSearchTable(queries, "embedding", emb, "vec_id", "v_range_tgx",
          16.5f, searchComplexity = 4096)
        .select(col("vec_id").as("qid"), col("tbl_vec_id").as("rid"))
        .orderBy("qid", "rid")
    }),

    // radius query on a graph index: expanding-k beam search (approximate
    // by graph recall → rows-only)
    "ann_range_graph" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_range_g",
        Ann.BuildParams(engine = "diskann", numShards = 4))
      Ann.rangeSearch(emb, "vec_id", "v_range_g", q64Arr, 16.5f)
        .select("vec_id", "_distance")
    }),

    "ann_delete_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_delq",
        Ann.BuildParams(engine = "flat"))
      Ann.delete(s, "v_delq", Seq(3L, 7L, 11L))
      Ann.search(emb, "vec_id", "v_delq", q64Arr, 10).select("vec_id", "_distance")
    }),

    "ann_vacuum_info" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_vac",
        Ann.BuildParams(engine = "diskann", numShards = 8))
      Ann.delete(s, "v_vac", Seq(1L, 2L, 3L, 4L, 5L))
      Ann.vacuum(s, "v_vac")
      Ann.indexInfo(s).where(col("name") === "v_vac")
        .select("num_vectors", "num_deleted")
    }),

    "ann_merge_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb.where(col("vec_id") % 2 === 0), "embedding", "vec_id",
        "v_m1", Ann.BuildParams(engine = "diskann", numShards = 4))
      Ann.buildIndex(emb.where(col("vec_id") % 2 === 1), "embedding", "vec_id",
        "v_m2", Ann.BuildParams(engine = "diskann", numShards = 4))
      Ann.merge(s, "v_m1", "v_m2")
      Ann.search(emb, "vec_id", "v_m1", q64Arr, 10, searchComplexity = 128)
        .select("vec_id", "_distance")
    }),

    "ann_hnsw_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_hnsw",
        Ann.BuildParams(engine = "hnsw", numShards = 8))
      Ann.search(emb, "vec_id", "v_hnsw", q64Arr, 10, searchComplexity = 128)
        .select("vec_id", "_distance")
    }),

    // DiskANN saturation oracle: beam width >= shard size visits every node
    // reachable from the medoid, so each shard's answer is its exact top-k
    // (fresh Vamana builds are connected by construction) — the graph
    // engine's end-to-end top-k path hash-checks against brute force. The
    // realistic-parameter ann_diskann_topk stays rows-only.
    "ann_diskann_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_disk_ex",
        Ann.BuildParams(engine = "diskann", numShards = 2))
      import s.implicits._
      Ann.search(emb, "vec_id", "v_disk_ex", q64Arr, 10, searchComplexity = 4096)
        .select(col("vec_id"),
          array_distance(toFloatVec(col("embedding")), floatVec(Q64)).as("__dd"))
        .transform(rankedBy(col("__dd"), col("vec_id")))
    }),

    // graph radius-search saturation oracle: the expanding-k loop at a
    // saturating beam captures every reachable in-radius row, and distances
    // are re-checked against the radius, so the result equals the flat
    // range scan exactly (the rows-only ann_range_graph keeps realistic
    // parameters).
    "ann_range_graph_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_range_gx",
        Ann.BuildParams(engine = "diskann", numShards = 2))
      // id set only: the beam computes float distances, the oracle doubles —
      // the saturation contract is the exact ROW SET, not the float repr
      Ann.rangeSearch(emb, "vec_id", "v_range_gx", q64Arr, 16.5f,
          searchComplexity = 4096)
        .select("vec_id").orderBy("vec_id")
    }),

    // HNSW saturation oracle: efSearch >= shard size visits every node
    // reachable from the entry point, so each shard's beam answer is its
    // exact top-k (same saturation argument RangeGraphSaturationSpec pins;
    // a fresh single-batch HNSW build is connected by construction — every
    // insert links bidirectionally into the existing component). The
    // realistic-parameter ann_hnsw_topk stays rows-only.
    "ann_hnsw_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_hnsw_ex",
        Ann.BuildParams(engine = "hnsw", numShards = 2))
      import s.implicits._
      Ann.search(emb, "vec_id", "v_hnsw_ex", q64Arr, 10, searchComplexity = 4096)
        .select(col("vec_id"),
          array_distance(toFloatVec(col("embedding")), floatVec(Q64)).as("__dd"))
        .transform(rankedBy(col("__dd"), col("vec_id")))
    }),

    // PQ<m> factory family: 8-byte codes + ADC scan (approximate → rows-only)
    "ann_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_pq", "PQ8")
      Ann.search(emb, "vec_id", "v_pq", q64Arr, 10)
        .select("vec_id", "_distance")
    }),

    // PQ<m>,RFlat: ADC candidates re-ranked by exact distance over the
    // stored raw vectors (FAISS IndexRefineFlat analog; candidate set is
    // still ADC-approximate → rows-only)
    "ann_pq_refine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_pq_rf", "PQ8,RFlat")
      Ann.search(emb, "vec_id", "v_pq_rf", q64Arr, 10)
        .select("vec_id", "_distance")
    }),

    // OPQ<m>,PQ<m>: learned rotation before PQ encode (FAISS OPQ pre-transform
    // analog, beyond the reference's grammar; approximate → rows-only)
    "ann_opq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_opq", "OPQ8,PQ8")
      Ann.search(emb, "vec_id", "v_opq", q64Arr, 10)
        .select("vec_id", "_distance")
    }),

    // IVF<n>,PQ<m>: residual codes, nprobe-pruned ADC (approximate → rows-only)
    "ann_ivfpq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_ivfpq", "IVF16,PQ8",
        Ann.BuildParams(nprobe = 4))
      Ann.search(emb, "vec_id", "v_ivfpq", q64Arr, 10)
        .select("vec_id", "_distance")
    }),

    // ADC bit oracle for the PQ family: the codebook is SEEDED verbatim from
    // the 16 lowest-id vectors' subvectors (no k-means), so the production
    // encode → LUT → ADC-scan → top-k path is deterministic and replayable
    // in DuckDB SQL (FAISS IndexPQ ADC semantics, reference factory surface
    // src/faiss_index.cpp:39-60). Rank-only output: the RANKING is the
    // contract; ADC float partial sums vs the oracle's doubles agree on
    // order for non-adversarial data. Quality-trained PQ stays rows-only.
    "ann_pq_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_pq_ex",
        Ann.BuildParams(engine = "pq", pqM = 8, seedK = 16))
      import s.implicits._
      Ann.search(emb, "vec_id", "v_pq_ex", q64Arr, 10)
        .select(col("vec_id"), col("_distance"))
        .transform(rankedBy(col("_distance"), col("vec_id")))
    }),

    // OPQ ADC bit oracle: seeded mode uses a deterministic reversal
    // permutation as the rotation (orthogonal, like a trained OPQ matrix)
    // plus the seeded codebook over ROTATED seeds — the production
    // rotate-query → encode → ADC-scan path replays in SQL as a list
    // reindex. Trained-rotation OPQ stays rows-only (SVD isn't
    // SQL-replayable); OpqSpec pins the trained path's properties.
    "ann_opq_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_opq_ex",
        Ann.BuildParams(engine = "pq", pqM = 8, seedK = 16, opq = true))
      import s.implicits._
      Ann.search(emb, "vec_id", "v_opq_ex", q64Arr, 10)
        .select(col("vec_id"), col("_distance"))
        .transform(rankedBy(col("_distance"), col("vec_id")))
    }),

    // IVFPQ ADC bit oracle: seeded coarse centroids (4 lowest ids, verbatim)
    // + seeded residual codebook (residuals of the 16 lowest ids), nprobe =
    // nlist so every list is scanned — the residual-ADC ranking is then
    // fully deterministic and DuckDB-replayable (FAISS IndexIVFPQ ADC).
    "ann_ivfpq_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_ivfpq_ex",
        Ann.BuildParams(engine = "ivfpq", nlist = 4, nprobe = 4, pqM = 8,
          seedK = 16))
      import s.implicits._
      Ann.search(emb, "vec_id", "v_ivfpq_ex", q64Arr, 10)
        .select(col("vec_id"), col("_distance"))
        .transform(rankedBy(col("_distance"), col("vec_id")))
    }),

    // OPQ,IVF,PQ chain bit oracle (FAISS's canonical billion-scale factory
    // `OPQ<m>,IVF<n>,PQ<m>`): seeded rotation = the reversal permutation
    // (the plain seeded-OPQ convention), then the FULL seeded-ivfpq replay
    // runs in rotated space — coarse assignment, residual codebook, and
    // residual-ADC ranking at saturating nprobe all recompute in SQL over
    // the reversed lists. Covers the chain fold end to end: build-side
    // rotation, prepQuery's query rotation, and the unchanged ivfpq serve.
    "ann_opqivf_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_opqivf_ex",
        "OPQ8,IVF4,PQ8", Ann.BuildParams(seedK = 16, nprobe = 4))
      import s.implicits._
      Ann.search(emb, "vec_id", "v_opqivf_ex", q64Arr, 10)
        .select(col("vec_id"), col("_distance"))
        .transform(rankedBy(col("_distance"), col("vec_id")))
    }),

    // realistic-parameter twin for the reduction chain `PCA<d>,IVF<n>,PQ<m>`
    // (trained Jacobi eigenbasis, 64→32 dims, PQ over the reduced space) —
    // lossy by design, rows-only; the chain fold itself is value-oracled by
    // ann_opqivf_exact on the same code path
    "ann_pcaivfpq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndexFactory(emb, "embedding", "vec_id", "v_pcaivfpq",
        "PCA32,IVF8,PQ8", Ann.BuildParams(nprobe = 4))
      Ann.search(emb, "vec_id", "v_pcaivfpq", q64Arr, 10)
        .select("vec_id", "_distance")
    }),

    // RFlat refine bit oracle: seeded-ADC candidates (k · k_factor=4) are
    // re-ranked by the exact double-precision metric distance, so the FULL
    // VALUE oracles (not just rank) — FAISS IndexRefineFlat semantics.
    "ann_pq_refine_exact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_pqr_ex",
        Ann.BuildParams(engine = "pq", pqM = 8, seedK = 16, refine = true,
          refineK = 4))
      Ann.search(emb, "vec_id", "v_pqr_ex", q64Arr, 10)
        .select("vec_id", "_distance")
    }),

    "ann_gpu_info" -> ((s, dir) => Ann.gpuInfo(s)),

    "ann_index_info" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_info",
        Ann.BuildParams(engine = "flat"))
      Ann.indexInfo(s).where(col("name") === "v_info")
        .select("name", "engine", "metric", "dimension", "num_vectors", "quantized")
    }),

    "streaming_build_info" -> ((s, dir) => {
      import s.implicits._
      val rows = t(s, dir, "embeddings").select("vec_id", "embedding")
        .orderBy("vec_id").collect()
      val dim = rows(0).getSeq[Float](1).length
      val path = s"/tmp/graft_stream_build.bin"
      val bb = java.nio.ByteBuffer.allocate(8 + rows.length * dim * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(rows.length); bb.putInt(dim)
      rows.foreach(r => r.getSeq[Float](1).foreach(bb.putFloat))
      java.nio.file.Files.write(java.nio.file.Paths.get(path), bb.array())
      val (n, d, sample) = Ann.streamingBuild(s, path, "v_stream",
        Ann.BuildParams(engine = "diskann", numShards = 8))
      Seq((n, d, sample)).toDF("num_vectors", "dimension", "sample_size")
    }),

    "ann_list" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_list",
        Ann.BuildParams(engine = "flat"))
      Ann.list(s).where(col("name") === "v_list")
    }),

    // ---- recall telemetry: overlap@10 of the diskann path vs the exact
    // top-10 (reference asserts >= 7/10, test/sql/diskann_streaming.test:44-48).
    // Rows-only by nature (approximate), but the single integer lands in
    // CORRECTNESS_r{N} every round, so recall regressions show up as diffs.
    "ann_recall_at10" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_recall",
        Ann.BuildParams(engine = "diskann", numShards = 8))
      val approx = Ann.search(emb, "vec_id", "v_recall", q64Arr, 10,
          searchComplexity = 128)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val exact = emb
        .select(col("vec_id"),
          array_distance(toFloatVec(col("embedding")), floatVec(Q64)).as("__d"))
        .orderBy(col("__d"), col("vec_id")).limit(10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      // surfaced as a hard boolean gate (recall >= 7, the reference's own
      // assertion bar, test/sql/diskann_streaming.test:44-48) so the DuckDB
      // oracle can hash-check it: drift below the bar fails CORRECTNESS
      // instead of silently shifting a rows-only integer
      Seq(approx.intersect(exact).size >= 7).toDF("recall_ok")
    }),

    // ---- text / dedup operators (north-star pipeline ops) ----

    "dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("text")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
        .select("keep_id", "n_dups")
        .orderBy("keep_id")
    }),

    "token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // exact substring-span dedup: doc pairs sharing >= 3 distinct 5-grams
    "ngram_dup_pairs" -> ((s, dir) => {
      TextOps.ngramDupPairs(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("id_a", "id_b")
    }),

    // df-cap audit companion (no silent truncation): how many n-gram
    // buckets the pair ops above kept vs dropped as over-cap boilerplate
    "ngram_cap_audit" -> ((s, dir) =>
      TextOps.ngramBucketStats(t(s, dir, "documents"), "text")),

    // benchmark decontamination: train docs (id % 5 != 0) sharing any
    // duplicated 5-gram with the eval split (id % 5 == 0)
    "decontaminate" -> ((s, dir) => {
      TextOps.contaminationCounts(t(s, dir, "documents"), "text", "doc_id",
          id => id % 5 === 0)
        .select(col("id").as("doc_id"), col("n_contaminated"))
        .orderBy("doc_id")
    }),

    // enforcement step: the training corpus with contaminated docs dropped
    "decontaminate_filter" -> ((s, dir) => {
      TextOps.decontaminateFilter(t(s, dir, "documents"), "text", "doc_id",
          id => id % 5 === 0)
        .select("doc_id").orderBy("doc_id")
    }),

    // C4-style exact line dedup (3-word lines: the synthetic corpus has no
    // sentence separators, so lines are fixed token windows)
    "dedup_lines" -> ((s, dir) => {
      TextOps.dedupLines(t(s, dir, "documents"), "text", "doc_id", 3)
        .orderBy("doc_id")
    }),

    // end-to-end curation audit: lang/quality/repetition gates → near-dup →
    // eval holdout + contamination → hash-gate sampling, counts per reason.
    // Eager via taggedStaged: the handful of report rows is materialized and
    // the pipeline's stage caches released, so repeated runs (bench trials,
    // long-lived sessions) don't accumulate persisted intermediates.
    "curate_report" -> ((s, dir) => {
      val st = Curate.taggedStaged(t(s, dir, "documents"), "text", "doc_id",
        Curate.Config(langs = Set("en", "de"), minQuality = 0.3,
          maxDupBigramFrac = 0.5, minJaccard = 0.6,
          evalPred = id => id % 5 === 0, samplePermille = lit(700)))
      val report = Curate.reportOf(st.df).orderBy("reason")
      val rows = report.collect()
      st.release()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), report.schema)
    }),

    // feature-hashed term frequencies (hashing-vectorizer, sparse rows)
    "hashed_tf" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.hashedTf(col("text"), 64)).as("h"))
        .select(col("doc_id"), col("h.bucket").as("bucket"), col("h.tf").as("tf"))
        .orderBy("doc_id", "bucket")
    }),

    // greedy token-budget sequence packing per language (training batches)
    "pack_sequences" -> ((s, dir) => {
      TextOps.packSequences(t(s, dir, "documents"), "text", "doc_id",
          "lang", 256L)
        .orderBy("lang", "doc_id")
    }),

    // deterministic hash-gated stratified sampling (per-lang mix rates)
    "stratified_sample" -> ((s, dir) => {
      t(s, dir, "documents")
        .where(TextOps.sampleGate(col("doc_id"),
          when(col("lang") === "en", 600).otherwise(250)))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // Gopher-style repetition quality signals: fraction of n-gram
    // occurrences in the most frequent bigram / in duplicated bi- and
    // 5-grams (one fused expression pass per doc, no shuffle)
    "repetition_stats" -> ((s, dir) => {
      val cols = col("doc_id") +:
        TextOps.repetitionColumns(col("text")).map { case (n, c) => c.as(n) }
      t(s, dir, "documents").select(cols: _*).orderBy("doc_id")
    }),

    // PII detect + redact: emails / IPv4s / phone-shaped numbers counted and
    // masked with builtin (codegen'd) regexps. The synthetic corpus carries
    // no PII, so a deterministic doc_id-derived payload is appended first —
    // identically in the oracle — making the extraction genuinely load-bearing.
    "pii_scrub" -> ((s, dir) => {
      val injected = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or admin@test.org from 10."),
        (col("doc_id") % 200).cast("string"), lit(".0.1 call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.piiScrub(injected).as("__p"))
        .select(col("doc_id"), col("__p.n_emails").as("n_emails"),
          col("__p.n_ips").as("n_ips"), col("__p.n_phones").as("n_phones"),
          col("__p.redacted").as("redacted"))
        .orderBy("doc_id")
    }),

    // blocklist dedup with a Bloom pre-filter: rows rejected by the
    // broadcast Bloom pass through shuffle-free; only candidates pay the
    // exact anti-join (removing Bloom false positives) → result is exact
    "dedup_blocklist" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val block = docs.where(col("doc_id") % 7 === 0).select("text")
      TextOps.blocklistAntiJoin(docs, "text", "doc_id", block, "text")
        .select("doc_id").orderBy("doc_id")
    }),

    // distinctive-term extraction (exact-arithmetic TF-IDF cousin): top-3
    // terms per doc by (doc_freq ASC, term_freq DESC, term ASC)
    "rare_terms" -> ((s, dir) => {
      TextOps.rareTerms(t(s, dir, "documents"), "text", "doc_id", 3)
        .orderBy("doc_id", "rnk")
    }),

    // ---- text analysis (north-star pipeline ops; all codegen'd, no UDFs) ----

    "corpus_stats" -> ((s, dir) => {
      // fused TermCounts: the aggregation sees one row per DISTINCT
      // (doc, term) with its multiplicity instead of one row per token —
      // same totals, a fraction of the exploded rows
      val tc = t(s, dir, "documents")
        .select(explode(TextOps.termCountsCol(col("text"))).as("tc"))
      tc.agg(
        sum(col("tc.term_freq")).cast("long").as("total_tokens"),
        countDistinct(col("tc.term")).as("vocab"),
        sum(length(col("tc.term")) * col("tc.term_freq"))
          .cast("long").as("total_chars"))
    }),

    "token_count_regex" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokenCountRegex(col("text")).as("n_tokens"))
        .orderBy("doc_id")
    }),

    "text_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.rollingHash(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    "lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.langId(TextOps.tokens(col("text"))).as("lang_pred"))
        .orderBy("doc_id")
    }),

    "quality_score" -> ((s, dir) => {
      val cols = TextOps.qualityColumns(col("text")).map { case (n, c) => c.as(n) }
      t(s, dir, "documents")
        .select(col("doc_id") +: cols: _*)
        .orderBy("doc_id")
    }),

    "simhash" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.simhash(TextOps.tokens(col("text"))).as("sh"))
        .orderBy("doc_id")
    }),

    // ---- near-duplicate detection (MinHash+LSH / Jaccard / embedding) ----

    "minhash_bands" -> ((s, dir) => {
      TextOps.bandTable(TextOps.signatures(t(s, dir, "documents"), "text", "doc_id"))
        .orderBy("id", "band_idx")
    }),

    "neardup_minhash" -> ((s, dir) => {
      TextOps.candidatePairs(TextOps.signatures(t(s, dir, "documents"), "text", "doc_id"))
        .orderBy("id_a", "id_b")
    }),

    "neardup_jaccard" -> ((s, dir) => {
      TextOps.jaccardPairs(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("id_a", "id_b")
    }),

    "simhash_pairs" -> ((s, dir) => {
      TextOps.simhashPairs(t(s, dir, "documents"), "text", "doc_id", maxHamming = 2)
        .orderBy("id_a", "id_b")
    }),

    "neardup_cos_lsh" -> ((s, dir) => {
      TextOps.cosineLshPairs(t(s, dir, "embeddings"), "embedding", "vec_id",
          dim = 64, threshold = 0.4, nTables = 8, bitsPerTable = 6)
        .orderBy("id_a", "id_b")
    }),

    // IP-metric index ordering (reference diskann_metric_ip.test analog;
    // flat engine → exact → oracled; _distance is the negated dot product)
    "ann_ip_flat" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_ip_flat",
        Ann.BuildParams(engine = "flat", metric = "ip"))
      Ann.search(emb, "vec_id", "v_ip_flat", q64Arr, 10).select("vec_id", "_distance")
    }),

    "ann_index_scan" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_scan",
        Ann.BuildParams(engine = "flat"))
      Ann.searchHits(s, "v_scan", q64Arr, 10)
        .orderBy("_distance", "row_id")
    }),

    // job-free single-query serving surface over an EXACT engine → the
    // local route's arithmetic is bit-oracle-able, same contract as
    // ann_index_scan (searchHits already returns (distance, id)-sorted rows)
    "ann_serve_local" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_servelocal",
        Ann.BuildParams(engine = "flat"))
      Ann.searchHits(s, "v_servelocal", q64Arr, 10)
    }),

    // ---- transparent optimizer rewrite (SURVEY §2.1 #8/#21), driver-checked:
    // plain SQL-shaped ORDER BY array_distance LIMIT k goes through
    // AnnTopKRule against a FLAT index (exact engine → bit-oracle-able), and
    // the entry HARD-FAILS if the rewrite did not fire — a silent fallback to
    // the brute-force scan (which returns the same rows) can't pass unnoticed.
    // Mirrors test/sql/diskann_optimizer.test:26-88's with/without-index
    // agreement. Top-10 distances are distinct at every shipped SF, so the
    // single-key sort the rule matches is deterministic.
    "ann_rewrite_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_rewrite",
        Ann.BuildParams(engine = "flat"))
      graft.plans.Graft.init(s)
      val df = emb
        .select(col("vec_id"),
          array_distance(toFloatVec(col("embedding")), floatVec(Q64)).as("_distance"))
        .orderBy(col("_distance")).limit(10)
      val fired = df.queryExecution.optimizedPlan.exists {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.exists(_.isInstanceOf[graft.plans.AnnRewrittenMarker])
        case _ => false
      }
      require(fired,
        "ann_rewrite_topk: AnnTopKRule did not rewrite the plan (silent brute-force fallback)")
      df
    }),

    // the FILTERED rewrite path (reference README.md:164, src/ann_optimizer
    // .cpp:479-481; test/sql/diskann_optimizer.test:66-88): a WHERE clause
    // between the scan and the top-k makes the rule over-fetch k·mult + 100
    // (default 130 for k=10), keep the user Filter to re-filter, and
    // re-limit. Against the FLAT index the over-fetched window is the exact
    // global top-130, and the vec_id % 3 filter keeps ≥ 77 of those at every
    // shipped SF, so the filtered top-10 is bit-exact vs DuckDB's
    // post-filter sort. The entry hard-fails unless the rewrite fired AND
    // the over-fetch engaged (hit-id set strictly larger than k).
    "ann_rewrite_filtered" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_rewrite_f",
        Ann.BuildParams(engine = "flat"))
      graft.plans.Graft.init(s)
      val df = emb
        .where(col("vec_id") % 3 =!= 0)
        .select(col("vec_id"),
          array_distance(toFloatVec(col("embedding")), floatVec(Q64)).as("_distance"))
        .orderBy(col("_distance")).limit(10)
      // the marker carries the fetched hit count on both fetch routes (the
      // driver-local one folds the InSet filter away)
      val fetched = df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.collect { case m: graft.plans.AnnRewrittenMarker => m.fetched }
      }.flatten
      require(fetched.nonEmpty,
        "ann_rewrite_filtered: AnnTopKRule did not rewrite the filtered plan")
      require(fetched.exists(_ > 10),
        s"ann_rewrite_filtered: overfetch did not engage (fetched hit counts $fetched, want > k=10)")
      df
    }),

    // GRAPH-index selection in the rewrite, driver-checked (the reference
    // rewrites onto its DiskANN index, src/ann_optimizer.cpp:260-345; our
    // rule prefers exact engines when several indexes cover a scan, so this
    // entry uses the one (metric, column) combo only a graph index serves —
    // cosine — and pins the selection via the marker's index name + catalog
    // engine). Rows-only by nature: graph search is approximate, so there
    // is no bit-exact oracle; the driver's rows>0 check plus the two
    // `require`s still turn a silent selection regression into a hard fail.
    "ann_rewrite_graph" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_rewrite_g",
        Ann.BuildParams(engine = "diskann", metric = "cosine", numShards = 2))
      graft.plans.Graft.init(s)
      val df = emb
        .select(col("vec_id"),
          array_cosine_similarity(toFloatVec(col("embedding")), floatVec(Q64))
            .as("sim"))
        .orderBy(col("sim").desc).limit(10)
      val markers = df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.collect {
            case m: graft.plans.AnnRewrittenMarker => m.indexName
          }
      }.flatten
      require(markers.contains("v_rewrite_g"),
        s"ann_rewrite_graph: rule did not select the graph index (markers $markers)")
      val meta = graft.index.IndexCatalog.load(Ann.root(s), "v_rewrite_g")
      require(graft.index.AnnEngine.of(meta).isGraph,
        s"ann_rewrite_graph: selected index is not a graph engine (${meta.engine})")
      df
    }),

    // ---- attribute-filtered ANN search (FAISS SearchParameters/IDSelector
    // analog). Exact route: the id predicate splices into the index scan
    // before the top-k (Catalyst pushes it to parquet), so the result is
    // the exact filtered top-k — double-ordered, rank-oracled like
    // ann_ivf_exact
    // job-free filtered serving (searchFiltered -> ExactServe with the
    // filter closure applied in the driver-local scan): same oracle as the
    // distributed route — FilteredServeSpec pins bit-parity per engine
    "ann_serve_filtered" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_servf",
        Ann.BuildParams(engine = "flat"))
      import s.implicits._
      Ann.searchFiltered(s, "v_servf", q64Arr, 10, Ann.IdFilter.modEq(7, 3))
        .join(emb, col("row_id") === col("vec_id"))
        .select(col("vec_id"),
          array_distance(toFloatVec(col("embedding")), floatVec(Q64)).as("__dd"))
        .transform(rankedBy(col("__dd"), col("vec_id")))
    }),

    "ann_filtered_flat" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_filt_flat",
        Ann.BuildParams(engine = "flat"))
      import s.implicits._
      Ann.searchFiltered(s, "v_filt_flat", q64Arr, 10, Ann.IdFilter.modEq(7, 3))
        .join(emb, col("row_id") === col("vec_id"))
        .select(col("vec_id"),
          array_distance(toFloatVec(col("embedding")), floatVec(Q64)).as("__dd"))
        .transform(rankedBy(col("__dd"), col("vec_id")))
    }),

    // graph route, surfaced as a hard recall gate (escalating-overfetch
    // beam hits must cover >= 9 of the exact filtered top-10; drift fails
    // CORRECTNESS instead of shifting a rows-only integer)
    "ann_filtered_graph" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_filt_g",
        Ann.BuildParams(engine = "diskann", numShards = 2))
      import s.implicits._
      val approx = Ann.searchFiltered(s, "v_filt_g", q64Arr, 10,
          Ann.IdFilter.modEq(3, 1))
        .select("row_id").collect().map(_.getLong(0)).toSet
      val exact = emb.where(pmod(col("vec_id"), lit(3)) === 1)
        .select(col("vec_id"),
          array_distance(toFloatVec(col("embedding")), floatVec(Q64)).as("__d"))
        .orderBy(col("__d"), col("vec_id")).limit(10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      Seq(approx.intersect(exact).size >= 9).toDF("recall_ok")
    }),

    // filtered search on the quantized engine: the predicate splices into
    // the ADC scan (codes stay compressed — no raw-vector fallback for the
    // candidate pass) with nprobe saturation on under-fill; RFlat re-ranks
    // the allowed candidates exactly, so the recall gate matches the graph
    // route's ≥9/10 bar (measured 10/10 at sf0.01; probe-limited configs
    // degrade gracefully per FAISS IVF+IDSelector semantics)
    "ann_filtered_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_filt_pq",
        Ann.BuildParams(engine = "ivfpq", nlist = 8, nprobe = 8, pqM = 8,
          refine = true, refineK = 4))
      import s.implicits._
      val got = Ann.searchFiltered(s, "v_filt_pq", q64Arr, 10,
          Ann.IdFilter.modEq(3, 1))
        .select("row_id").collect().map(_.getLong(0))
      val exact = emb.where(pmod(col("vec_id"), lit(3)) === 1)
        .select(col("vec_id"),
          array_distance(toFloatVec(col("embedding")), floatVec(Q64)).as("__d"))
        .orderBy(col("__d"), col("vec_id")).limit(10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val allAllowed = got.forall(_ % 3 == 1)
      Seq(got.length == 10 && allAllowed &&
        got.count(exact.contains) >= 9).toDF("recall_ok")
    }),

    "neardup_cos_exact" -> ((s, dir) =>
      graft.text.TextOps.cosineExactPairs(
        t(s, dir, "embeddings"), "embedding", "vec_id", 0.4)),

    // SemDeDup (cluster-partitioned semantic dedup): seed-centroid mode is
    // the bit-oracle-able instantiation; the trained-centroid mode is the
    // quality route (SemDedupSpec pins both to the same downstream rule)
    "semdedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = graft.text.SemDedup.seedCentroids(emb, "embedding", "vec_id", 8)
      graft.text.SemDedup.semdedup(emb, "embedding", "vec_id", seeds, 0.4)
        .withColumnRenamed("id", "vec_id")
        .withColumn("cluster", col("cluster").cast("long"))
        .orderBy("vec_id")
    }),

    // soft dedup: duplicate-mass reweighting (weight 1/n per exact-dup
    // group) — downweights dupes instead of dropping them, the standard
    // alternative when corpus coverage must be preserved
    "soft_dedup" -> ((s, dir) => {
      val fp = sha2(col("text"), 256)
      t(s, dir, "documents")
        .withColumn("__n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(fp)))
        .select(col("doc_id"), (lit(1.0) / col("__n")).as("weight"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: binary payload → stub-decoded feature histogram ----

    "multimodal_featurize" -> ((s, dir) => {
      val hUdf = udf((p: Array[Byte]) => graft.multimodal.Multimodal.byteHistogram(p, 16))
      // posexplode_OUTER + null drop (≡ inner posexplode row-for-row): the
      // inner generate's inferred size(h) > 0 filter re-ran the histogram
      // UDF inside the scan Filter (2× per row) below the projection
      t(s, dir, "documents")
        .withColumn("payload", col("text").cast("binary"))
        .select(col("doc_id"), hUdf(col("payload")).as("h"))
        .select(col("doc_id"), posexplode_outer(col("h")).as(Seq("bin", "cnt")))
        .where(col("cnt").isNotNull)
        .select(col("doc_id"), col("bin").cast("long").as("bin"), col("cnt"))
        .orderBy("doc_id", "bin")
    }),

    // REAL audio decode, driver-checked: synthesize a deterministic 16-bit
    // PCM WAV per doc (4 bands × 64 samples, amplitudes a function of
    // doc_id), run it through the javax.sound decode → per-band RMS kernel,
    // and let DuckDB recompute every RMS analytically — constant-amplitude
    // PCM round-trips bit-exactly to round(amp·32767)/32768 (the decode
    // accumulates in double; squares of 15-bit fractions are exact)
    "multimodal_audio" -> ((s, dir) => {
      val bands = 4
      val wavUdf = udf((id: Long) =>
        graft.multimodal.Multimodal.synthWav(id, bands, 64))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), wavUdf(col("doc_id")).as("payload"))
      val feat = graft.multimodal.Multimodal.featurizeAudio(docs, "payload", bands)
      val out = feat
        .where(col("decoded"))
        .select(col("doc_id"), posexplode(col("features")).as(Seq("band", "rms")))
        .select(col("doc_id"), col("band").cast("long").as("band"), col("rms"))
        .orderBy("doc_id", "band")
      out
    }),

    // REAL video decode, driver-checked: synthesize a deterministic
    // uncompressed-DIB RIFF/AVI per doc (8 solid-gray 8x8 frames), run it
    // through the container parser + frame decoder + grid-pooled
    // brightness/motion featurizer, and let DuckDB recompute every feature
    // analytically — the kernel's accumulations are integer sums with ONE
    // double division, so values are bit-reproducible in plain SQL
    "multimodal_video" -> ((s, dir) => {
      val aviUdf = udf((id: Long) => graft.multimodal.Multimodal.synthAvi(id, 8))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), aviUdf(col("doc_id")).as("payload"))
      val feat = graft.multimodal.Multimodal.featurizeVideo(docs, "payload",
        grid = 2, maxFrames = 8)
      feat.where(col("decoded"))
        .select(col("doc_id"), posexplode(col("features")).as(Seq("i", "v")))
        .withColumn("cell", (col("i") % 4).cast("long"))
        .withColumn("kind", when(col("i") < 4, "b").otherwise("m"))
        .groupBy("doc_id", "cell")
        .agg(max(when(col("kind") === "b", col("v"))).as("brightness"),
          max(when(col("kind") === "m", col("v"))).as("motion"))
        .orderBy("doc_id", "cell")
    }),

    // ---- hybrid BM25 + vector search with RRF fusion (SURVEY §2.1 #16) ----

    // BM25 ranks over the FULL documents corpus, vector ranks over the FULL
    // embeddings table, fused — joining the tables first would silently
    // shrink the BM25 corpus when the tables differ in size (they do at
    // sf0.1: 5000 docs vs 2000 embeddings), changing idf/avgdl
    "hybrid_search" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val qText = "spark join filter"
      val bm25 = Hybrid.bm25Ranks(docs, "text", "doc_id",
        Hybrid.queryTerms(qText), 100)
      val vec = Hybrid.exactVectorRanks(emb, "embedding", "vec_id", q64Arr, 100)
      Hybrid.rrfFuse(bm25, vec, 10)
    }),

    "hybrid_search_ann" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      Ann.buildIndex(emb, "embedding", "vec_id", "v_hybrid",
        Ann.BuildParams(engine = "diskann", numShards = 8))
      val bm25 = Hybrid.bm25Ranks(docs, "text", "doc_id",
        Hybrid.queryTerms("spark join filter"), 100)
      val vec = Hybrid.annVectorRanks(s, "v_hybrid", q64Arr, 100,
        searchComplexity = 128)
      Hybrid.rrfFuse(bm25, vec, 10)
    }),

    "dedup_minhash_keep" -> ((s, dir) => {
      TextOps.dedupByMinhash(t(s, dir, "documents"), "text", "doc_id",
          minJaccard = 0.6)
        .select(col("doc_id")).orderBy("doc_id")
    }),

    // LSH band-bucket cap audit: bucket-population counters + the exact
    // pre-dedup pair mass the capped pairing emits vs what an uncapped
    // clique pairing would emit — the no-silent-truncation companion to the
    // bucketCliqueCap (same treatment ngram_cap_audit gives the df cap).
    "lsh_cap_audit" -> ((s, dir) => {
      // the oracle's closed-form CASE is generated from capDefaults; a
      // session running a non-default spark.graft.neardup.bucketCliqueCap
      // would hash-mismatch it SILENTLY (the counters are all that
      // differs), so fail loudly here instead
      val knobs = TextOps.capKnobs(s)
      require(knobs == TextOps.capDefaults,
        s"lsh_cap_audit oracle is generated from default neardup knobs " +
          s"${TextOps.capDefaults} but session has $knobs — reset " +
          "spark.graft.neardup.bucketCliqueCap or regenerate the oracle")
      TextOps.lshBucketStats(t(s, dir, "documents"), "text", "doc_id")
    }),

    // duplicate clusters as connected components over verified near-dup
    // pairs (chains a~b~c collapse even when a≁c) — oracled against a
    // recursive-CTE transitive closure in DuckDB
    "dup_clusters" -> ((s, dir) => {
      val pairs = TextOps.jaccardPairs(t(s, dir, "documents"), "text",
        "doc_id", minJaccard = 0.6)
      TextOps.connectedComponents(pairs).orderBy("id")
    }),

    // keep the BEST member of every duplicate cluster (longest doc, min-id
    // tiebreak) instead of the min-id member — the quality-aware variant
    "dedup_minhash_best" -> ((s, dir) => {
      TextOps.dedupByMinhashKeepBest(t(s, dir, "documents"), "text", "doc_id",
          scoreCol = col("n_chars"), minJaccard = 0.6)
        .select(col("doc_id")).orderBy("doc_id")
    }),

    // corpus-trained bigram-LM fluency scores (CCNet-style LM filtering)
    "lm_score" -> ((s, dir) => {
      TextOps.lmScore(t(s, dir, "documents"), "text", "doc_id", minCount = 2)
        .orderBy("doc_id")
    }),

    // budgeted domain mixing: src0 capped at 120 docs, src1 at 60, every
    // other source at 15 — rates below AND at 1.0 both exercised at sf0.01+
    "domain_mix" -> ((s, dir) => {
      TextOps.domainMix(t(s, dir, "documents"), "source", "doc_id",
          targets = Map("src0" -> 120L, "src1" -> 60L), defaultTarget = 15L)
        .select(col("doc_id"), col("source")).orderBy("doc_id")
    }),

    // token-budget domain mixing: src0's budget exceeds its corpus (rate 1),
    // src1/default sample down — both regimes exercised at sf0.01+
    "domain_mix_tokens" -> ((s, dir) => {
      TextOps.domainMixTokens(t(s, dir, "documents"), "source", "text",
          "doc_id", targets = Map("src0" -> 100000L, "src1" -> 700L),
          defaultTarget = 400L)
        .select(col("doc_id"), col("source")).orderBy("doc_id")
    }),

    // fixpoint near-dup dedup: ONE survivor (min id) per connected
    // component — chains a~b~c keep a single representative even when a≁c
    "dedup_minhash_cc" -> ((s, dir) => {
      TextOps.dedupByMinhashConverged(t(s, dir, "documents"), "text",
          "doc_id", minJaccard = 0.6)
        .select(col("doc_id")).orderBy("doc_id")
    }),

    // incremental ingest dedup: the doc_id%10==0 slice plays the "new
    // batch", the rest the existing corpus; new docs near-duplicating any
    // corpus doc are dropped (within-batch dups deliberately kept)
    "dedup_vs_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.dedupVsCorpus(
          docs.where(pmod(col("doc_id"), lit(10)) === 0),
          docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
          "text", "doc_id", minJaccard = 0.6)
        .select(col("doc_id")).orderBy("doc_id")
    }),

    // Gopher/MassiveText heuristic rule report — per-doc signals + the
    // pass/fail conjunction, pure codegen projection
    "gopher_rules" -> ((s, dir) => {
      TextOps.gopherRules(t(s, dir, "documents"), "text", "doc_id",
          minWords = 20L)
        .orderBy("doc_id")
    }),

    // fixed-budget training chunks with overlap (40-token window, 10-token
    // overlap → multi-chunk docs at every sf)
    "chunk_documents" -> ((s, dir) => {
      TextOps.chunkDocuments(t(s, dir, "documents"), "text", "doc_id",
          budget = 40, overlap = 10)
        .orderBy("doc_id", "chunk_idx")
    }),

    // DSIR-style hashed-bigram importance weights vs the doc_id%5==0
    // target split (ratio-sum scoring — bit-exact cross-engine)
    "dsir_weights" -> ((s, dir) => {
      TextOps.dsirWeights(t(s, dir, "documents"), "text", "doc_id",
          id => id % 5 === 0, dim = 256)
        .orderBy("id")
    })
  )

  /** DuckDB squared-L2 (the index-internal metric) between a vector column
    * and a query expression, accumulated sequentially in double — bit-equal
    * to graft's ArrayDistanceSq (verified: DuckDB list_sum is a sequential
    * fold). */
  private def d2Sql(vecExpr: String, qExpr: String): String =
    s"list_sum(list_transform($vecExpr::DOUBLE[], (x, i) -> (x - ($qExpr)[i]) * (x - ($qExpr)[i])))"

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        | count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q3_join" ->
      """SELECT o_orderkey,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_window" ->
      """SELECT o_custkey, o_orderkey, rk FROM (
        |  SELECT o_custkey, o_orderkey, row_number() OVER (
        |    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 2 ORDER BY o_custkey, rk""".stripMargin,
    "q_setops" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 450000
        |ORDER BY o_custkey""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | round(sum(l_quantity), 2) AS sq
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_scalar_fns" ->
      """SELECT p_partkey, upper(substr(p_name, 1, 8)) AS u,
        | length(p_name)::BIGINT AS len,
        | round(p_retailprice * 1.1, 2) AS priced,
        | concat_ws('-', p_brand, p_type) AS tag
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_semijoin" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem WHERE year(l_shipdate) = 1997)
        |ORDER BY s_suppkey""".stripMargin,
    "q_antijoin" ->
      """SELECT c_mktsegment, count(*) AS n_no_orders, min(c_custkey) AS min_key
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_multijoin" ->
      """SELECT r_name, count(*) AS n_suppliers,
        | min(s_acctbal) AS min_bal, max(s_acctbal) AS max_bal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_distinct_agg" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_custs,
        | count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_case_agg" ->
      """SELECT o_orderpriority,
        | sum(CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END)::BIGINT AS n_big,
        | count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_agg" ->
      """SELECT event_type,
        | CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h, count(*) AS n,
        | round(sum(value), 2) AS sv
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_json" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  max(CAST(props->>'$.k' AS BIGINT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id FROM events),
        | g AS (SELECT user_id, tus, event_id,
        |   CASE WHEN lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w > 1800000000
        |        THEN 1 ELSE 0 END AS nw
        |   FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        | s AS (SELECT user_id, tus,
        |   CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |   FROM g)
        |SELECT user_id, session_seq, min(tus) AS session_start,
        |  max(tus) AS session_end, count(*) AS n_events
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "knn_exact_l2" ->
      s"""SELECT vec_id,
         | list_distance(CAST(embedding AS DOUBLE[]), $q64Sql) AS _distance
         |FROM embeddings ORDER BY _distance, vec_id LIMIT 10""".stripMargin,
    "knn_exact_ip" ->
      s"""SELECT vec_id,
         | list_inner_product(CAST(embedding AS DOUBLE[]), $q64Sql) AS sim
         |FROM embeddings ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "knn_exact_cos" ->
      s"""SELECT vec_id,
         | list_cosine_similarity(CAST(embedding AS DOUBLE[]), $q64Sql) AS sim
         |FROM embeddings ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "knn_per_group" ->
      s"""SELECT label, rk, vec_id, _distance FROM (
         |  SELECT label, vec_id,
         |    list_distance(CAST(embedding AS DOUBLE[]), $q64Sql) AS _distance,
         |    row_number() OVER (PARTITION BY label
         |      ORDER BY list_distance(CAST(embedding AS DOUBLE[]), $q64Sql), vec_id
         |    )::BIGINT AS rk
         |  FROM embeddings)
         |WHERE rk <= 3 ORDER BY label, rk""".stripMargin,
    "maxsim_topk" ->
      s"""SELECT gid, m1 + m2 AS maxsim FROM (
         |  SELECT vec_id % 50 AS gid,
         |    max(list_sum(list_transform(embedding::DOUBLE[],
         |      (x, i) -> x * ($q64Sql)[i]))) AS m1,
         |    max(list_sum(list_transform(embedding::DOUBLE[],
         |      (x, i) -> x * ($q64bSql)[i]))) AS m2
         |  FROM embeddings GROUP BY 1)
         |ORDER BY maxsim DESC, gid LIMIT 10""".stripMargin,
    "vector_distances" ->
      s"""SELECT vec_id, label,
         | list_distance(CAST(embedding AS DOUBLE[]), $q64Sql) AS _distance
         |FROM embeddings ORDER BY vec_id""".stripMargin,
    "ann_ivf_exact" ->
      s"""SELECT vec_id, row_number() OVER (
         |  ORDER BY list_distance(CAST(embedding AS DOUBLE[]), $q64Sql), vec_id) AS rank
         |FROM embeddings ORDER BY rank LIMIT 10""".stripMargin,
    // IVF_HNSW saturating probe: every cell scanned ⇒ plain exact top-k
    // (the coarse graph is bypassed at nprobe = nlist by construction)
    "ann_ivfhnsw_exact" ->
      s"""SELECT vec_id, row_number() OVER (
         |  ORDER BY list_distance(CAST(embedding AS DOUBLE[]), $q64Sql), vec_id) AS rank
         |FROM embeddings ORDER BY rank LIMIT 10""".stripMargin,
    // IMI saturating probe: every cell scanned ⇒ plain exact top-k
    "ann_imi_exact" ->
      s"""SELECT vec_id, row_number() OVER (
         |  ORDER BY list_distance(CAST(embedding AS DOUBLE[]), $q64Sql), vec_id) AS rank
         |FROM embeddings ORDER BY rank LIMIT 10""".stripMargin,
    // IMI probe1 replay with seeded half-codebooks: half-codebook h's
    // centroid c is the h-th half of embeddings[vec_id=c] (c < 4); every
    // row's cell = (argmin over half 1)·4 + (argmin over half 2), ties to
    // the lowest centroid id; the answer is the exact top-10 within the
    // QUERY's cell — assignment, probe selection, and ranking in one hash.
    "ann_imi_probe1" ->
      s"""WITH seeds AS (
         |  SELECT CAST(vec_id AS INT) AS c, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 4),
         |a1 AS (
         |  SELECT e.vec_id, s.c, row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY list_sum(list_transform(range(1, 33), i ->
         |      (CAST(e.embedding AS DOUBLE[])[i] - s.v[i])
         |      * (CAST(e.embedding AS DOUBLE[])[i] - s.v[i]))), s.c) AS rn
         |  FROM embeddings e CROSS JOIN seeds s),
         |a2 AS (
         |  SELECT e.vec_id, s.c, row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY list_sum(list_transform(range(33, 65), i ->
         |      (CAST(e.embedding AS DOUBLE[])[i] - s.v[i])
         |      * (CAST(e.embedding AS DOUBLE[])[i] - s.v[i]))), s.c) AS rn
         |  FROM embeddings e CROSS JOIN seeds s),
         |cells AS (
         |  SELECT x.vec_id, x.c * 4 + y.c AS cell
         |  FROM a1 x JOIN a2 y ON y.vec_id = x.vec_id
         |  WHERE x.rn = 1 AND y.rn = 1),
         |q1 AS (
         |  SELECT c, row_number() OVER (ORDER BY
         |    list_sum(list_transform(range(1, 33), i ->
         |      (($q64Sql)[i] - v[i]) * (($q64Sql)[i] - v[i]))), c) AS rn
         |  FROM seeds),
         |q2 AS (
         |  SELECT c, row_number() OVER (ORDER BY
         |    list_sum(list_transform(range(33, 65), i ->
         |      (($q64Sql)[i] - v[i]) * (($q64Sql)[i] - v[i]))), c) AS rn
         |  FROM seeds),
         |qcell AS (
         |  SELECT x.c * 4 + y.c AS cell FROM q1 x, q2 y
         |  WHERE x.rn = 1 AND y.rn = 1)
         |SELECT vec_id, rank FROM (
         |  SELECT e.vec_id, row_number() OVER (
         |    ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), $q64Sql),
         |      e.vec_id) AS rank
         |  FROM embeddings e
         |  JOIN cells ce ON ce.vec_id = e.vec_id
         |  JOIN qcell q ON ce.cell = q.cell)
         |WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // full-dim PCA is a pure rotation: same exact-top-k oracle (the Spark
    // side re-ranks its transformed-space hits by the original-space double
    // distance, so the hash checks the SET and the ordering end to end)
    "ann_pca_exact" ->
      s"""SELECT vec_id, row_number() OVER (
         |  ORDER BY list_distance(CAST(embedding AS DOUBLE[]), $q64Sql), vec_id) AS rank
         |FROM embeddings ORDER BY rank LIMIT 10""".stripMargin,
    "ann_merge_flat" ->
      s"""SELECT vec_id, row_number() OVER (
         |  ORDER BY list_distance(CAST(embedding AS DOUBLE[]), $q64Sql), vec_id) AS rank
         |FROM embeddings ORDER BY rank LIMIT 10""".stripMargin,
    "ann_hnsw_exact" ->
      s"""SELECT vec_id, row_number() OVER (
         |  ORDER BY list_distance(CAST(embedding AS DOUBLE[]), $q64Sql), vec_id) AS rank
         |FROM embeddings ORDER BY rank LIMIT 10""".stripMargin,
    // SQ replay: per-dim min/max over the corpus, code = clamp(round(
    // (v−min)/scale·levels)), dequantize, rank by L2 of dequantized vectors
    // (rust_lib/src/provider.rs:161-241 scheme at levels=255; the 15/63
    // variants replay this library's packed SQ4/SQ6 extension — packing is
    // storage-only, so the value replay is the same formula at fewer levels).
    "ann_sq8_exact" -> sqExactOracleSql(255),
    // IVF,SQ8 at saturating nprobe: the probe set covers every list, so the
    // ranking is the dequantized brute force — the identical quantizer
    // replay, now exercising the IVF ADC serve route
    "ann_ivfsq_exact" -> sqExactOracleSql(255),
    // reconstruct replay: codes via the same (e-mn)/sc*255 round rule the
    // saturation oracles replay; VALUES recomputed in REAL (float32)
    // arithmetic — mnf + (lvl/255f)*scf left-to-right — mirroring the
    // synthetic codebook's float expression, double-cast once at the end
    "ann_reconstruct" ->
      s"""WITH ex AS (
         |  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS e,
         |         unnest(range(1, 65)) AS i
         |  FROM embeddings),
         |mm AS (
         |  SELECT i, min(e) AS mn,
         |    CASE WHEN max(e) > min(e) THEN max(e) - min(e) ELSE 1.0 END AS sc
         |  FROM ex GROUP BY i),
         |lv AS (
         |  SELECT x.vec_id, x.i,
         |    CAST(least(255, greatest(0, round((x.e - m.mn) / m.sc * 255))) AS BIGINT) AS lvl,
         |    CAST(m.mn AS FLOAT) AS mnf, CAST(m.sc AS FLOAT) AS scf
         |  FROM ex x JOIN mm m ON m.i = x.i WHERE x.vec_id < 4)
         |SELECT vec_id, i,
         |  CAST(mnf + (CAST(lvl AS FLOAT) / CAST(255 AS FLOAT)) * scf AS DOUBLE) AS v
         |FROM lv ORDER BY vec_id, i""".stripMargin,
    // quantized range search: the same dequantization replay, radius filter
    // instead of rank cut — exact in code space at nprobe=1 because the
    // cluster pruning radii are computed over the reconstructions themselves
    "ann_range_ivfsq" -> sqRangeOracleSql(255, "16.5"),
    "ann_sq4_exact" -> sqExactOracleSql(15),
    "ann_sq6_exact" -> sqExactOracleSql(63),
    // packed IVF scalar quantization: the same replay at 15/63 levels —
    // packing is storage-only, so the value formula is unchanged
    "ann_ivfsq4_exact" -> sqExactOracleSql(15),
    "ann_ivfsq6_exact" -> sqExactOracleSql(63),
    // LSH replay with the seeded hyperplanes: hyperplane b is
    // embeddings[vec_id=b] (b < 16); bit = (dot(v, h_b) >= 0) in double;
    // hamming = #bits differing from the query's code; top-10 by
    // (hamming, vec_id). Values are integral, so the hash check covers the
    // distances themselves, not just ranks.
    "ann_lsh_exact" ->
      s"""WITH hyps AS (
         |  SELECT CAST(vec_id AS INT) AS b, CAST(embedding AS DOUBLE[]) AS h
         |  FROM embeddings WHERE vec_id < 16),
         |bits AS (
         |  SELECT e.vec_id, hy.b,
         |    CASE WHEN list_sum(list_transform(range(1, 65), i ->
         |      CAST(e.embedding AS DOUBLE[])[i] * hy.h[i])) >= 0
         |    THEN 1 ELSE 0 END AS bit
         |  FROM embeddings e CROSS JOIN hyps hy),
         |qbits AS (
         |  SELECT b, CASE WHEN list_sum(list_transform(range(1, 65), i ->
         |      ($q64Sql)[i] * h[i])) >= 0 THEN 1 ELSE 0 END AS qbit
         |  FROM hyps),
         |ham AS (
         |  SELECT t.vec_id,
         |    sum(CASE WHEN t.bit <> q.qbit THEN 1 ELSE 0 END)::BIGINT AS hamming
         |  FROM bits t JOIN qbits q ON q.b = t.b GROUP BY t.vec_id)
         |SELECT vec_id, hamming FROM ham
         |ORDER BY hamming, vec_id LIMIT 10""".stripMargin,
    // RFlat around LSH: the seeded Hamming top-40 candidates re-ranked by
    // EXACT double L2 — the refine output value-oracles, not just the rank.
    "ann_lsh_refine_exact" ->
      s"""WITH hyps AS (
         |  SELECT CAST(vec_id AS INT) AS b, CAST(embedding AS DOUBLE[]) AS h
         |  FROM embeddings WHERE vec_id < 16),
         |bits AS (
         |  SELECT e.vec_id, hy.b,
         |    CASE WHEN list_sum(list_transform(range(1, 65), i ->
         |      CAST(e.embedding AS DOUBLE[])[i] * hy.h[i])) >= 0
         |    THEN 1 ELSE 0 END AS bit
         |  FROM embeddings e CROSS JOIN hyps hy),
         |qbits AS (
         |  SELECT b, CASE WHEN list_sum(list_transform(range(1, 65), i ->
         |      ($q64Sql)[i] * h[i])) >= 0 THEN 1 ELSE 0 END AS qbit
         |  FROM hyps),
         |ham AS (
         |  SELECT t.vec_id,
         |    sum(CASE WHEN t.bit <> q.qbit THEN 1 ELSE 0 END)::BIGINT AS hamming
         |  FROM bits t JOIN qbits q ON q.b = t.b GROUP BY t.vec_id),
         |cand AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, row_number() OVER (ORDER BY hamming, vec_id) AS rn
         |    FROM ham)
         |  WHERE rn <= 40)
         |SELECT e.vec_id, CAST(${d2Sql("e.embedding", q64Sql)} AS FLOAT) AS _distance
         |FROM embeddings e JOIN cand ON cand.vec_id = e.vec_id
         |ORDER BY ${d2Sql("e.embedding", q64Sql)}, e.vec_id LIMIT 10""".stripMargin,
    // LSH256: the ann_lsh_exact replay at 256 seeded hyperplanes — the
    // `bits` CTE is a join over b, so width needs no unrolling; hamming is
    // the summed per-word popcounts on the Spark side, a plain bit count
    // here (identical integers either way)
    "ann_lsh256_exact" ->
      s"""WITH hyps AS (
         |  SELECT CAST(vec_id AS INT) AS b, CAST(embedding AS DOUBLE[]) AS h
         |  FROM embeddings WHERE vec_id < 256),
         |bits AS (
         |  SELECT e.vec_id, hy.b,
         |    CASE WHEN list_sum(list_transform(range(1, 65), i ->
         |      CAST(e.embedding AS DOUBLE[])[i] * hy.h[i])) >= 0
         |    THEN 1 ELSE 0 END AS bit
         |  FROM embeddings e CROSS JOIN hyps hy),
         |qbits AS (
         |  SELECT b, CASE WHEN list_sum(list_transform(range(1, 65), i ->
         |      ($q64Sql)[i] * h[i])) >= 0 THEN 1 ELSE 0 END AS qbit
         |  FROM hyps),
         |ham AS (
         |  SELECT t.vec_id,
         |    sum(CASE WHEN t.bit <> q.qbit THEN 1 ELSE 0 END)::BIGINT AS hamming
         |  FROM bits t JOIN qbits q ON q.b = t.b GROUP BY t.vec_id)
         |SELECT vec_id, hamming FROM ham
         |ORDER BY hamming, vec_id LIMIT 10""".stripMargin,
    // the LSH training suffixes: thresholds-only (16 raw seeded rows),
    // rotation-only (8 rows, unrolled Gram-Schmidt), and both composed —
    // each generated by lshVariantOracleSql, each a full value oracle
    "ann_lsht_exact" -> lshVariantOracleSql(16, rotate = false, trained = true),
    "ann_lshr_exact" -> lshVariantOracleSql(8, rotate = true, trained = false),
    "ann_lshrt_exact" -> lshVariantOracleSql(8, rotate = true, trained = true),
    // PCAR full-dim: Q·R is a rotation, so the plain exact-top-k rank
    // oracle applies (the Spark side re-ranks by original-space double L2)
    "ann_pcar_exact" ->
      s"""SELECT vec_id, row_number() OVER (
         |  ORDER BY list_distance(CAST(embedding AS DOUBLE[]), $q64Sql), vec_id) AS rank
         |FROM embeddings ORDER BY rank LIMIT 10""".stripMargin,
    // IMI2x2,PQ8 replay: decomposed half-argmin assignment (cells = product
    // of the 4 lowest-id seeds' halves), residual vs the PRODUCT centroid,
    // seeded PQ codebook = residuals of the 16 lowest ids, full ADC at
    // saturating probe width — ann_ivfpq_exact's pattern with the coarse
    // quantizer swapped for the multi-index form
    "ann_imipq_exact" ->
      s"""WITH seeds AS (
         |  SELECT CAST(vec_id AS INT) AS c, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 4),
         |a1 AS (
         |  SELECT e.vec_id, s.c, row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY list_sum(list_transform(range(1, 33), i ->
         |      (CAST(e.embedding AS DOUBLE[])[i] - s.v[i])
         |      * (CAST(e.embedding AS DOUBLE[])[i] - s.v[i]))), s.c) AS rn
         |  FROM embeddings e CROSS JOIN seeds s),
         |a2 AS (
         |  SELECT e.vec_id, s.c, row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY list_sum(list_transform(range(33, 65), i ->
         |      (CAST(e.embedding AS DOUBLE[])[i] - s.v[i])
         |      * (CAST(e.embedding AS DOUBLE[])[i] - s.v[i]))), s.c) AS rn
         |  FROM embeddings e CROSS JOIN seeds s),
         |cells AS (
         |  SELECT x.vec_id, x.c AS c1, y.c AS c2
         |  FROM a1 x JOIN a2 y ON y.vec_id = x.vec_id
         |  WHERE x.rn = 1 AND y.rn = 1),
         |resid AS (
         |  SELECT e.vec_id,
         |    list_transform(range(1, 65), i -> CAST(e.embedding AS DOUBLE[])[i]
         |      - CASE WHEN i <= 32 THEN s1.v[i] ELSE s2.v[i] END) AS rv,
         |    ce.c1, ce.c2
         |  FROM embeddings e JOIN cells ce ON ce.vec_id = e.vec_id
         |    JOIN seeds s1 ON s1.c = ce.c1 JOIN seeds s2 ON s2.c = ce.c2),
         |cents AS (
         |  SELECT CAST(r.vec_id AS INT) AS c, r.rv AS v FROM resid r
         |  WHERE r.vec_id < 16),
         |subs AS (SELECT CAST(s AS INT) AS s FROM range(8) t(s)),
         |codes AS (
         |  SELECT vec_id, s, c FROM (
         |    SELECT r.vec_id, sub.s, c.c, row_number() OVER (
         |      PARTITION BY r.vec_id, sub.s ORDER BY
         |        list_sum(list_transform(range(1, 9), i ->
         |          (r.rv[sub.s*8 + i] - c.v[sub.s*8 + i])
         |          * (r.rv[sub.s*8 + i] - c.v[sub.s*8 + i]))),
         |        c.c) AS rn
         |    FROM resid r CROSS JOIN subs sub CROSS JOIN cents c)
         |  WHERE rn = 1),
         |adc AS (
         |  SELECT k.vec_id, sum(list_sum(list_transform(range(1, 9), i ->
         |    (($q64Sql)[k.s*8 + i]
         |      - CASE WHEN k.s*8 + i <= 32 THEN s1.v[k.s*8 + i]
         |             ELSE s2.v[k.s*8 + i] END
         |      - c.v[k.s*8 + i])
         |    * (($q64Sql)[k.s*8 + i]
         |      - CASE WHEN k.s*8 + i <= 32 THEN s1.v[k.s*8 + i]
         |             ELSE s2.v[k.s*8 + i] END
         |      - c.v[k.s*8 + i])))) AS dd
         |  FROM codes k JOIN cells ce ON ce.vec_id = k.vec_id
         |    JOIN seeds s1 ON s1.c = ce.c1 JOIN seeds s2 ON s2.c = ce.c2
         |    JOIN cents c ON c.c = k.c
         |  GROUP BY k.vec_id)
         |SELECT vec_id, rank FROM (
         |  SELECT vec_id, row_number() OVER (ORDER BY dd, vec_id) AS rank FROM adc)
         |WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // ADC replay with the seeded codebook: centroid c of subspace s is
    // embeddings[vec_id=c][s·8+1 .. s·8+8]; encode = argmin sq-L2 per
    // (doc, subspace) with ties to the lowest centroid id; ADC distance =
    // Σ_s sqL2(query_sub_s, centroid[code_s]_sub_s); rank by (adc, vec_id).
    "ann_pq_exact" ->
      s"""WITH cents AS (
         |  SELECT CAST(vec_id AS INT) AS c, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 16),
         |subs AS (SELECT CAST(s AS INT) AS s FROM range(8) t(s)),
         |codes AS (
         |  SELECT vec_id, s, c FROM (
         |    SELECT e.vec_id, sub.s, c.c, row_number() OVER (
         |      PARTITION BY e.vec_id, sub.s ORDER BY
         |        list_sum(list_transform(range(1, 9), i ->
         |          (CAST(e.embedding AS DOUBLE[])[sub.s*8 + i] - c.v[sub.s*8 + i])
         |          * (CAST(e.embedding AS DOUBLE[])[sub.s*8 + i] - c.v[sub.s*8 + i]))),
         |        c.c) AS rn
         |    FROM embeddings e CROSS JOIN subs sub CROSS JOIN cents c)
         |  WHERE rn = 1),
         |adc AS (
         |  SELECT k.vec_id, sum(list_sum(list_transform(range(1, 9), i ->
         |    (($q64Sql)[k.s*8 + i] - c.v[k.s*8 + i])
         |    * (($q64Sql)[k.s*8 + i] - c.v[k.s*8 + i])))) AS dd
         |  FROM codes k JOIN cents c ON c.c = k.c
         |  GROUP BY k.vec_id)
         |SELECT vec_id, rank FROM (
         |  SELECT vec_id, row_number() OVER (ORDER BY dd, vec_id) AS rank FROM adc)
         |WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // OPQ replay: rotate every embedding (and the query) by the reversal
    // permutation — rv[i] = v[65−i] — then the identical seeded-PQ ADC
    // replay in rotated space (L2 is rotation-invariant, but the CODES and
    // therefore the ADC ranking are rotation-specific, which is what this
    // checks).
    "ann_opq_exact" ->
      s"""WITH rot AS (
         |  SELECT vec_id, list_transform(range(1, 65),
         |    i -> CAST(embedding AS DOUBLE[])[65 - i]) AS v
         |  FROM embeddings),
         |qrot AS (
         |  SELECT list_transform(range(1, 65), i -> ($q64Sql)[65 - i]) AS q),
         |cents AS (
         |  SELECT CAST(vec_id AS INT) AS c, v FROM rot WHERE vec_id < 16),
         |subs AS (SELECT CAST(s AS INT) AS s FROM range(8) t(s)),
         |codes AS (
         |  SELECT vec_id, s, c FROM (
         |    SELECT r.vec_id, sub.s, c.c, row_number() OVER (
         |      PARTITION BY r.vec_id, sub.s ORDER BY
         |        list_sum(list_transform(range(1, 9), i ->
         |          (r.v[sub.s*8 + i] - c.v[sub.s*8 + i])
         |          * (r.v[sub.s*8 + i] - c.v[sub.s*8 + i]))),
         |        c.c) AS rn
         |    FROM rot r CROSS JOIN subs sub CROSS JOIN cents c)
         |  WHERE rn = 1),
         |adc AS (
         |  SELECT k.vec_id, sum(list_sum(list_transform(range(1, 9), i ->
         |    (q.q[k.s*8 + i] - c.v[k.s*8 + i])
         |    * (q.q[k.s*8 + i] - c.v[k.s*8 + i])))) AS dd
         |  FROM codes k JOIN cents c ON c.c = k.c CROSS JOIN qrot q
         |  GROUP BY k.vec_id)
         |SELECT vec_id, rank FROM (
         |  SELECT vec_id, row_number() OVER (ORDER BY dd, vec_id) AS rank FROM adc)
         |WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // IVFPQ replay: coarse centroids = 4 lowest ids verbatim; per-doc
    // cluster = argmin sq-L2 (ties → lowest); residual codebook = residuals
    // of the 16 lowest ids; ADC over the query residual per cluster.
    "ann_ivfpq_exact" ->
      s"""WITH coarse AS (
         |  SELECT CAST(vec_id AS INT) AS cl, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 4),
         |asg AS (
         |  SELECT vec_id, cl FROM (
         |    SELECT e.vec_id, g.cl, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_sum(list_transform(range(1, 65), i ->
         |        (CAST(e.embedding AS DOUBLE[])[i] - g.v[i])
         |        * (CAST(e.embedding AS DOUBLE[])[i] - g.v[i]))),
         |      g.cl) AS rn
         |    FROM embeddings e CROSS JOIN coarse g)
         |  WHERE rn = 1),
         |resid AS (
         |  SELECT e.vec_id, a.cl,
         |    list_transform(range(1, 65), i ->
         |      CAST(e.embedding AS DOUBLE[])[i] - g.v[i]) AS rv
         |  FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id
         |    JOIN coarse g ON g.cl = a.cl),
         |cents AS (
         |  SELECT CAST(r.vec_id AS INT) AS c, r.rv AS v FROM resid r
         |  WHERE r.vec_id < 16),
         |subs AS (SELECT CAST(s AS INT) AS s FROM range(8) t(s)),
         |codes AS (
         |  SELECT vec_id, s, c FROM (
         |    SELECT r.vec_id, sub.s, c.c, row_number() OVER (
         |      PARTITION BY r.vec_id, sub.s ORDER BY
         |        list_sum(list_transform(range(1, 9), i ->
         |          (r.rv[sub.s*8 + i] - c.v[sub.s*8 + i])
         |          * (r.rv[sub.s*8 + i] - c.v[sub.s*8 + i]))),
         |        c.c) AS rn
         |    FROM resid r CROSS JOIN subs sub CROSS JOIN cents c)
         |  WHERE rn = 1),
         |adc AS (
         |  SELECT k.vec_id, sum(list_sum(list_transform(range(1, 9), i ->
         |    (($q64Sql)[k.s*8 + i] - g.v[k.s*8 + i] - c.v[k.s*8 + i])
         |    * (($q64Sql)[k.s*8 + i] - g.v[k.s*8 + i] - c.v[k.s*8 + i])))) AS dd
         |  FROM codes k JOIN asg a ON a.vec_id = k.vec_id
         |    JOIN coarse g ON g.cl = a.cl JOIN cents c ON c.c = k.c
         |  GROUP BY k.vec_id)
         |SELECT vec_id, rank FROM (
         |  SELECT vec_id, row_number() OVER (ORDER BY dd, vec_id) AS rank FROM adc)
         |WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // OPQ,IVF,PQ chain replay: the ann_ivfpq_exact replay with every vector
    // (and the query) passed through the seeded reversal rotation first —
    // exactly what the stored mean-zero pca.bin fold computes.
    "ann_opqivf_exact" ->
      s"""WITH rot AS (
         |  SELECT vec_id, list_transform(range(1, 65),
         |    i -> CAST(embedding AS DOUBLE[])[65 - i]) AS v
         |  FROM embeddings),
         |qrot AS (
         |  SELECT list_transform(range(1, 65), i -> ($q64Sql)[65 - i]) AS q),
         |coarse AS (
         |  SELECT CAST(vec_id AS INT) AS cl, v FROM rot WHERE vec_id < 4),
         |asg AS (
         |  SELECT vec_id, cl FROM (
         |    SELECT r.vec_id, g.cl, row_number() OVER (PARTITION BY r.vec_id
         |      ORDER BY list_sum(list_transform(range(1, 65), i ->
         |        (r.v[i] - g.v[i]) * (r.v[i] - g.v[i]))),
         |      g.cl) AS rn
         |    FROM rot r CROSS JOIN coarse g)
         |  WHERE rn = 1),
         |resid AS (
         |  SELECT r.vec_id, a.cl,
         |    list_transform(range(1, 65), i -> r.v[i] - g.v[i]) AS rv
         |  FROM rot r JOIN asg a ON a.vec_id = r.vec_id
         |    JOIN coarse g ON g.cl = a.cl),
         |cents AS (
         |  SELECT CAST(r.vec_id AS INT) AS c, r.rv AS v FROM resid r
         |  WHERE r.vec_id < 16),
         |subs AS (SELECT CAST(s AS INT) AS s FROM range(8) t(s)),
         |codes AS (
         |  SELECT vec_id, s, c FROM (
         |    SELECT r.vec_id, sub.s, c.c, row_number() OVER (
         |      PARTITION BY r.vec_id, sub.s ORDER BY
         |        list_sum(list_transform(range(1, 9), i ->
         |          (r.rv[sub.s*8 + i] - c.v[sub.s*8 + i])
         |          * (r.rv[sub.s*8 + i] - c.v[sub.s*8 + i]))),
         |        c.c) AS rn
         |    FROM resid r CROSS JOIN subs sub CROSS JOIN cents c)
         |  WHERE rn = 1),
         |adc AS (
         |  SELECT k.vec_id, sum(list_sum(list_transform(range(1, 9), i ->
         |    (q.q[k.s*8 + i] - g.v[k.s*8 + i] - c.v[k.s*8 + i])
         |    * (q.q[k.s*8 + i] - g.v[k.s*8 + i] - c.v[k.s*8 + i])))) AS dd
         |  FROM codes k JOIN asg a ON a.vec_id = k.vec_id
         |    JOIN coarse g ON g.cl = a.cl JOIN cents c ON c.c = k.c
         |    CROSS JOIN qrot q
         |  GROUP BY k.vec_id)
         |SELECT vec_id, rank FROM (
         |  SELECT vec_id, row_number() OVER (ORDER BY dd, vec_id) AS rank FROM adc)
         |WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // RFlat: the seeded-ADC top-40 candidates re-ranked by EXACT double
    // distance — the refine output value-oracles, not just the rank.
    "ann_pq_refine_exact" ->
      s"""WITH cents AS (
         |  SELECT CAST(vec_id AS INT) AS c, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 16),
         |subs AS (SELECT CAST(s AS INT) AS s FROM range(8) t(s)),
         |codes AS (
         |  SELECT vec_id, s, c FROM (
         |    SELECT e.vec_id, sub.s, c.c, row_number() OVER (
         |      PARTITION BY e.vec_id, sub.s ORDER BY
         |        list_sum(list_transform(range(1, 9), i ->
         |          (CAST(e.embedding AS DOUBLE[])[sub.s*8 + i] - c.v[sub.s*8 + i])
         |          * (CAST(e.embedding AS DOUBLE[])[sub.s*8 + i] - c.v[sub.s*8 + i]))),
         |        c.c) AS rn
         |    FROM embeddings e CROSS JOIN subs sub CROSS JOIN cents c)
         |  WHERE rn = 1),
         |adc AS (
         |  SELECT k.vec_id, sum(list_sum(list_transform(range(1, 9), i ->
         |    (($q64Sql)[k.s*8 + i] - c.v[k.s*8 + i])
         |    * (($q64Sql)[k.s*8 + i] - c.v[k.s*8 + i])))) AS dd
         |  FROM codes k JOIN cents c ON c.c = k.c
         |  GROUP BY k.vec_id),
         |cand AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id, row_number() OVER (ORDER BY dd, vec_id) AS rn FROM adc)
         |  WHERE rn <= 40)
         |SELECT e.vec_id, CAST(${d2Sql("e.embedding", q64Sql)} AS FLOAT) AS _distance
         |FROM embeddings e JOIN cand ON cand.vec_id = e.vec_id
         |ORDER BY ${d2Sql("e.embedding", q64Sql)}, e.vec_id LIMIT 10""".stripMargin,
    "ann_batch_exact" ->
      s"""WITH q AS (SELECT vec_id AS query_idx, embedding AS qv FROM embeddings WHERE vec_id < 3),
         |scored AS (
         |  SELECT q.query_idx, e.vec_id AS rid,
         |    ${d2Sql("e.embedding", "q.qv::DOUBLE[]")} AS __dd
         |  FROM q CROSS JOIN embeddings e
         |)
         |SELECT query_idx, rid, CAST(__dd AS FLOAT) AS _distance FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_idx ORDER BY __dd, rid) AS rn
         |  FROM scored)
         |WHERE rn <= 5
         |ORDER BY query_idx, _distance, rid""".stripMargin,
    "ann_search_table" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
         |scored AS (
         |  SELECT q.qid, e.vec_id AS rid,
         |    ${d2Sql("e.embedding", "q.qv::DOUBLE[]")} AS __dd
         |  FROM q CROSS JOIN embeddings e
         |)
         |SELECT qid, rid, CAST(__dd AS FLOAT) AS _distance FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY __dd, rid) AS rn
         |  FROM scored)
         |WHERE rn <= 5
         |ORDER BY qid, _distance, rid""".stripMargin,
    "ann_range_table" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3)
         |SELECT qid, rid, CAST(__dd AS FLOAT) AS _distance FROM (
         |  SELECT q.qid, e.vec_id AS rid,
         |    ${d2Sql("e.embedding", "q.qv::DOUBLE[]")} AS __dd
         |  FROM q CROSS JOIN embeddings e)
         |WHERE __dd <= 1.5
         |ORDER BY qid, _distance, rid""".stripMargin,
    "ann_range_table_ivfsq" -> sqRangeTableOracleSql(255, "1.5"),
    // row order follows the DOUBLE distance end to end (the engine ranks
    // near-ties by the full double; Ann.search preserves that rank instead
    // of re-sorting by the f32-cast column)
    "ann_oversample" ->
      s"""SELECT vec_id, _distance FROM (
         |  SELECT vec_id, CAST(${d2Sql("embedding", q64Sql)} AS FLOAT) AS _distance,
         |         ${d2Sql("embedding", q64Sql)} AS __dd
         |  FROM embeddings ORDER BY __dd, vec_id LIMIT 15
         |) ORDER BY __dd, vec_id""".stripMargin,
    "ann_diskann_exact" ->
      s"""SELECT vec_id, row_number() OVER (
         |  ORDER BY list_distance(CAST(embedding AS DOUBLE[]), $q64Sql), vec_id) AS rank
         |FROM embeddings ORDER BY rank LIMIT 10""".stripMargin,
    "ann_range_graph_exact" ->
      s"""SELECT vec_id FROM (
         |  SELECT vec_id, ${d2Sql("embedding", q64Sql)} AS __dd FROM embeddings)
         |WHERE __dd <= 16.5 ORDER BY vec_id""".stripMargin,
    "ann_range_table_graph_exact" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3)
         |SELECT qid, rid FROM (
         |  SELECT q.qid, e.vec_id AS rid,
         |    ${d2Sql("e.embedding", "q.qv::DOUBLE[]")} AS __dd
         |  FROM q CROSS JOIN embeddings e)
         |WHERE __dd <= 16.5 ORDER BY qid, rid""".stripMargin,
    "ann_range_search" ->
      s"""SELECT vec_id, _distance FROM (
         |  SELECT vec_id, CAST(${d2Sql("embedding", q64Sql)} AS FLOAT) AS _distance,
         |         ${d2Sql("embedding", q64Sql)} AS __dd
         |  FROM embeddings
         |) WHERE __dd <= 16.5 ORDER BY _distance, vec_id""".stripMargin,
    "ann_range_ivf" ->
      s"""SELECT vec_id, _distance FROM (
         |  SELECT vec_id, CAST(${d2Sql("embedding", q64Sql)} AS FLOAT) AS _distance,
         |         ${d2Sql("embedding", q64Sql)} AS __dd
         |  FROM embeddings
         |) WHERE __dd <= 16.5 ORDER BY _distance, vec_id""".stripMargin,
    "ann_delete_search" ->
      s"""SELECT vec_id, _distance FROM (
         |  SELECT vec_id, CAST(${d2Sql("embedding", q64Sql)} AS FLOAT) AS _distance,
         |         ${d2Sql("embedding", q64Sql)} AS __dd
         |  FROM embeddings WHERE vec_id NOT IN (3, 7, 11)
         |  ORDER BY __dd, vec_id LIMIT 10
         |) ORDER BY __dd, vec_id""".stripMargin,
    "ann_vacuum_info" ->
      """SELECT (count(*) - 5)::BIGINT AS num_vectors, 0::BIGINT AS num_deleted
        |FROM embeddings""".stripMargin,
    "ann_gpu_info" ->
      "SELECT false AS available, 'cpu' AS device",
    "ann_recall_at10" ->
      "SELECT true AS recall_ok",
    "ann_list" ->
      "SELECT 'v_list' AS name, 'flat' AS engine, 'l2' AS metric",
    "ann_index_info" ->
      """SELECT 'v_info' AS name, 'flat' AS engine, 'l2' AS metric,
        | 64 AS dimension, count(*)::BIGINT AS num_vectors, false AS quantized
        |FROM embeddings""".stripMargin,
    "streaming_build_info" ->
      """SELECT count(*)::BIGINT AS num_vectors, 64 AS dimension,
        | least(greatest(CAST(floor(sqrt(count(*))) AS BIGINT), 1000),
        |       count(*))::BIGINT AS sample_size
        |FROM embeddings""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "token_count" ->
      """SELECT doc_id, len(str_split(text, ' ')) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ngram_dup_pairs" ->
      """WITH toks AS (SELECT doc_id,
        |   regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
        | ng AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS ngram
        |   FROM toks, unnest(range(1, len(t)-3)) AS u(i) WHERE len(t) >= 5),
        | keep AS (SELECT ngram FROM ng GROUP BY 1
        |   HAVING count(*) BETWEEN 2 AND 50),
        | fng AS (SELECT ng.doc_id, ng.ngram FROM ng JOIN keep USING (ngram))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_ngrams
        |FROM fng a JOIN fng b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3 ORDER BY id_a, id_b""".stripMargin,
    "ngram_cap_audit" ->
      """WITH toks AS (SELECT doc_id,
        |   regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
        | ng AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS ngram
        |   FROM toks, unnest(range(1, len(t)-3)) AS u(i) WHERE len(t) >= 5),
        | dfs AS (SELECT ngram, count(*) AS df FROM ng GROUP BY 1)
        |SELECT count(*) AS ngrams_total,
        |  CAST(coalesce(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
        |    AS ngrams_singleton,
        |  CAST(coalesce(sum(CASE WHEN df BETWEEN 2 AND 50 THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS ngrams_kept,
        |  CAST(coalesce(sum(CASE WHEN df > 50 THEN 1 ELSE 0 END), 0) AS BIGINT)
        |    AS ngrams_dropped_over_cap,
        |  CAST(coalesce(max(df), 0) AS BIGINT) AS max_df
        |FROM dfs""".stripMargin,
    "decontaminate" ->
      """WITH toks AS (SELECT doc_id,
        |   regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
        | ng AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS ngram
        |   FROM toks, unnest(range(1, len(t)-3)) AS u(i) WHERE len(t) >= 5),
        | keep AS (SELECT ngram FROM ng GROUP BY 1
        |   HAVING count(*) BETWEEN 2 AND 50),
        | fng AS (SELECT ng.doc_id, ng.ngram FROM ng JOIN keep USING (ngram))
        |SELECT tr.doc_id, count(*) AS n_contaminated
        |FROM fng tr
        |JOIN (SELECT DISTINCT ngram FROM fng WHERE doc_id % 5 = 0) ev
        |  ON tr.ngram = ev.ngram
        |WHERE tr.doc_id % 5 <> 0 GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "decontaminate_filter" ->
      """WITH toks AS (SELECT doc_id,
        |   regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
        | ng AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS ngram
        |   FROM toks, unnest(range(1, len(t)-3)) AS u(i) WHERE len(t) >= 5),
        | keep AS (SELECT ngram FROM ng GROUP BY 1
        |   HAVING count(*) BETWEEN 2 AND 50),
        | fng AS (SELECT ng.doc_id, ng.ngram FROM ng JOIN keep USING (ngram)),
        | bad AS (SELECT DISTINCT tr.doc_id FROM fng tr
        |   JOIN (SELECT DISTINCT ngram FROM fng WHERE doc_id % 5 = 0) ev
        |     ON tr.ngram = ev.ngram
        |   WHERE tr.doc_id % 5 <> 0)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 5 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin,
    "curate_report" -> {
      val q = TextSql.qualityColumns("text").find(_._1 == "quality").get._2
      val lng = TextSql.langId(TextSql.tokens("text"))
      s"""WITH __rep AS (
         |  SELECT doc_id,
         |    sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE / sum(c) AS dbf
         |  FROM (SELECT doc_id, count(*) AS c FROM (
         |     SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
         |     FROM (SELECT doc_id, ${TextSql.tokens("text")} AS t FROM documents),
         |          unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2)
         |     GROUP BY doc_id, g) GROUP BY 1),
         | __g AS (SELECT d.doc_id, d.text,
         |   CASE WHEN ($lng) NOT IN ('en', 'de') THEN 'lang'
         |        WHEN ($q) < 0.3 THEN 'quality'
         |        WHEN coalesce(r.dbf, 0.0) > 0.5 THEN 'repetitive' END AS gate_reason
         |   FROM documents d LEFT JOIN __rep r USING (doc_id)),
         | __pass1 AS (SELECT doc_id, text FROM __g WHERE gate_reason IS NULL),
         | ${TextSql.signaturesCte("__pass1", "text", "doc_id")},
         | __jac AS (
         |   SELECT c.id_b,
         |     len(list_filter(a.shingles, x -> list_contains(b.shingles, x)))::DOUBLE
         |      / (len(a.shingles) + len(b.shingles)
         |         - len(list_filter(a.shingles, x -> list_contains(b.shingles, x))))::DOUBLE
         |      AS jaccard
         |   FROM __cands c JOIN __sigs a ON c.id_a = a.id JOIN __sigs b ON c.id_b = b.id),
         | __nd AS (SELECT DISTINCT id_b AS doc_id FROM __jac WHERE jaccard >= 0.6),
         | __pass2 AS (SELECT doc_id, text FROM __pass1
         |   WHERE doc_id NOT IN (SELECT doc_id FROM __nd)),
         | __t2 AS (SELECT doc_id, ${TextSql.tokens("text")} AS t FROM __pass2),
         | __ng AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS ngram
         |   FROM __t2, unnest(range(1, len(t)-3)) AS u(i) WHERE len(t) >= 5),
         | __keepng AS (SELECT ngram FROM __ng GROUP BY 1
         |   HAVING count(*) BETWEEN 2 AND 50),
         | __fng AS (SELECT __ng.doc_id, __ng.ngram
         |   FROM __ng JOIN __keepng USING (ngram)),
         | __bad AS (SELECT DISTINCT tr.doc_id FROM __fng tr
         |   JOIN (SELECT DISTINCT ngram FROM __fng WHERE doc_id % 5 = 0) ev
         |     ON tr.ngram = ev.ngram
         |   WHERE tr.doc_id % 5 <> 0),
         | __reasons AS (SELECT coalesce(g.gate_reason,
         |     CASE WHEN g.doc_id IN (SELECT doc_id FROM __nd) THEN 'near_dup'
         |          WHEN g.doc_id % 5 = 0 THEN 'eval_holdout'
         |          WHEN g.doc_id IN (SELECT doc_id FROM __bad) THEN 'contaminated'
         |          WHEN NOT (((g.doc_id % ${TextOps.HashMod}) * ${TextOps.SampleMult})
         |            % 1000 < 700) THEN 'sampled_out'
         |          ELSE 'kept' END) AS reason
         |   FROM __g g)
         |SELECT reason, count(*)::BIGINT AS n FROM __reasons
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "hashed_tf" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${TextSql.tokens("text")}) AS term
         |  FROM documents)
         |SELECT doc_id, ${TextSql.rollingHash("term")} % 64 AS bucket,
         |  count(*)::BIGINT AS tf
         |FROM tok GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "pack_sequences" ->
      """WITH RECURSIVE d AS (SELECT lang, doc_id,
        |   CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
        |     AS n_tokens,
        |   row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |   FROM documents),
        | packed AS (
        |   SELECT lang, doc_id, n_tokens, rn, 0::BIGINT AS seq_id,
        |     0::BIGINT AS seq_offset, n_tokens AS running
        |   FROM d WHERE rn = 1
        |   UNION ALL
        |   SELECT d.lang, d.doc_id, d.n_tokens, d.rn,
        |     CASE WHEN p.running + d.n_tokens > 256 THEN p.seq_id + 1
        |          ELSE p.seq_id END,
        |     CASE WHEN p.running + d.n_tokens > 256 THEN 0::BIGINT
        |          ELSE p.running END,
        |     CASE WHEN p.running + d.n_tokens > 256 THEN d.n_tokens
        |          ELSE p.running + d.n_tokens END
        |   FROM packed p JOIN d ON d.lang = p.lang AND d.rn = p.rn + 1)
        |SELECT lang, doc_id, n_tokens, seq_id, seq_offset
        |FROM packed ORDER BY lang, doc_id""".stripMargin,
    "dedup_lines" ->
      """WITH toks AS (SELECT doc_id,
        |   regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
        | p AS (SELECT doc_id, i - 1 AS idx,
        |     array_to_string(t[(i-1)*3+1:(i-1)*3+3], ' ') AS line
        |   FROM toks, unnest(range(1, (len(t) + 2) // 3 + 1)) AS u(i)),
        | keep AS (SELECT line, min(doc_id) AS keep_id FROM p GROUP BY 1),
        | fi AS (SELECT doc_id, line, min(idx) AS fidx FROM p GROUP BY 1, 2)
        |SELECT p.doc_id,
        |  count(*)::BIGINT AS n_lines,
        |  CAST(sum(CASE WHEN k.keep_id = p.doc_id AND p.idx = fi.fidx
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN k.keep_id = p.doc_id AND p.idx = fi.fidx
        |    THEN p.line END, ' ' ORDER BY p.idx), '') AS text_dedup
        |FROM p JOIN keep k USING (line)
        |  JOIN fi ON fi.doc_id = p.doc_id AND fi.line = p.line
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ((doc_id % 1000000007) * 2654435761) % 1000 <
        |  CASE WHEN lang = 'en' THEN 600 ELSE 250 END
        |ORDER BY doc_id""".stripMargin,
    "repetition_stats" ->
      s"""WITH toks AS (SELECT doc_id, ${TextSql.tokens("text")} AS t FROM documents),
         | bg AS (SELECT doc_id, count(*) AS c FROM (
         |   SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
         |   FROM toks, unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2)
         |   GROUP BY doc_id, g),
         | b AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS top_bigram_frac,
         |   sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE / sum(c) AS dup_bigram_frac
         |   FROM bg GROUP BY 1),
         | fg AS (SELECT doc_id, count(*) AS c FROM (
         |   SELECT doc_id, array_to_string(t[i:i+4], ' ') AS g
         |   FROM toks, unnest(range(1, len(t) - 3)) AS u(i) WHERE len(t) >= 5)
         |   GROUP BY doc_id, g),
         | f AS (SELECT doc_id,
         |   sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE / sum(c) AS dup_5gram_frac
         |   FROM fg GROUP BY 1)
         |SELECT d.doc_id, coalesce(b.top_bigram_frac, 0.0) AS top_bigram_frac,
         |  coalesce(b.dup_bigram_frac, 0.0) AS dup_bigram_frac,
         |  coalesce(f.dup_5gram_frac, 0.0) AS dup_5gram_frac
         |FROM documents d LEFT JOIN b USING (doc_id) LEFT JOIN f USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "dedup_blocklist" ->
      s"""WITH fp AS (SELECT doc_id, ${TextSql.rollingHash("text")} AS f
         |   FROM documents)
         |SELECT doc_id FROM fp
         |WHERE f NOT IN (SELECT f FROM fp WHERE doc_id % 7 = 0)
         |ORDER BY doc_id""".stripMargin,
    "rare_terms" ->
      s"""WITH toks AS (SELECT doc_id, unnest(${TextSql.tokens("text")}) AS term
         |   FROM documents),
         | tf AS (SELECT doc_id, term, count(*) AS term_freq FROM toks GROUP BY 1, 2),
         | dfq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1),
         | r AS (SELECT tf.doc_id, tf.term, dfq.doc_freq, tf.term_freq,
         |   row_number() OVER (PARTITION BY tf.doc_id
         |     ORDER BY dfq.doc_freq, tf.term_freq DESC, tf.term) AS rnk
         |   FROM tf JOIN dfq USING (term))
         |SELECT doc_id, term, doc_freq, term_freq, rnk FROM r
         |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "pii_scrub" ->
      """WITH inj AS (SELECT doc_id,
        |  text || ' contact user' || doc_id || '@example.com or admin@test.org from 10.'
        |       || (doc_id % 200) || '.0.1 call 555-'
        |       || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips,
        |  len(regexp_extract_all(t, '\b\d{3}-\d{4}\b'))::BIGINT AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS redacted
        |FROM inj ORDER BY doc_id""".stripMargin,
    "corpus_stats" ->
      s"""SELECT count(*) AS total_tokens, count(DISTINCT tok) AS vocab,
         | sum(length(tok))::BIGINT AS total_chars
         |FROM (SELECT unnest(${TextSql.tokens("text")}) AS tok FROM documents)""".stripMargin,
    "token_count_regex" ->
      s"""SELECT doc_id, ${TextSql.tokenCountRegex("text")} AS n_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      s"""SELECT doc_id, ${TextSql.rollingHash("text")} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "lang_id" ->
      s"""SELECT doc_id, ${TextSql.langId(TextSql.tokens("text"))} AS lang_pred
         |FROM documents ORDER BY doc_id""".stripMargin,
    "quality_score" -> {
      val cols = TextSql.qualityColumns("text")
        .map { case (n, e) => s"($e) AS $n" }.mkString(",\n  ")
      s"SELECT doc_id,\n  $cols\nFROM documents ORDER BY doc_id"
    },
    "simhash" ->
      s"""SELECT doc_id, ${TextSql.simhash(TextSql.tokens("text"))} AS sh
         |FROM documents ORDER BY doc_id""".stripMargin,
    "minhash_bands" ->
      s"""WITH ${TextSql.signaturesCte()}
         |SELECT id, band_idx, band_hash FROM __bt ORDER BY id, band_idx""".stripMargin,
    "neardup_minhash" ->
      s"""WITH ${TextSql.signaturesCte()}
         |SELECT id_a, id_b, n_bands FROM __cands ORDER BY id_a, id_b""".stripMargin,
    "neardup_jaccard" ->
      s"""WITH ${TextSql.signaturesCte()}
         |SELECT c.id_a, c.id_b, c.n_bands,
         |  len(list_filter(a.shingles, x -> list_contains(b.shingles, x)))::DOUBLE
         |   / (len(a.shingles) + len(b.shingles)
         |      - len(list_filter(a.shingles, x -> list_contains(b.shingles, x))))::DOUBLE
         |   AS jaccard
         |FROM __cands c
         |JOIN __sigs a ON c.id_a = a.id
         |JOIN __sigs b ON c.id_b = b.id
         |ORDER BY id_a, id_b""".stripMargin,
    "simhash_pairs" ->
      s"""WITH sh AS (SELECT doc_id AS id,
         |  ${TextSql.simhash(TextSql.tokens("text"))} AS sh FROM documents)
         |SELECT a.id AS id_a, b.id AS id_b,
         |  bit_count(xor(a.sh, b.sh))::BIGINT AS hamming
         |FROM sh a JOIN sh b ON a.id < b.id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 2
         |ORDER BY id_a, id_b""".stripMargin,
    "ann_ip_flat" ->
      s"""SELECT vec_id, _distance FROM (
         |  SELECT vec_id,
         |    CAST(-list_sum(list_transform(embedding::DOUBLE[], (x, i) -> x * ($q64Sql)[i])) AS FLOAT) AS _distance,
         |    -list_sum(list_transform(embedding::DOUBLE[], (x, i) -> x * ($q64Sql)[i])) AS __dd
         |  FROM embeddings ORDER BY __dd, vec_id LIMIT 10
         |) ORDER BY __dd, vec_id""".stripMargin,
    "ann_index_scan" ->
      s"""SELECT row_id, _distance FROM (
         |  SELECT vec_id AS row_id,
         |    CAST(${d2Sql("embedding", q64Sql)} AS FLOAT) AS _distance,
         |    ${d2Sql("embedding", q64Sql)} AS __dd
         |  FROM embeddings ORDER BY __dd, vec_id LIMIT 10
         |) ORDER BY _distance, row_id""".stripMargin,
    "ann_serve_local" ->
      s"""SELECT row_id, _distance FROM (
         |  SELECT vec_id AS row_id,
         |    CAST(${d2Sql("embedding", q64Sql)} AS FLOAT) AS _distance,
         |    ${d2Sql("embedding", q64Sql)} AS __dd
         |  FROM embeddings ORDER BY __dd, vec_id LIMIT 10
         |) ORDER BY __dd, row_id""".stripMargin,
    // exact because the rewrite serves from the FLAT index (and the entry
    // hard-fails if the rule does not fire); top-10 distances are distinct,
    // so the vec_id tiebreak here never reorders vs Spark's single-key sort
    "ann_rewrite_topk" ->
      s"""SELECT vec_id,
         | list_distance(CAST(embedding AS DOUBLE[]), $q64Sql) AS _distance
         |FROM embeddings ORDER BY _distance, vec_id LIMIT 10""".stripMargin,
    // exact despite the overfetch: the FLAT index's top-130 is the exact
    // global top-130 and ≥ 77 of them pass vec_id % 3 != 0 at every shipped
    // SF (checked), so re-filter + re-limit == DuckDB's post-filter top-10;
    // filtered top-11 distances are distinct, so ordering is deterministic
    "ann_rewrite_filtered" ->
      s"""SELECT vec_id,
         | list_distance(CAST(embedding AS DOUBLE[]), $q64Sql) AS _distance
         |FROM embeddings WHERE vec_id % 3 != 0
         |ORDER BY _distance, vec_id LIMIT 10""".stripMargin,
    "neardup_cos_exact" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    "ann_serve_filtered" ->
      s"""SELECT vec_id, row_number() OVER (
         |  ORDER BY list_distance(CAST(embedding AS DOUBLE[]), $q64Sql), vec_id) AS rank
         |FROM embeddings WHERE vec_id % 7 = 3 ORDER BY rank LIMIT 10""".stripMargin,
    "ann_filtered_flat" ->
      s"""SELECT vec_id, row_number() OVER (
         |  ORDER BY list_distance(CAST(embedding AS DOUBLE[]), $q64Sql), vec_id) AS rank
         |FROM embeddings WHERE vec_id % 7 = 3 ORDER BY rank LIMIT 10""".stripMargin,
    "ann_filtered_graph" -> "SELECT true AS recall_ok",
    "ann_filtered_ivfpq" -> "SELECT true AS recall_ok",
    // SemDeDup seed mode: centroids = the 8 lowest-id vectors; assignment =
    // argmax double cosine with lowest-centroid tie-break (row_number), drop
    // rule = EXISTS lower-id cluster-mate at sim >= 0.4 — every float op is
    // the same double arithmetic as the Spark kernel
    "semdedup" ->
      """WITH seeds AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
        |), assign AS (
        |  SELECT vec_id, cluster, v FROM (
        |    SELECT e.vec_id, s.cid AS cluster, e.embedding AS v,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
        |                                        s.embedding::DOUBLE[]) DESC,
        |                 s.cid) AS rn
        |    FROM embeddings e CROSS JOIN seeds s) WHERE rn = 1
        |)
        |SELECT a.vec_id, a.cluster::BIGINT AS cluster,
        |  NOT EXISTS (SELECT 1 FROM assign b
        |    WHERE b.cluster = a.cluster AND b.vec_id < a.vec_id
        |      AND list_cosine_similarity(a.v::DOUBLE[], b.v::DOUBLE[]) >= 0.4)
        |  AS kept
        |FROM assign a ORDER BY a.vec_id""".stripMargin,
    "soft_dedup" ->
      """SELECT doc_id,
        |  1.0::DOUBLE / (count(*) OVER (PARTITION BY text)) AS weight
        |FROM documents ORDER BY doc_id""".stripMargin,
    // buckets UTF-8 BYTES (matching Spark's byteHistogram over text::binary):
    // (b & 0xff) % 16 is exactly the low hex nibble, read out of hex(encode())
    "multimodal_featurize" ->
      """SELECT d.doc_id, b.bin,
        |  len(list_filter(range(0, octet_length(encode(d.text))),
        |      i -> strpos('0123456789ABCDEF',
        |                  substr(hex(encode(d.text)), (2*i+2)::INT, 1)) - 1 = b.bin
        |  ))::BIGINT AS cnt
        |FROM documents d, (SELECT unnest(range(0, 16)) AS bin) b
        |ORDER BY doc_id, bin""".stripMargin,
    // analytic round-trip of the synthesized solid-gray DIB frames: frame f
    // is gray g(f) = ((doc_id*13+f) % 32)*8; a 2x2 cell holds 16 pixels so
    // its per-frame channel sum is 48*g(f); brightness = sum_f(48 g)/(3*255*16*8),
    // motion = sum_{f}|48 dg|/(3*255*16*7) — integer sums, one division each
    "multimodal_video" ->
      """SELECT d.doc_id, c.cell,
        |  (SELECT SUM(((d.doc_id*13 + f.f) % 32) * 8) FROM
        |     (SELECT unnest(range(8)) AS f) f) * 48 / (3.0*255*16*8) AS brightness,
        |  (SELECT SUM(ABS(((d.doc_id*13 + f.f + 1) % 32) * 8
        |                  - ((d.doc_id*13 + f.f) % 32) * 8)) FROM
        |     (SELECT unnest(range(7)) AS f) f) * 48 / (3.0*255*16*7) AS motion
        |FROM documents d, (SELECT unnest(range(4)) AS cell) c
        |ORDER BY doc_id, cell""".stripMargin,
    // analytic round-trip of the synthesized square wave: band RMS ==
    // round(amp*32767)/32768 with amp = ((doc_id*7 + band) % 16 + 1)/32
    "multimodal_audio" ->
      """SELECT d.doc_id, b.band,
        |  CAST(round(((d.doc_id * 7 + b.band) % 16 + 1) / 32.0 * 32767)
        |       / 32768.0 AS FLOAT) AS rms
        |FROM documents d, (SELECT unnest(range(0, 4)) AS band) b
        |ORDER BY doc_id, band""".stripMargin,
    "hybrid_search" -> Hybrid.oracleSql("spark join filter", q64Sql, 10),
    "dedup_minhash_keep" ->
      s"""WITH ${TextSql.signaturesCte()},
         |__jac AS (
         |  SELECT c.id_b,
         |    len(list_filter(a.shingles, x -> list_contains(b.shingles, x)))::DOUBLE
         |     / (len(a.shingles) + len(b.shingles)
         |        - len(list_filter(a.shingles, x -> list_contains(b.shingles, x))))::DOUBLE
         |     AS jaccard
         |  FROM __cands c
         |  JOIN __sigs a ON c.id_a = a.id
         |  JOIN __sigs b ON c.id_b = b.id
         |)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT DISTINCT id_b FROM __jac WHERE jaccard >= 0.6)
         |ORDER BY doc_id""".stripMargin,
    // Emitted-pair replay: below the cap each member pairs with all r−1
    // predecessors (Σ = n·(n−1)/2); above it with its last P id-order
    // predecessors ∪ the A smallest bucket ids strictly below. The CASE is
    // GENERATED from TextOps.capDefaults (the same values capKnobs falls
    // back to) and the query entry asserts the session runs those defaults,
    // so operator and oracle cannot silently desync on a knob change.
    "lsh_cap_audit" ->
      s"""WITH ${TextSql.signaturesCte()},
         |__buckets AS (
         |  SELECT band_idx, band_hash, count(*)::BIGINT AS n
         |  FROM __bt GROUP BY 1, 2),
         |__em AS (
         |  SELECT n,
         |    (${TextOps.capEmittedCaseSql(TextOps.capDefaults._1,
              TextOps.capDefaults._2, TextOps.capDefaults._3)})::BIGINT AS em
         |  FROM __buckets)
         |SELECT count(*)::BIGINT AS buckets_total,
         |  coalesce(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END), 0)::BIGINT
         |    AS buckets_pairful,
         |  coalesce(sum(CASE WHEN n > ${TextOps.capDefaults._1} THEN 1 ELSE 0 END), 0)::BIGINT
         |    AS buckets_over_cap,
         |  coalesce(sum(n * (n - 1) // 2), 0)::BIGINT AS clique_pairs,
         |  coalesce(sum(em), 0)::BIGINT AS emitted_pairs,
         |  coalesce(max(n), 0)::BIGINT AS max_bucket,
         |  coalesce(sum(n * (n - 1) // 2), 0)::BIGINT
         |    - coalesce(sum(em), 0)::BIGINT AS capped_away_pairs
         |FROM __em""".stripMargin,
    "dup_clusters" ->
      s"""WITH RECURSIVE ${TextSql.signaturesCte()},
         |${TextSql.componentsCte(0.6)}
         |SELECT id, component FROM __comp ORDER BY id""".stripMargin,
    "dedup_minhash_best" ->
      s"""WITH RECURSIVE ${TextSql.signaturesCte()},
         |${TextSql.componentsCte(0.6)},
         |__keep AS (
         |  SELECT id FROM (
         |    SELECT m.id,
         |      row_number() OVER (PARTITION BY m.component
         |                         ORDER BY d.n_chars DESC, m.id ASC) AS rn
         |    FROM __comp m JOIN documents d ON d.doc_id = m.id)
         |  WHERE rn = 1
         |)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM __comp)
         |   OR doc_id IN (SELECT id FROM __keep)
         |ORDER BY doc_id""".stripMargin,
    "lm_score" ->
      s"""WITH __toks AS (
         |  SELECT doc_id, ${TextSql.tokens("text")} AS toks FROM documents),
         |__posn AS (
         |  SELECT doc_id, toks, unnest(range(1, len(toks))) AS pos FROM __toks),
         |__bg AS (
         |  SELECT doc_id, pos, toks[pos] || ' ' || toks[pos + 1] AS bg
         |  FROM __posn),
         |__uni AS (
         |  SELECT w, count(*)::BIGINT AS cu
         |  FROM (SELECT unnest(toks) AS w FROM __toks) GROUP BY w),
         |__bgc AS (
         |  SELECT bg, count(*)::BIGINT AS cb FROM __bg
         |  GROUP BY bg HAVING count(*) >= 2),
         |__probs AS (
         |  SELECT b.doc_id, b.pos,
         |    CASE WHEN c.cb IS NULL THEN 0.0
         |         ELSE c.cb::DOUBLE / u.cu::DOUBLE END AS p
         |  FROM __bg b
         |  LEFT JOIN __bgc c ON b.bg = c.bg
         |  LEFT JOIN __uni u ON string_split(b.bg, ' ')[1] = u.w),
         |__doc AS (
         |  SELECT doc_id, list(p ORDER BY pos) AS ps
         |  FROM __probs GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(len(ps), 0)::BIGINT AS n_bigrams,
         |  coalesce(len(list_filter(ps, x -> x = 0.0)), 0)::BIGINT AS n_oov,
         |  coalesce(list_sum(ps) / len(ps)::DOUBLE, 0.0) AS mean_cond_prob
         |FROM documents d LEFT JOIN __doc USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "domain_mix_tokens" ->
      s"""WITH __n AS (
         |  SELECT source,
         |    sum(len(${TextSql.tokens("text")}))::BIGINT AS nt
         |  FROM documents GROUP BY source)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN __n USING (source)
         |WHERE (d.doc_id % ${TextOps.HashMod}) * ${TextOps.SampleMult}
         |        % 1000000
         |    < floor(least(1.0,
         |        (CASE d.source WHEN 'src0' THEN 100000.0 WHEN 'src1' THEN 700.0
         |                       ELSE 400.0 END) / nt::DOUBLE) * 1000000.0)::BIGINT
         |ORDER BY d.doc_id""".stripMargin,
    "dedup_vs_corpus" ->
      s"""WITH ${TextSql.signaturesCte()},
         |${TextSql.jaccardCte(0.6)}
         |SELECT doc_id FROM documents
         |WHERE doc_id % 10 = 0
         |  AND doc_id NOT IN (
         |    SELECT CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END
         |    FROM __jac WHERE (id_a % 10 = 0) <> (id_b % 10 = 0))
         |ORDER BY doc_id""".stripMargin,
    "dedup_minhash_cc" ->
      s"""WITH RECURSIVE ${TextSql.signaturesCte()},
         |${TextSql.componentsCte(0.6)}
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM __comp WHERE id <> component)
         |ORDER BY doc_id""".stripMargin,
    "domain_mix" ->
      s"""WITH __n AS (
         |  SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY source)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN __n USING (source)
         |WHERE (d.doc_id % ${TextOps.HashMod}) * ${TextOps.SampleMult}
         |        % 1000000
         |    < floor(least(1.0,
         |        (CASE d.source WHEN 'src0' THEN 120.0 WHEN 'src1' THEN 60.0
         |                       ELSE 15.0 END) / n::DOUBLE) * 1000000.0)::BIGINT
         |ORDER BY d.doc_id""".stripMargin,
    "gopher_rules" ->
      s"""WITH sig AS (
         |  SELECT doc_id,
         |    len(t)::BIGINT AS n_words,
         |    CASE WHEN len(t) > 0 THEN
         |      coalesce(list_sum(list_transform(t, x -> length(x)::BIGINT)), 0)::DOUBLE
         |        / len(t)::DOUBLE ELSE 0.0 END AS mean_word_len,
         |    CASE WHEN len(t) > 0 THEN
         |      len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE
         |        / len(t)::DOUBLE ELSE 0.0 END AS symbol_ratio,
         |    CASE WHEN len(t) > 0 THEN
         |      len(list_filter(t, x -> regexp_matches(x, '[a-z]')))::DOUBLE
         |        / len(t)::DOUBLE ELSE 0.0 END AS alpha_word_frac,
         |    len(list_filter(t, x -> list_contains(
         |      ['the','a','of','and','is','to','in','that','it','for'], x)))::BIGINT
         |      AS n_stopwords
         |  FROM (SELECT doc_id, text, ${TextSql.tokens("text")} AS t FROM documents))
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac,
         |  n_stopwords,
         |  (n_words >= 20 AND n_words <= 100000
         |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |    AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8
         |    AND n_stopwords >= 2) AS passes
         |FROM sig ORDER BY doc_id""".stripMargin,
    "chunk_documents" ->
      s"""WITH nc AS (
         |  SELECT doc_id, t, len(t)::BIGINT AS n,
         |    CASE WHEN len(t) <= 40 THEN 1::BIGINT
         |         ELSE 1 + ((len(t)::BIGINT - 40 + 29) // 30) END AS k
         |  FROM (SELECT doc_id, ${TextSql.tokens("text")} AS t FROM documents))
         |SELECT doc_id, i AS chunk_idx, i * 30 AS tok_start,
         |  least(40::BIGINT, n - i * 30) AS n_tok,
         |  array_to_string(t[i*30+1 : i*30+least(40::BIGINT, n - i*30)], ' ')
         |    AS chunk_text
         |FROM nc, unnest(range(0, k)) AS u(i)
         |WHERE n > 0
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    "dsir_weights" ->
      s"""WITH feats AS (
         |  SELECT doc_id,
         |    CASE WHEN len(t) >= 2
         |      THEN list_transform(range(1, len(t)),
         |        i -> (${TextSql.rollingHash("array_to_string(t[i:i+1], ' ')")}) % 256)
         |      ELSE CAST([] AS BIGINT[]) END AS fs
         |  FROM (SELECT doc_id, ${TextSql.tokens("text")} AS t FROM documents)),
         | ev AS (SELECT unnest(fs) AS b FROM feats WHERE doc_id % 5 = 0),
         | rw AS (SELECT unnest(fs) AS b FROM feats WHERE doc_id % 5 <> 0),
         | bc AS (SELECT r.i AS b,
         |    (coalesce(e.tc, 0) + 1)::DOUBLE / (coalesce(w.rc, 0) + 1)::DOUBLE AS ratio
         |  FROM range(0, 256) AS r(i)
         |  LEFT JOIN (SELECT b, count(*)::BIGINT AS tc FROM ev GROUP BY 1) e
         |    ON r.i = e.b
         |  LEFT JOIN (SELECT b, count(*)::BIGINT AS rc FROM rw GROUP BY 1) w
         |    ON r.i = w.b),
         | rl AS (SELECT list(ratio ORDER BY b) AS l FROM bc)
         |SELECT doc_id AS id, len(fs)::BIGINT AS n_feats,
         |  list_reduce(list_prepend(0.0, list_transform(fs, b -> l[b+1])),
         |    (a, x) -> a + x) AS w_sum
         |FROM feats, rl
         |ORDER BY id""".stripMargin
  )
}
