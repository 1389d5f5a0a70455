package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the attribute-filtered search contract (Ann.searchFiltered — the
 *  FAISS SearchParameters/IDSelector analog): exact route == brute force
 *  over the allowed subset; graph route converges to the SAME exact answer
 *  once escalation saturates the shard; the IdFilter column/closure pair
 *  agree; tombstones still apply under a filter. */
class FilteredSearchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.graft.ann.root", s"/tmp/graft-test-filt-${System.nanoTime()}")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("ERROR") }

  private val sf = "/root/testdata/sf0.001"
  lazy val emb: DataFrame = spark.read.parquet(s"$sf/embeddings.parquet")

  private lazy val q0: Array[Float] = {
    val r = emb.orderBy("vec_id").limit(1).collect()(0)
    r.getSeq[Float](r.fieldIndex("embedding")).toArray
  }

  private def bruteFilteredTop(k: Int, q: Array[Float],
      allow: Long => Boolean): Seq[Long] = {
    import graft.functions._
    emb.select(col("vec_id"),
        array_distance_sq(toFloatVec(col("embedding")), floatVec(q.toSeq)).as("d"))
      .collect()
      .filter(r => allow(r.getLong(0)))
      .sortBy(r => (r.getDouble(1), r.getLong(0)))
      .take(k).map(_.getLong(0)).toSeq
  }

  test("exact route: filtered top-k == brute force over allowed subset") {
    Ann.buildIndex(emb, "embedding", "vec_id", "f_flat",
      Ann.BuildParams(engine = "flat"))
    val filt = Ann.IdFilter.modEq(7, 3)
    val got = Ann.searchFiltered(spark, "f_flat", q0, 10, filt)
      .collect().map(_.getLong(0)).toSeq
    assert(got == bruteFilteredTop(10, q0, filt.fn))
    assert(got.forall(_ % 7 == 3))
  }

  test("exact route pushes the predicate into the scan, not a post-filter") {
    Ann.buildIndex(emb, "embedding", "vec_id", "f_flat_plan",
      Ann.BuildParams(engine = "flat"))
    // the distributed plan: below the gate the search runs on the driver
    val plan = graft.core.RouteParity.distributed(spark)(Ann.searchFiltered(spark,
      "f_flat_plan", q0, 10, Ann.IdFilter.modEq(7, 3)).queryExecution.optimizedPlan)
    // the predicate must sit below the top-k sort in the optimized plan:
    // find a Filter whose condition mentions the id column
    val hasIdFilter = plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.references.exists(_.name == "id") => f
    }.nonEmpty
    assert(hasIdFilter, s"no id filter in plan:\n${plan.treeString}")
  }

  test("graph route saturates to the exact filtered answer on a selective filter") {
    Ann.buildIndex(emb, "embedding", "vec_id", "f_graph",
      Ann.BuildParams(engine = "diskann", numShards = 2))
    // ~1/50 selectivity: the initial 4k overfetch cannot yield k=10 allowed
    // hits, so every shard must escalate to saturation, where the beam has
    // visited every reachable node and the answer is exact
    val filt = Ann.IdFilter.modEq(50, 1)
    val want = bruteFilteredTop(10, q0, filt.fn)
    val got = Ann.searchFiltered(spark, "f_graph", q0, 10, filt)
      .collect().map(_.getLong(0)).toSeq
    assert(got == want, s"got $got want $want")
  }

  test("graph route with permissive filter returns k allowed rows, ordered") {
    Ann.buildIndex(emb, "embedding", "vec_id", "f_graph2",
      Ann.BuildParams(engine = "diskann", numShards = 2))
    val rows = Ann.searchFiltered(spark, "f_graph2", q0, 10,
      Ann.IdFilter.modEq(2, 0)).collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getLong(0) % 2 == 0))
    val ds = rows.map(_.getFloat(1)).toSeq
    assert(ds == ds.sorted)
  }

  test("IdFilter constructors: column and closure agree; inSet works end-to-end") {
    val ids = emb.limit(40).collect().map(_.getLong(0)).filter(_ % 2 == 1).toSet
    val filt = Ann.IdFilter.inSet(ids)
    assert(ids.forall(filt.fn))
    assert(!filt.fn(-1L))
    Ann.buildIndex(emb, "embedding", "vec_id", "f_inset",
      Ann.BuildParams(engine = "flat"))
    val got = Ann.searchFiltered(spark, "f_inset", q0, 5, filt)
      .collect().map(_.getLong(0)).toSeq
    assert(got == bruteFilteredTop(5, q0, ids.contains))
  }

  test("ivfflat route: short probed answer escalates nprobe to a full scan") {
    // nprobe=1 probes one cluster; a ~1/50 filter leaves it with < k allowed
    // hits, so the scan must saturate to nprobe=nlist and match brute force
    Ann.buildIndex(emb, "embedding", "vec_id", "f_ivf_esc",
      Ann.BuildParams(engine = "ivfflat", nlist = 8, nprobe = 1))
    val filt = Ann.IdFilter.modEq(50, 1)
    val got = Ann.searchFiltered(spark, "f_ivf_esc", q0, 10, filt)
      .collect().map(_.getLong(0)).toSeq
    assert(got == bruteFilteredTop(10, q0, filt.fn), s"got $got")
  }

  test("ivfpq route: filter splices into the ADC scan; saturated nprobe is recall-exact on codes") {
    Ann.buildIndex(emb, "embedding", "vec_id", "f_ivfpq",
      Ann.BuildParams(engine = "ivfpq", nlist = 4, nprobe = 4, pqM = 8))
    val filt = Ann.IdFilter.modEq(5, 2)
    val got = Ann.searchFiltered(spark, "f_ivfpq", q0, 10, filt)
      .collect().map(_.getLong(0)).toSeq
    assert(got.length == 10 && got.forall(_ % 5 == 2))
    // with every list probed, the filtered answer must equal the unfiltered
    // ADC ranking restricted to allowed ids (the ADC-route contract: the
    // filter changes WHICH codes rank, never HOW they rank)
    val unfiltered = Ann.searchHits(spark, "f_ivfpq", q0, 500)
      .collect().map(r => (r.getLong(0), r.getFloat(1)))
      .filter { case (id, _) => id % 5 == 2 }
      .sortBy { case (id, d) => (d, id) }
      .take(10).map(_._1).toSeq
    assert(got == unfiltered, s"got $got want $unfiltered")
    // recall gate vs the EXACT filtered answer (quantization-limited):
    // at least 5 of the true top-10 must survive ADC quantization
    val exact = bruteFilteredTop(10, q0, filt.fn)
    assert(got.count(exact.contains) >= 5,
      s"ADC filtered recall too low: $got vs $exact")
    // under-fill escalation: nprobe=1 with a selective filter still fills k
    Ann.buildIndex(emb, "embedding", "vec_id", "f_ivfpq1",
      Ann.BuildParams(engine = "ivfpq", nlist = 8, nprobe = 1, pqM = 8))
    val sel = Ann.IdFilter.modEq(50, 1)
    val esc = Ann.searchFiltered(spark, "f_ivfpq1", q0, 9, sel)
      .collect().map(_.getLong(0)).toSeq
    assert(esc.length == 9 && esc.forall(_ % 50 == 1), s"escalation short: $esc")
  }

  test("ivfpq filtered plan: the id predicate sits below the ADC top-k") {
    Ann.buildIndex(emb, "embedding", "vec_id", "f_ivfpq_plan",
      Ann.BuildParams(engine = "ivfpq", nlist = 4, nprobe = 4, pqM = 8))
    // the distributed plan: below the gate the search runs on the driver
    val plan = graft.core.RouteParity.distributed(spark)(Ann.searchFiltered(spark,
      "f_ivfpq_plan", q0, 10, Ann.IdFilter.modEq(7, 3)).queryExecution.optimizedPlan)
    val hasIdFilter = plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.references.exists(_.name == "id") => f
    }.nonEmpty
    assert(hasIdFilter, s"no id filter below the ADC scan:\n${plan.treeString}")
  }

  test("idFilterFromSql rejects nondeterministic predicates and subqueries") {
    intercept[IllegalArgumentException](
      Ann.idFilterFromSql(spark, "rand() < 0.5"))
    intercept[IllegalArgumentException](
      Ann.idFilterFromSql(spark, "id IN (SELECT 1)"))
    // deterministic predicates still parse and agree across halves
    val f = Ann.idFilterFromSql(spark, "id % 7 = 3")
    assert(f.fn(10L) && !f.fn(11L))
  }

  test("tombstones still excluded under a filter (both routes)") {
    Ann.buildIndex(emb, "embedding", "vec_id", "f_tomb",
      Ann.BuildParams(engine = "flat"))
    val filt = Ann.IdFilter.modEq(2, 0)
    val before = Ann.searchFiltered(spark, "f_tomb", q0, 5, filt)
      .collect().map(_.getLong(0)).toSeq
    Ann.delete(spark, "f_tomb", Seq(before.head))
    val after = Ann.searchFiltered(spark, "f_tomb", q0, 5, filt)
      .collect().map(_.getLong(0)).toSeq
    assert(!after.contains(before.head))
    assert(after == bruteFilteredTop(6, q0, filt.fn).filterNot(_ == before.head).take(5))
  }

  test("churn-orphaned node: saturated filtered search is still exact") {
    import graft.core.DiskannFormat
    // single shard so the orphan and the saturation are in the same file
    Ann.buildIndex(emb, "embedding", "vec_id", "f_churn",
      Ann.BuildParams(engine = "diskann", numShards = 1))
    val meta = IndexCatalog.load(Ann.root(spark), "f_churn")
    val sh = meta.shards.head
    val ids = IndexCatalog.readIds(sh.idsFile)
    val orphanLabel = 5
    val orphanId = ids(orphanLabel)
    // simulate delete/append churn that re-pruned away every in-edge of one
    // node: rewrite the shard with the label cut from ALL adjacency lists
    val ix = DiskannFormat.readFile(sh.file)
    val n = ix.size
    val adjacency = Array.tabulate(n)(i => ix.neighbors(i).filterNot(_ == orphanLabel))
    val cut = new graft.core.VamanaIndex(ix.dim, ix.metric,
      maxDegree = meta.maxDegree, buildComplexity = meta.buildComplexity)
    loadInto(cut, n, ix, adjacency, orphanLabel)
    DiskannFormat.writeFile(cut, sh.file)
    ShardCache.invalidate()
    // a filter matching ONLY the orphan: the beam escalates to saturation
    // (no allowed hit anywhere reachable) — without the enforced check the
    // answer would be silently empty
    val got = Ann.searchFiltered(spark, "f_churn", q0, 1,
      Ann.IdFilter.inSet(Set(orphanId))).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(orphanId),
      s"saturated filtered search lost the churn-orphaned node: $got")
  }

  /** VamanaIndex.load is private[core]; replay it via the public surface.
   *  `orphan` must match the label severed from `adjacency`, so the entry
   *  points exclude it too and the fixture truly disconnects the node. */
  private def loadInto(cut: graft.core.VamanaIndex, n: Int,
      src: graft.core.VamanaIndex, adjacency: Array[Array[Int]],
      orphan: Int): Unit = {
    graft.core.GraphTestAccess.load(cut, n, src.rawVectors, adjacency,
      src.entryPointIds.filterNot(_ == orphan))
  }
}
