package graft.core

import java.util.Arrays

/**
 * In-memory HNSW graph index over `Array[Float]` vectors — the FAISS-parity
 * engine (reference registers HNSW via its FAISS wrapper,
 * src/faiss_index.cpp:39-60 with default hnsw_m=32,
 * src/include/faiss_index.hpp:38-43). Algorithm per Malkov & Yashunin,
 * "Efficient and robust approximate nearest neighbor search using
 * Hierarchical Navigable Small World graphs" (TPAMI 2018):
 *
 *  - level assignment: floor(-ln(U) · 1/ln(M)), deterministic per label via
 *    a SplitMix64 stream (seeded builds reproduce exactly across runs — the
 *    analog of FAISS's deterministic stride sampling ethos)
 *  - insert: greedy descent to level l+1, then per-layer efConstruction
 *    search + heuristic neighbor selection (paper Alg. 4) + bidirectional
 *    links with overflow re-selection
 *  - search: greedy descent to layer 1, then layer-0 search with
 *    ef = max(k, searchComplexity | efConstruction)
 *
 * Single-threaded per instance; one shard per Spark task.
 *
 * Inner-product metric uses the MIPS→L2 reduction (Bachrach et al.,
 * RecSys'14): vectors augment to [v, √(M²−|v|²)] with M = max norm, queries
 * to [q, 0]; then argmin ‖q'−v'‖² = argmax q·v EXACTLY, so the navigable
 * graph operates in a true metric space (raw-IP HNSW, as FAISS ships it,
 * has weak recall because negated dot violates the triangle inequality).
 * The reduction is per-shard: surfaced distances convert back to −q·v,
 * which is shard-independent, so cross-shard merges stay correct. IP
 * builds buffer inserts and freeze on first search/serialization.
 */
final class HnswIndex(
    val dim: Int,
    val metric: Metric,
    val m: Int = HnswIndex.DefaultM,
    val efConstruction: Int = HnswIndex.DefaultEfConstruction,
    seed: Long = 42L,
    initialCapacity: Int = 1024) extends GraphIndex {

  require(dim > 0 && m > 1 && efConstruction > 0)

  private val maxM0 = 2 * m
  private val levelMult = 1.0 / math.log(m.toDouble)

  private var vecs: Array[Float] = new Array[Float](math.max(initialCapacity, 4) * dim)
  /** levels(i) = top layer of node i. */
  private var levels: Array[Int] = new Array[Int](math.max(initialCapacity, 4))
  /** links(i)(l) = packed neighbor ids of node i at layer l (exact length). */
  private var links: Array[Array[Array[Int]]] =
    new Array[Array[Array[Int]]](math.max(initialCapacity, 4))
  private var count = 0
  private var entryPoint = -1
  private var maxLevel = -1

  // --- MIPS reduction state (metric == InnerProduct only) ---
  private val mips = metric eq Metric.InnerProduct
  private var mipsBuf: scala.collection.mutable.ArrayBuffer[Array[Float]] =
    if (mips) scala.collection.mutable.ArrayBuffer.empty else null
  @volatile private var mipsInner: HnswIndex = null
  private var mipsNorm: Double = 0.0 // M = max vector norm at freeze time

  def size: Int =
    if (mips) { if (mipsInner != null) mipsInner.size else mipsBuf.size }
    else count

  def vector(id: Int): Array[Float] = {
    if (mips) {
      if (mipsInner == null) return mipsBuf(id).clone()
      // augmented storage: strip the reduction component (floats preserved)
      val aug = mipsInner.vector(id)
      return java.util.Arrays.copyOf(aug, dim)
    }
    val out = new Array[Float](dim)
    System.arraycopy(vecs, id * dim, out, 0, dim)
    out
  }

  /** Freeze an IP index: compute M, build the internal (dim+1, L2) graph
   *  over augmented vectors, drop the raw buffer. Idempotent and safe under
   *  concurrent first-search on a cache-shared index: `mipsInner` is a
   *  volatile publish guarded by double-checked synchronization. */
  private[core] def ensureMipsBuilt(): Unit = {
    if (!mips || mipsInner != null) return
    synchronized {
      if (mipsInner != null) return
      var m2 = 0.0
      mipsBuf.foreach { v =>
        var s = 0.0; var i = 0
        while (i < dim) { s += v(i).toDouble * v(i); i += 1 }
        if (s > m2) m2 = s
      }
      mipsNorm = math.sqrt(m2)
      val inner = new HnswIndex(dim + 1, Metric.L2, m, efConstruction, seed,
        math.max(mipsBuf.size, 4))
      mipsBuf.foreach { v =>
        val aug = java.util.Arrays.copyOf(v, dim + 1)
        var s = 0.0; var i = 0
        while (i < dim) { s += v(i).toDouble * v(i); i += 1 }
        aug(dim) = math.sqrt(math.max(0.0, m2 - s)).toFloat
        inner.add(aug)
      }
      mipsInner = inner
      mipsBuf = null
    }
  }

  private def ensureCapacity(n: Int): Unit = {
    // Long math: n*dim overflows Int at ~33M vectors × dim 64, which would
    // silently skip the grow and corrupt offsets. Oversized shards fail loud.
    if (n.toLong * dim > vecs.length) {
      require(n.toLong * dim <= (Int.MaxValue - 8).toLong,
        s"HNSW shard too large: $n vectors x dim $dim exceeds a single " +
        "float[]; raise numShards so each shard holds fewer vectors")
      var cap = math.max(vecs.length / dim, 4).toLong
      while (cap < n) cap *= 2
      val capI = math.min(cap, ((Int.MaxValue - 8) / dim).toLong).toInt
      vecs = Arrays.copyOf(vecs, capI * dim)
      levels = Arrays.copyOf(levels, capI)
      links = Arrays.copyOf(links, capI)
    }
  }

  // distance kernels route through Simd (jdk.incubator.vector when enabled)
  @inline private def dist(a: Int, q: Array[Float]): Float =
    if (metric eq Metric.L2) Simd.l2Sq(vecs, a * dim, q, 0, dim)
    else -Simd.dot(vecs, a * dim, q, 0, dim)

  @inline private def distNodes(a: Int, b: Int): Float =
    if (metric eq Metric.L2) Simd.l2Sq(vecs, a * dim, vecs, b * dim, dim)
    else -Simd.dot(vecs, a * dim, vecs, b * dim, dim)

  /** Deterministic level for a label: SplitMix64(seed + label) → U(0,1). */
  private def randomLevel(label: Int): Int = {
    var z = seed + label * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    val u = ((z >>> 11).toDouble + 0.5) / 9007199254740992.0 // (0,1)
    math.min((-math.log(u) * levelMult).toInt, HnswIndex.MaxLevelCap)
  }

  def add(v: Array[Float]): Int = {
    require(v.length == dim, s"expected dimension $dim, got ${v.length}")
    if (mips) {
      require(mipsInner == null, "cannot insert into a frozen IP index " +
        "(first search/serialization freezes the MIPS reduction)")
      mipsBuf += v.clone()
      return mipsBuf.size - 1
    }
    val label = count
    ensureCapacity(count + 1)
    System.arraycopy(v, 0, vecs, label * dim, dim)
    val level = randomLevel(label)
    levels(label) = level
    links(label) = Array.fill(level + 1)(Array.emptyIntArray)
    count += 1

    if (entryPoint < 0) {
      entryPoint = label; maxLevel = level
      return label
    }

    var ep = entryPoint
    // 1. greedy descent through layers above the node's level
    var lc = maxLevel
    while (lc > level) {
      ep = greedyClosest(v, ep, lc)
      lc -= 1
    }
    // 2. per-layer efConstruction search + heuristic selection + linking
    lc = math.min(level, maxLevel)
    while (lc >= 0) {
      val (candIds, candDists, nCand) = searchLayer(v, Array(ep), efConstruction, lc)
      val cap = if (lc == 0) maxM0 else m
      val chosen = selectHeuristic(candIds, candDists, nCand, m)
      links(label)(lc) = chosen
      var i = 0
      while (i < chosen.length) {
        val nb = chosen(i)
        val nbLinks = links(nb)(lc)
        if (!nbLinks.contains(label)) {
          if (nbLinks.length < cap) {
            val grown = Arrays.copyOf(nbLinks, nbLinks.length + 1)
            grown(nbLinks.length) = label
            links(nb)(lc) = grown
          } else {
            // overflow: re-select among existing + new by the same heuristic
            val ids = new Array[Int](nbLinks.length + 1)
            val ds = new Array[Float](nbLinks.length + 1)
            System.arraycopy(nbLinks, 0, ids, 0, nbLinks.length)
            ids(nbLinks.length) = label
            var j = 0
            while (j < ids.length) { ds(j) = distNodes(nb, ids(j)); j += 1 }
            links(nb)(lc) = selectHeuristic(ids, ds, ids.length, cap)
          }
        }
        i += 1
      }
      if (chosen.nonEmpty) ep = chosen(0)
      lc -= 1
    }
    if (level > maxLevel) { maxLevel = level; entryPoint = label }
    label
  }

  /**
   * Deterministic batch-parallel bulk construction — the coarse-quantizer
   * build path (`IVF<n>_HNSW<m>` builds a graph over up to ~10⁶ centroids on
   * the driver; the sequential insert loop measured 31 s at 65,536 cells).
   *
   * Scheme: a short sequential seed phase, then doubling batches. Within a
   * batch every node's per-layer candidate search + heuristic selection runs
   * in parallel against the FROZEN pre-batch graph (new nodes have no
   * links and the entry point is pre-batch, so they are unreachable —
   * concurrent readers see exactly the graph as of batch start), and the
   * link application (including bidirectional overflow re-selection, the
   * only graph mutation) replays SEQUENTIALLY in label order. The result is
   * a deterministic function of (vectors, seed) — same on every run and
   * every core count, like ParChunks' other training kernels — and
   * near-identical in quality to sequential insertion: the only difference
   * is that nodes of one batch don't see each other as candidates, which
   * the doubling schedule bounds to a constant fraction of late (already
   * well-connected) inserts. IvfHnswSpec's recall gate and the scale
   * smoke's probe-recall rows measure the quality claim.
   *
   * IP indexes buffer adds until freeze; bulk build applies at freeze time
   * via the inner L2 graph, so they just delegate to [[add]] here.
   */
  def addAll(vectors: IndexedSeq[Array[Float]]): Unit = {
    if (mips) { vectors.foreach(add); return }
    val n = vectors.length
    var next = 0
    // seed phase: small graphs build sequentially (also: batch quality
    // depends on a navigable seed graph existing at all)
    while (next < n && count < HnswIndex.BulkSeqSeed) { add(vectors(next)); next += 1 }
    val batched = next < n
    while (next < n) {
      // growth divisor bounds intra-batch blindness (same-batch nodes don't
      // see each other as candidates) to ~1/(div+1) of each round's pairs
      val batch = math.min(n - next, math.max(1, count / HnswIndex.BulkGrowthDiv))
      bulkBatch(vectors, next, batch)
      next += batch
    }
    // one layer-0 refinement round recovers the edges batch blindness
    // dropped: measured at 65,536 centroids, probe-set recall without it
    // read 0.88 uniform / 0.80 clustered vs the 0.99 of sequential
    // insertion; with it the gap closes while the build stays ~4x faster
    // than the serial loop
    if (batched) refineLayer0()
  }

  /** Deterministic layer-0 refinement: every node re-searches the FINISHED
   *  graph (entry = its own current neighborhood) in parallel, then
   *  re-links sequentially in label order — forward links first (so no
   *  phase-2 backlink is lost to an overwrite), bidirectional backlinks
   *  with the same overflow re-selection as [[add]]. Reads in the parallel
   *  phase see only the frozen pre-refine graph, so the result is a pure
   *  function of it. */
  private def refineLayer0(): Unit = {
    val n = count
    val chosenAll = new Array[Array[Int]](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      val v = new Array[Float](dim)
      System.arraycopy(vecs, i * dim, v, 0, dim)
      // entry = the same global upper-layer descent a serve-time query
      // takes — refining from the node's OWN links is local and cannot
      // reconnect a region the batched build under-linked (measured probe
      // recall 0.899 local vs 0.99+ global at 65,536 cells)
      var ep = entryPoint
      var lc = maxLevel
      while (lc > 0) { ep = greedyClosest(v, ep, lc); lc -= 1 }
      val own = links(i)(0)
      val eps = if (own.nonEmpty) own :+ ep else Array(ep)
      // 2x construction beam: the refine round is the one chance to widen
      // a batched region's candidate pool, and it runs once over a finished
      // graph (the incremental build pays efConstruction per node per batch)
      val (candIds, candDists, nCand) = searchLayer(v, eps, 2 * efConstruction, 0)
      // drop the node itself (reachable through its own backlinks at dist 0)
      val ids = new Array[Int](nCand)
      val ds = new Array[Float](nCand)
      var k = 0
      var j = 0
      while (j < nCand) {
        if (candIds(j) != i) { ids(k) = candIds(j); ds(k) = candDists(j); k += 1 }
        j += 1
      }
      chosenAll(i) = selectHeuristic(ids, ds, k, m)
    }
    var i = 0
    while (i < n) { links(i)(0) = chosenAll(i); i += 1 }
    i = 0
    while (i < n) {
      val chosen = chosenAll(i)
      var c = 0
      while (c < chosen.length) {
        val nb = chosen(c)
        val nbLinks = links(nb)(0)
        if (!nbLinks.contains(i)) {
          if (nbLinks.length < maxM0) {
            val grown = Arrays.copyOf(nbLinks, nbLinks.length + 1)
            grown(nbLinks.length) = i
            links(nb)(0) = grown
          } else {
            val ids = new Array[Int](nbLinks.length + 1)
            val ds = new Array[Float](nbLinks.length + 1)
            System.arraycopy(nbLinks, 0, ids, 0, nbLinks.length)
            ids(nbLinks.length) = i
            var j = 0
            while (j < ids.length) { ds(j) = distNodes(nb, ids(j)); j += 1 }
            links(nb)(0) = selectHeuristic(ids, ds, ids.length, maxM0)
          }
        }
        c += 1
      }
      i += 1
    }
  }

  private def bulkBatch(vs: IndexedSeq[Array[Float]], off: Int, batch: Int): Unit = {
    val base = count
    ensureCapacity(base + batch)
    var b = 0
    while (b < batch) {
      val v = vs(off + b)
      require(v.length == dim, s"expected dimension $dim, got ${v.length}")
      val label = base + b
      System.arraycopy(v, 0, vecs, label * dim, dim)
      levels(label) = randomLevel(label)
      links(label) = Array.fill(levels(label) + 1)(Array.emptyIntArray)
      b += 1
    }
    // vectors/levels are visible but the nodes stay UNREACHABLE (no inbound
    // links, frozen entry point) until the sequential apply below
    count = base + batch
    val frozenEp = entryPoint
    val frozenMax = maxLevel
    val chosenAll = new Array[Array[Array[Int]]](batch)
    // per-node parallel stream (not ParChunks: its 2048-wide chunks would
    // serialize the small early batches of the /8 growth schedule); each
    // index writes only its own chosenAll slot, so scheduling cannot affect
    // the result
    java.util.stream.IntStream.range(0, batch).parallel().forEach { i =>
      val label = base + i
      val v = vs(off + i)
      val level = levels(label)
      var ep = frozenEp
      var lc = frozenMax
      while (lc > level) { ep = greedyClosest(v, ep, lc); lc -= 1 }
      lc = math.min(level, frozenMax)
      val perLayer = new Array[Array[Int]](math.max(lc + 1, 0))
      while (lc >= 0) {
        val (candIds, candDists, nCand) = searchLayer(v, Array(ep), efConstruction, lc)
        val chosen = selectHeuristic(candIds, candDists, nCand, m)
        perLayer(lc) = chosen
        // selectHeuristic's first pick is the closest candidate, so this
        // matches add()'s `ep = chosen(0)` descent exactly
        if (chosen.nonEmpty) ep = chosen(0)
        lc -= 1
      }
      chosenAll(i) = perLayer
    }
    b = 0
    while (b < batch) {
      val label = base + b
      val perLayer = chosenAll(b)
      var lc = perLayer.length - 1
      while (lc >= 0) {
        val chosen = perLayer(lc)
        links(label)(lc) = chosen
        val cap = if (lc == 0) maxM0 else m
        var i = 0
        while (i < chosen.length) {
          val nb = chosen(i)
          val nbLinks = links(nb)(lc)
          if (!nbLinks.contains(label)) {
            if (nbLinks.length < cap) {
              val grown = Arrays.copyOf(nbLinks, nbLinks.length + 1)
              grown(nbLinks.length) = label
              links(nb)(lc) = grown
            } else {
              val ids = new Array[Int](nbLinks.length + 1)
              val ds = new Array[Float](nbLinks.length + 1)
              System.arraycopy(nbLinks, 0, ids, 0, nbLinks.length)
              ids(nbLinks.length) = label
              var j = 0
              while (j < ids.length) { ds(j) = distNodes(nb, ids(j)); j += 1 }
              links(nb)(lc) = selectHeuristic(ids, ds, ids.length, cap)
            }
          }
          i += 1
        }
        lc -= 1
      }
      if (levels(label) > maxLevel) { maxLevel = levels(label); entryPoint = label }
      b += 1
    }
  }

  /** Greedy single-step descent at a layer: move to the closest neighbor
   *  until no improvement. */
  private def greedyClosest(q: Array[Float], start: Int, layer: Int): Int = {
    var cur = start
    var curDist = dist(cur, q)
    var improved = true
    while (improved) {
      improved = false
      val nbrs = links(cur)(layer)
      var i = 0
      while (i < nbrs.length) {
        val d = dist(nbrs(i), q)
        if (d < curDist) { curDist = d; cur = nbrs(i); improved = true }
        i += 1
      }
    }
    cur
  }

  /** Beam search at one layer → candidates sorted ascending (paper Alg. 2).
   *  Returns parallel arrays + count (ids, dists, n). */
  private def searchLayer(q: Array[Float], eps: Array[Int], ef: Int,
      layer: Int): (Array[Int], Array[Float], Int) = {
    val visited = new IntSet(ef * 8)
    // result: bounded sorted list (asc); candidates: min-heap packed long
    val resId = new Array[Int](ef)
    val resDist = new Array[Float](ef)
    var resLen = 0
    var heap = new Array[Long](math.max(ef * 2, 64))
    var heapLen = 0

    @inline def heapPush(v: Long): Unit = {
      if (heapLen == heap.length) heap = Arrays.copyOf(heap, heapLen * 2)
      var i = heapLen; heap(i) = v; heapLen += 1
      while (i > 0 && heap((i - 1) / 2) > heap(i)) {
        val p = (i - 1) / 2; val t = heap(p); heap(p) = heap(i); heap(i) = t; i = p
      }
    }
    @inline def heapPop(): Long = {
      val top = heap(0); heapLen -= 1; heap(0) = heap(heapLen)
      var i = 0; var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1; var mm = i
        if (l < heapLen && heap(l) < heap(mm)) mm = l
        if (r < heapLen && heap(r) < heap(mm)) mm = r
        if (mm == i) done = true
        else { val t = heap(mm); heap(mm) = heap(i); heap(i) = t; i = mm }
      }
      top
    }
    @inline def insertResult(d: Float, id: Int): Unit = {
      if (resLen < ef || d < resDist(resLen - 1)) {
        var lo = 0; var hi = resLen
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (resDist(mid) < d) lo = mid + 1 else hi = mid
        }
        if (lo < ef) {
          val newLen = math.min(resLen + 1, ef)
          var i = newLen - 1
          while (i > lo) { resDist(i) = resDist(i - 1); resId(i) = resId(i - 1); i -= 1 }
          resDist(lo) = d; resId(lo) = id
          resLen = newLen
        }
        heapPush(SortableF32.pack(d, id))
      }
    }

    var i = 0
    while (i < eps.length) {
      val ep = eps(i)
      if (visited.add(ep)) insertResult(dist(ep, q), ep)
      i += 1
    }
    while (heapLen > 0) {
      val top = heapPop()
      if (resLen >= ef && SortableF32.distOf(top) > resDist(resLen - 1)) heapLen = 0
      else {
        val nbrs = links(SortableF32.idOf(top))(layer)
        var j = 0
        while (j < nbrs.length) {
          val nb = nbrs(j)
          if (visited.add(nb)) insertResult(dist(nb, q), nb)
          j += 1
        }
      }
    }
    (resId, resDist, resLen)
  }

  /** Occlusion neighbor selection (paper Alg. 4): keep e iff it is closer to
   *  the query node than to every already-selected neighbor. For cosine over
   *  normalized vectors this is monotone-equivalent to the L2 test (|a-b|² =
   *  2-2·a·b), so it applies to every metric — matching FAISS's
   *  shrink_neighbor_list, which the reference wraps. (Raw-IP recall on
   *  adversarial data is weak in FAISS for the same reason.) */
  private def selectHeuristic(ids: Array[Int], ds: Array[Float], n: Int,
      limit: Int): Array[Int] = {
    // primitive packed sort (inputs from searchLayer are already sorted;
    // overflow re-selection passes unsorted arrays) — no boxing in the
    // per-insert hot path
    val packed = new Array[Long](n)
    var i = 0
    while (i < n) { packed(i) = SortableF32.pack(ds(i), i); i += 1 }
    java.util.Arrays.sort(packed)
    val out = new Array[Int](math.min(limit, n))
    var nOut = 0
    var oi = 0
    while (oi < n && nOut < limit) {
      val ci = SortableF32.idOf(packed(oi))
      val e = ids(ci)
      var ok = true
      var j = 0
      while (ok && j < nOut) {
        if (distNodes(e, out(j)) < ds(ci)) ok = false
        j += 1
      }
      if (ok) { out(nOut) = e; nOut += 1 }
      oi += 1
    }
    Arrays.copyOf(out, nOut)
  }

  // ---- NodeStore over LAYER 0 (the lock-step batch path searches layer 0
  // with per-query entry points found by the greedy upper-layer descent;
  // upper layers are tiny and stay per-query)
  private[core] object Layer0Store extends NodeStore {
    def nodeCount: Int = count
    def entryPointIds: Array[Int] =
      if (entryPoint >= 0) Array(entryPoint) else Array.emptyIntArray
    def degreeBound: Int = maxM0
    def newCursor(): NodeCursor = new NodeCursor {
      def dist(id: Int, q: Array[Float]): Float = HnswIndex.this.dist(id, q)
      def neighborsInto(id: Int, buf: Array[Int]): Int = {
        val nbrs = links(id)(0)
        System.arraycopy(nbrs, 0, buf, 0, nbrs.length)
        nbrs.length
      }
      override def gatherable: Boolean = true
      override def copyVector(id: Int, dst: Array[Float], dstOff: Int): Unit =
        System.arraycopy(vecs, id * dim, dst, dstOff, dim)
    }
  }

  /** Lock-step multi-query batch search: per-query greedy descent to layer
   *  0, then all queries advance the layer-0 beam together with gemm-shaped
   *  hop distances — bit-identical to per-query [[search]] (the layer-0
   *  state machine is BeamSearcher's; BatchSearchSpec asserts). */
  override def searchBatch(queries: Array[Array[Float]], k: Int,
      searchComplexity: Int = 0): Array[(Array[Int], Array[Float])] = {
    if (queries.isEmpty) return Array.empty
    if (mips) {
      if (size == 0 || k <= 0)
        return queries.map(_ => (Array.emptyIntArray, Array.emptyFloatArray))
      queries.foreach(q => require(q.length == dim,
        s"query dimension ${q.length} != index dimension $dim"))
      ensureMipsBuilt()
      val aug = queries.map(q => java.util.Arrays.copyOf(q, dim + 1))
      val inner = mipsInner.searchBatch(aug, k, searchComplexity)
      val m2 = mipsNorm * mipsNorm
      return queries.indices.toArray.map { qi =>
        val q = queries(qi)
        var qn2 = 0.0; var i = 0
        while (i < dim) { qn2 += q(i).toDouble * q(i); i += 1 }
        val (ids, dL2) = inner(qi)
        val ds = new Array[Float](dL2.length)
        i = 0
        while (i < dL2.length) {
          ds(i) = ((dL2(i).toDouble - qn2 - m2) / 2.0).toFloat
          i += 1
        }
        (ids, ds)
      }
    }
    if (count == 0 || k <= 0)
      return queries.map(_ => (Array.emptyIntArray, Array.emptyFloatArray))
    if (queries.length == 1)
      return queries.map(q => search(q, k, searchComplexity))
    queries.foreach(q => require(q.length == dim,
      s"query dimension ${q.length} != index dimension $dim"))
    val kk = math.min(k, count)
    val ef = math.max(kk, if (searchComplexity > 0) searchComplexity else efConstruction)
    val eps = queries.map { q =>
      var ep = entryPoint
      var lc = maxLevel
      while (lc > 0) { ep = greedyClosest(q, ep, lc); lc -= 1 }
      Array(ep)
    }
    BeamSearcher.searchBatch(Layer0Store, metric, queries, kk, ef, eps)
  }

  def search(query: Array[Float], k: Int, searchComplexity: Int): (Array[Int], Array[Float]) = {
    require(query.length == dim, s"query dimension ${query.length} != index dimension $dim")
    if (mips) {
      // no-op queries must not freeze the index as a side effect
      if (size == 0 || k <= 0) return (Array.emptyIntArray, Array.emptyFloatArray)
      ensureMipsBuilt()
      val (ids, dL2) = mipsInner.search(java.util.Arrays.copyOf(query, dim + 1), k,
        searchComplexity)
      // ‖q'−v'‖² = |q|² + M² − 2·q·v  ⇒  −q·v = (dL2 − |q|² − M²) / 2
      var qn2 = 0.0; var i = 0
      while (i < dim) { qn2 += query(i).toDouble * query(i); i += 1 }
      val m2 = mipsNorm * mipsNorm
      val ds = new Array[Float](dL2.length)
      i = 0
      while (i < dL2.length) {
        ds(i) = ((dL2(i).toDouble - qn2 - m2) / 2.0).toFloat
        i += 1
      }
      return (ids, ds)
    }
    if (count == 0 || k <= 0) return (Array.emptyIntArray, Array.emptyFloatArray)
    val kk = math.min(k, count)
    val ef = math.max(kk, if (searchComplexity > 0) searchComplexity else efConstruction)
    var ep = entryPoint
    var lc = maxLevel
    while (lc > 0) { ep = greedyClosest(query, ep, lc); lc -= 1 }
    val (ids, ds, n) = searchLayer(query, Array(ep), ef, 0)
    val take = math.min(kk, n)
    (Arrays.copyOf(ids, take), Arrays.copyOf(ds, take))
  }

  def memoryBytes: Long = {
    if (mips)
      return if (mipsInner != null) mipsInner.memoryBytes
             else size.toLong * dim * 4
    var b = count.toLong * dim * 4
    var i = 0
    while (i < count) {
      var l = 0
      while (l < links(i).length) { b += links(i)(l).length.toLong * 4 + 16; l += 1 }
      i += 1
    }
    b
  }

  // ------------------------------------------------------------- serialization

  private[core] def internalState: (Int, Array[Float], Array[Int],
      Array[Array[Array[Int]]], Int, Int) =
    (count, vecs, levels, links, entryPoint, maxLevel)

  /** Freeze and expose the MIPS-reduction state for serialization. */
  private[core] def mipsState: (HnswIndex, Double) = {
    require(mips, "not an IP index")
    ensureMipsBuilt()
    (mipsInner, mipsNorm)
  }

  private[core] def loadMips(inner: HnswIndex, norm: Double): Unit = {
    require(mips && inner.dim == dim + 1)
    mipsInner = inner
    mipsNorm = norm
    mipsBuf = null
  }

  private[core] def load(n: Int, vectors: Array[Float], lv: Array[Int],
      lk: Array[Array[Array[Int]]], ep: Int, ml: Int): Unit = {
    require(!mips, "IP indexes load via loadMips (augmented state), not load()")
    ensureCapacity(math.max(n, 1))
    System.arraycopy(vectors, 0, vecs, 0, n * dim)
    System.arraycopy(lv, 0, levels, 0, n)
    System.arraycopy(lk, 0, links, 0, n)
    count = n; entryPoint = ep; maxLevel = ml
  }
}

object HnswIndex {
  // Reference FAISS defaults: hnsw_m=32 (src/include/faiss_index.hpp:38-43).
  val DefaultM = 32
  val DefaultEfConstruction = 200
  val MaxLevelCap = 16
  /** [[HnswIndex.addAll]] inserts this many nodes sequentially before
   *  switching to parallel batches. */
  val BulkSeqSeed = 1024
  /** Batch size = count / this — each parallel round inserts 12.5% of the
   *  current graph size. */
  val BulkGrowthDiv = 8
}

/**
 * `.hnsw` shard file: `"GHNW"` magic, u32 version=1, u32 dim, u8 metric
 * (code | 0x10 cosine flag | 0x20 MIPS-augmented flag), u32 m,
 * u32 efConstruction, u32 n, i32 entryPoint, i32 maxLevel,
 * [f32 augNorm when MIPS], per node: u8 level, per layer u16 degree +
 * i32 neighbor ids; then flat f32 vectors (dim+1 wide when MIPS —
 * augmented storage is persisted so loads skip re-building the reduction).
 * Little-endian, mirroring the `.diskann` style
 * (reference rust_lib/src/file_format.rs:1-27).
 */
object HnswFormat {
  import java.io._
  import java.nio.{ByteBuffer, ByteOrder}

  val Magic = 0x474E4857 // "GHNW" big-endianly-irrelevant tag

  def writeFile(ix: HnswIndex, path: String): Unit = {
    // layer-0 degree (2m) must fit the format's signed-u16 degree field
    require(ix.m <= 8192, s"hnsw m=${ix.m} too large for the .hnsw format (max 8192)")
    val mipsAug = ix.metric eq Metric.InnerProduct
    val (src, augNorm) = if (mipsAug) {
      val (inner, norm) = ix.mipsState
      (inner, norm)
    } else (ix, 0.0)
    val (n, vecs, levels, links, ep, ml) = src.internalState
    val storedDim = src.dim // dim+1 for MIPS
    var linkBytes = 0L
    var i = 0
    while (i < n) {
      linkBytes += 1
      var l = 0
      while (l < links(i).length) { linkBytes += 2 + 4L * links(i)(l).length; l += 1 }
      i += 1
    }
    val total = 4 + 4 + 4 + 1 + 4 + 4 + 4 + 4 + 4 + (if (mipsAug) 4 else 0) +
      linkBytes + 4L * n * storedDim
    require(total < Int.MaxValue, "shard too large for a single file buffer")
    val bb = ByteBuffer.allocate(total.toInt).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(Magic); bb.putInt(1); bb.putInt(ix.dim)
    // metric byte: on-disk code + cosine flag (cosine shares code 1 with
    // IP, Metric.fromCode style) + MIPS-augmentation flag
    bb.put((((if (ix.metric eq Metric.Cosine) 0x10 else 0)
      | (if (mipsAug) 0x20 else 0)) | ix.metric.code).toByte)
    bb.putInt(ix.m); bb.putInt(ix.efConstruction)
    bb.putInt(n); bb.putInt(ep); bb.putInt(ml)
    if (mipsAug) bb.putFloat(augNorm.toFloat)
    i = 0
    while (i < n) {
      bb.put(levels(i).toByte)
      var l = 0
      while (l <= levels(i)) {
        val nbrs = links(i)(l)
        bb.putShort(nbrs.length.toShort)
        var j = 0
        while (j < nbrs.length) { bb.putInt(nbrs(j)); j += 1 }
        l += 1
      }
      i += 1
    }
    var v = 0
    while (v < n * storedDim) { bb.putFloat(vecs(v)); v += 1 }
    val tmp = new File(path + ".tmp")
    val out = new FileOutputStream(tmp)
    try out.write(bb.array(), 0, bb.position()) finally out.close()
    java.nio.file.Files.move(tmp.toPath, new File(path).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def readFile(path: String): HnswIndex = {
    val bb = ByteBuffer.wrap(java.nio.file.Files.readAllBytes(new File(path).toPath))
      .order(ByteOrder.LITTLE_ENDIAN)
    require(bb.getInt() == Magic, "not a .hnsw image")
    val ver = bb.getInt(); require(ver == 1, s"unsupported .hnsw version $ver")
    val dim = bb.getInt()
    val mByte = bb.get().toInt
    val mipsAug = (mByte & 0x20) != 0
    val metric = Metric.fromCode(mByte & 0x0f, cosine = (mByte & 0x10) != 0)
    val m = bb.getInt(); val efc = bb.getInt()
    val n = bb.getInt(); val ep = bb.getInt(); val ml = bb.getInt()
    val augNorm = if (mipsAug) bb.getFloat().toDouble else 0.0
    val storedDim = if (mipsAug) dim + 1 else dim
    val levels = new Array[Int](math.max(n, 4))
    val links = new Array[Array[Array[Int]]](math.max(n, 4))
    var i = 0
    while (i < n) {
      val lvl = bb.get().toInt
      levels(i) = lvl
      links(i) = new Array[Array[Int]](lvl + 1)
      var l = 0
      while (l <= lvl) {
        val d = bb.getShort().toInt
        val nbrs = new Array[Int](d)
        var j = 0
        while (j < d) { nbrs(j) = bb.getInt(); j += 1 }
        links(i)(l) = nbrs
        l += 1
      }
      i += 1
    }
    val vecs = new Array[Float](n * storedDim)
    var v = 0
    while (v < n * storedDim) { vecs(v) = bb.getFloat(); v += 1 }
    if (mipsAug) {
      val inner = new HnswIndex(storedDim, Metric.L2, m, efc)
      inner.load(n, vecs, levels, links, ep, ml)
      val outer = new HnswIndex(dim, metric, m, efc)
      outer.loadMips(inner, augNorm)
      outer
    } else if (metric eq Metric.InnerProduct) {
      // legacy pre-reduction IP shard (no 0x20 flag): its graph was built
      // on raw negated-dot distances; migrate by re-buffering the raw
      // vectors and freezing EAGERLY — a lazily-frozen index in the
      // JVM-wide ShardCache would race its first concurrent searches
      val ix = new HnswIndex(dim, metric, m, efc)
      var i = 0
      while (i < n) {
        ix.add(java.util.Arrays.copyOfRange(vecs, i * dim, (i + 1) * dim))
        i += 1
      }
      ix.ensureMipsBuilt()
      ix
    } else {
      val ix = new HnswIndex(dim, metric, m, efc)
      ix.load(n, vecs, levels, links, ep, ml)
      ix
    }
  }
}
