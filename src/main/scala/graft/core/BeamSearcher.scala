package graft.core

import java.util.Arrays

/**
 * Minimal storage contract the greedy beam search needs — implemented by the
 * heap-resident [[VamanaIndex]] and the disk-resident [[DiskannMmapIndex]],
 * so BOTH serve through the exact same search code path (identical visit
 * order, identical results for the same bytes).
 *
 * A cursor bundles the per-search scratch state (buffer views, copy
 * buffers): one cursor per [[BeamSearcher]], single-threaded, so a shared
 * store instance (e.g. one mmap) can be searched concurrently.
 */
private[core] trait NodeCursor {
  /** Distance (lower = closer) from node `id` to `q`. */
  def dist(id: Int, q: Array[Float]): Float
  /** Fill `buf` with the neighbor ids of `id`; returns the count. */
  def neighborsInto(id: Int, buf: Array[Int]): Int
  /** True when [[copyVector]] yields floats over which the array kernels
   *  compute distances bit-identical to [[dist]] — enables the gemm-shaped
   *  lock-step batch path. Every shipped cursor upholds it (SQ8 cursors
   *  dequantize into scratch and share the float kernels); false routes
   *  batch hops through per-pair dist for cursors that fuse storage decode
   *  with a differently-ordered accumulation. */
  def gatherable: Boolean = false
  /** Copy node `id`'s vector into dst[dstOff, dstOff+dim). Only called when
   *  [[gatherable]] is true. */
  def copyVector(id: Int, dst: Array[Float], dstOff: Int): Unit =
    throw new UnsupportedOperationException("cursor is not gatherable")
}

private[core] trait NodeStore {
  def nodeCount: Int
  def entryPointIds: Array[Int]
  /** Upper bound on any node's degree (buffer sizing). */
  def degreeBound: Int
  def newCursor(): NodeCursor
}

/**
 * Reusable greedy best-first search over a [[NodeStore]]; exposes the
 * visited pool for Vamana's robustPrune (reference
 * rust_lib/src/disk_provider.rs:339-462, insert_result :656-678).
 *
 * The traversal is decomposed into primitives (reset / visitedAdd / seed /
 * offer / nextCandidate) shared by the single-query [[search]] loop and the
 * lock-step multi-query driver in the companion — one state machine, two
 * drivers, so batch and single-query searches visit identical nodes and
 * return bit-identical results by construction.
 */
private[core] final class BeamSearcher(store: NodeStore) {
  // lazy: the lock-step driver creates one BeamSearcher per query purely for
  // its traversal STATE (heap/results/visited) and computes distances with
  // its own shared cursor — per-query cursors and neighbor buffers would be
  // dead weight (an mmap cursor duplicates several buffer views)
  private lazy val cursor = store.newCursor()
  private lazy val nbrBuf = new Array[Int](math.max(store.degreeBound, 1))
  // bounded sorted result list (parallel arrays), mirrors insert_result
  private var resDist: Array[Float] = null
  private var resId: Array[Int] = null
  private var resLen = 0
  // candidate min-heap packed as long: sortableFloatBits(dist) << 32 | id
  private var heap: Array[Long] = new Array[Long](256)
  private var heapLen = 0
  private val visited = new IntSet(1024)
  // visited pool (every node whose distance was computed) for robustPrune
  var visitedIds: Array[Int] = new Array[Int](1024)
  var visitedDists: Array[Float] = new Array[Float](1024)
  var visitedCount = 0

  @inline private def heapPush(v: Long): Unit = {
    if (heapLen == heap.length) heap = Arrays.copyOf(heap, heapLen * 2)
    var i = heapLen; heap(i) = v; heapLen += 1
    while (i > 0 && heap((i - 1) / 2) > heap(i)) {
      val p = (i - 1) / 2
      val t = heap(p); heap(p) = heap(i); heap(i) = t
      i = p
    }
  }

  @inline private def heapPop(): Long = {
    val top = heap(0)
    heapLen -= 1
    heap(0) = heap(heapLen)
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = l + 1
      var m = i
      if (l < heapLen && heap(l) < heap(m)) m = l
      if (r < heapLen && heap(r) < heap(m)) m = r
      if (m == i) done = true
      else { val t = heap(m); heap(m) = heap(i); heap(i) = t; i = m }
    }
    top
  }

  @inline private def recordVisited(id: Int, d: Float): Unit = {
    if (visitedCount == visitedIds.length) {
      visitedIds = Arrays.copyOf(visitedIds, visitedCount * 2)
      visitedDists = Arrays.copyOf(visitedDists, visitedCount * 2)
    }
    visitedIds(visitedCount) = id
    visitedDists(visitedCount) = d
    visitedCount += 1
  }

  /** Binary-search insert into the bounded result list (disk_provider.rs:656-678). */
  @inline private def insertResult(l: Int, d: Float, id: Int): Unit = {
    if (resLen < l || d < resDist(resLen - 1)) {
      var lo = 0; var hi = resLen
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (resDist(mid) < d) lo = mid + 1 else hi = mid
      }
      val insertAt = lo
      val newLen = math.min(resLen + 1, l)
      var i = newLen - 1
      while (i > insertAt) { resDist(i) = resDist(i - 1); resId(i) = resId(i - 1); i -= 1 }
      if (insertAt < l) { resDist(insertAt) = d; resId(insertAt) = id }
      resLen = newLen
      heapPush(SortableF32.pack(d, id))
    }
  }

  @inline private def insertResultSeed(l: Int, d: Float, id: Int): Unit = {
    // same as insertResult but always pushes the seed on the heap
    var lo = 0; var hi = resLen
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (resDist(mid) < d) lo = mid + 1 else hi = mid
    }
    if (lo < l) {
      val newLen = math.min(resLen + 1, l)
      var i = newLen - 1
      while (i > lo) { resDist(i) = resDist(i - 1); resId(i) = resId(i - 1); i -= 1 }
      resDist(lo) = d; resId(lo) = id
      resLen = newLen
    }
    heapPush(SortableF32.pack(d, id))
  }

  // ---- traversal primitives (shared by search() and the lock-step driver)

  private[core] def reset(l: Int): Unit = {
    resDist = new Array[Float](l)
    resId = new Array[Int](l)
    resLen = 0; heapLen = 0; visitedCount = 0; visited.clear()
  }

  @inline private[core] def visitedAdd(id: Int): Boolean = visited.add(id)

  /** Record + insert an entry-point seed (always heap-pushed). */
  @inline private[core] def seed(l: Int, d: Float, id: Int): Unit = {
    recordVisited(id, d)
    insertResultSeed(l, d, id)
  }

  /** Record + insert an expanded neighbor. */
  @inline private[core] def offer(l: Int, d: Float, id: Int): Unit = {
    recordVisited(id, d)
    insertResult(l, d, id)
  }

  /** Pop the next candidate to expand, or -1 when the search converged
   *  (heap empty, or best candidate is worse than the full result list —
   *  which terminates the whole search, matching the single-query loop). */
  @inline private[core] def nextCandidate(l: Int): Int = {
    if (heapLen == 0) return -1
    val top = heapPop()
    if (resLen >= l && SortableF32.distOf(top) > resDist(resLen - 1)) {
      heapLen = 0 // converged
      return -1
    }
    SortableF32.idOf(top)
  }

  def search(query: Array[Float], k: Int, l: Int, excludeSelf: Int): Unit =
    searchFrom(query, k, l, excludeSelf, store.entryPointIds)

  /** [[search]] with explicit entry points (HNSW layer-0 runs start from the
   *  per-query greedy-descent result, not the store's global entries). */
  def searchFrom(query: Array[Float], k: Int, l: Int, excludeSelf: Int,
      eps: Array[Int]): Unit = {
    reset(l)
    val n = store.nodeCount
    var i = 0
    while (i < eps.length) {
      val ep = eps(i)
      if (ep < n && ep != excludeSelf && visited.add(ep)) {
        seed(l, cursor.dist(ep, query), ep)
      }
      i += 1
    }
    var cId = nextCandidate(l)
    while (cId >= 0) {
      val nd = cursor.neighborsInto(cId, nbrBuf)
      var j = 0
      while (j < nd) {
        val nb = nbrBuf(j)
        if (nb != excludeSelf && nb < n && visited.add(nb)) {
          offer(l, cursor.dist(nb, query), nb)
        }
        j += 1
      }
      cId = nextCandidate(l)
    }
  }

  def topK(k: Int): (Array[Int], Array[Float]) = {
    val n = math.min(k, resLen)
    (Arrays.copyOf(resId, n), Arrays.copyOf(resDist, n))
  }
}

private[core] object BeamSearcher {

  /** Gather-block row cap: bounds batch scratch at MaxBlockRows*dim floats
   *  (~1 MB at dim 64) regardless of query count. */
  private val MaxBlockRows = 4096

  /** Queries advanced in one lock-step group. Grouping bounds the live
   *  per-query state (visited sets, heaps, result lists) so it stays
   *  cache-resident, while a group's hop still exposes ~group*degree
   *  independent memory loads for the CPU to overlap (the DRAM-latency
   *  hiding that is the CPU counterpart of the reference's GPU batch
   *  dispatch). */
  private val GroupSize = 64

  /** Below this vector footprint the shard is cache-resident and the serial
   *  per-query miss chain is already cheap — lock-step's extra state/gather
   *  work then LOSES ~20% (measured: 60k x 64f shard, 15 MB), while above it
   *  the overlapped hop loads win 5-25% (measured: 400k x 64f, 98 MB). Both
   *  paths are bit-identical, so this is purely a performance route.
   *  Tunable via -Dgraft.ann.lockstepMinBytes (0 forces lock-step). */
  private def minLockstepBytes: Long =
    sys.props.get("graft.ann.lockstepMinBytes").map(_.toLong).getOrElse(32L << 20)

  /** Batch entry: auto-routes small shards to per-query search, otherwise
   *  runs lock-step within groups of [[GroupSize]], groups sequential.
   *  Per-query results are identical on every route (each query's traversal
   *  is independent and per-row kernels match). */
  def searchBatch(store: NodeStore, metric: Metric, queries: Array[Array[Float]],
      k: Int, l: Int,
      perQueryEps: Array[Array[Int]] = null): Array[(Array[Int], Array[Float])] = {
    if (queries.isEmpty) return Array.empty
    val vecBytes = store.nodeCount.toLong * queries(0).length * 4
    if (vecBytes < minLockstepBytes)
      return queries.zipWithIndex.map { case (q, qi) =>
        val b = new BeamSearcher(store)
        b.searchFrom(q, k, l, excludeSelf = -1,
          if (perQueryEps != null) perQueryEps(qi) else store.entryPointIds)
        b.topK(k)
      }
    val g = GroupSize
    if (queries.length <= g) searchLockstep(store, metric, queries, k, l, perQueryEps)
    else {
      val out = new Array[(Array[Int], Array[Float])](queries.length)
      var base = 0
      while (base < queries.length) {
        val m = math.min(g, queries.length - base)
        val qs = java.util.Arrays.copyOfRange(queries.asInstanceOf[Array[AnyRef]], base, base + m)
          .asInstanceOf[Array[Array[Float]]]
        val eps = if (perQueryEps == null) null
          else java.util.Arrays.copyOfRange(perQueryEps.asInstanceOf[Array[AnyRef]], base, base + m)
            .asInstanceOf[Array[Array[Int]]]
        val part = searchLockstep(store, metric, qs, k, l, eps)
        System.arraycopy(part, 0, out, base, m)
        base += m
      }
      out
    }
  }

  /**
   * Lock-step multi-query batch search (reference rust_lib/src/provider.rs:
   * 248-440): every active query advances ONE hop per iteration — pop its
   * best candidate, gather its unvisited neighbors into a shared
   * (neighbor, query) worklist — then the whole hop's distances are computed
   * as ONE gemm-shaped SIMD block over the gathered neighbor vectors
   * ([[Simd.l2SqBatch]]/[[Simd.negDotBatch]], the CPU stand-in for the
   * reference's Metal batch dispatch) and scattered back into each query's
   * result state. Per-query traversal uses the same [[BeamSearcher]]
   * primitives as the single-query loop, and per-row batch math is the same
   * kernel as per-pair calls, so results are bit-identical to searching each
   * query alone.
   *
   * When a cursor can't expose raw floats ([[NodeCursor.gatherable]] false),
   * the hop's distances fall back to per-pair `cursor.dist` — still
   * lock-step (shared traversal bookkeeping), just not gemm-shaped. All
   * shipped cursors are gatherable (SQ8 dequantizes into the gather block,
   * reference quantized batch path rust_lib/src/provider.rs:161-241).
   */
  private def searchLockstep(store: NodeStore, metric: Metric, queries: Array[Array[Float]],
      k: Int, l: Int,
      perQueryEps: Array[Array[Int]] = null): Array[(Array[Int], Array[Float])] = {
    val nq = queries.length
    val out = new Array[(Array[Int], Array[Float])](nq)
    if (nq == 0) return out
    val n = store.nodeCount
    val dim = queries(0).length
    val cursor = store.newCursor()
    val nbrBuf = new Array[Int](math.max(store.degreeBound, 1))
    val l2 = metric eq Metric.L2
    val gather = cursor.gatherable

    val searchers = Array.fill(nq)(new BeamSearcher(store))
    var qi = 0
    while (qi < nq) { searchers(qi).reset(l); qi += 1 }

    // flat queries buffer for the batch kernels (provider.rs:324 queries_flat)
    val qflat = new Array[Float](nq * dim)
    qi = 0
    while (qi < nq) { System.arraycopy(queries(qi), 0, qflat, qi * dim, dim); qi += 1 }

    // shared per-hop worklist, reused across iterations
    val maxEps = if (perQueryEps == null) store.entryPointIds.length
      else perQueryEps.iterator.map(_.length).foldLeft(1)(math.max)
    val maxPerHop = nq * math.max(store.degreeBound, 1)
    val hopIds = new Array[Int](math.max(maxPerHop, nq * math.max(maxEps, 1)))
    val hopQ = new Array[Int](hopIds.length)
    val hopDist = new Array[Float](hopIds.length)
    // gather block bounded to MaxBlockRows rows so a 10k-query batch doesn't
    // allocate nq*degree*dim floats; chunking is per-row independent, so it
    // cannot change results
    val blockRows = math.min(hopIds.length, MaxBlockRows)
    val block = if (gather) new Array[Float](blockRows * dim) else null
    val qChunk = if (gather) new Array[Int](blockRows) else null
    val dChunk = if (gather) new Array[Float](blockRows) else null

    @inline def computeHop(cnt: Int): Unit = {
      if (gather) {
        var base = 0
        while (base < cnt) {
          val m = math.min(blockRows, cnt - base)
          var i = 0
          while (i < m) { cursor.copyVector(hopIds(base + i), block, i * dim); i += 1 }
          System.arraycopy(hopQ, base, qChunk, 0, m)
          if (l2) Simd.l2SqBatch(block, qflat, qChunk, m, dim, dChunk)
          else Simd.negDotBatch(block, qflat, qChunk, m, dim, dChunk)
          System.arraycopy(dChunk, 0, hopDist, base, m)
          base += m
        }
      } else {
        var i = 0
        while (i < cnt) { hopDist(i) = cursor.dist(hopIds(i), queries(hopQ(i))); i += 1 }
      }
    }

    // ---- seed hop: all (entry point, query) pairs in one batch
    var cnt = 0
    qi = 0
    while (qi < nq) {
      val eps = if (perQueryEps != null) perQueryEps(qi) else store.entryPointIds
      var e = 0
      while (e < eps.length) {
        val ep = eps(e)
        if (ep < n && searchers(qi).visitedAdd(ep)) {
          hopIds(cnt) = ep; hopQ(cnt) = qi; cnt += 1
        }
        e += 1
      }
      qi += 1
    }
    computeHop(cnt)
    var i = 0
    while (i < cnt) { searchers(hopQ(i)).seed(l, hopDist(i), hopIds(i)); i += 1 }

    // ---- lock-step hops
    val active = Array.fill(nq)(true)
    var activeCount = nq
    while (activeCount > 0) {
      cnt = 0
      qi = 0
      while (qi < nq) {
        if (active(qi)) {
          val s = searchers(qi)
          val cId = s.nextCandidate(l)
          if (cId < 0) { active(qi) = false; activeCount -= 1 }
          else {
            val nd = cursor.neighborsInto(cId, nbrBuf)
            var j = 0
            while (j < nd) {
              val nb = nbrBuf(j)
              if (nb < n && s.visitedAdd(nb)) {
                hopIds(cnt) = nb; hopQ(cnt) = qi; cnt += 1
              }
              j += 1
            }
          }
        }
        qi += 1
      }
      if (cnt > 0) {
        computeHop(cnt)
        i = 0
        while (i < cnt) { searchers(hopQ(i)).offer(l, hopDist(i), hopIds(i)); i += 1 }
      }
    }

    qi = 0
    while (qi < nq) { out(qi) = searchers(qi).topK(k); qi += 1 }
    out
  }
}
