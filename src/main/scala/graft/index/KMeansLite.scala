package graft.index

import graft.core.VectorOps

/**
 * Deterministic sample-based Lloyd's k-means for IVF centroid training.
 * Mirrors the reference's FAISS IVF training: deterministic stride sampling
 * of at most `maxTrain` points, then a bounded number of Lloyd iterations
 * (reference src/faiss_index.cpp:287-414, sampling at 304-319).
 *
 * Runs on a driver-side sample only — at 100 TB the sample stays bounded
 * (FAISS trains IVF the same way); assignment of the full dataset to
 * centroids is the distributed part ([[Coarse.assign]]).
 */
object KMeansLite {

  /** Max cluster share of the training sample, as a multiple of the average
   *  (n/k), before the balance pass splits it. */
  val DefaultCapFactor = 4.0

  def train(samples: Array[Array[Float]], k: Int, iters: Int = 10,
      capFactor: Double = DefaultCapFactor): Array[Array[Float]] =
    balance(trainLloyd(samples, k, iters), samples, capFactor)

  private def trainLloyd(samples: Array[Array[Float]], k: Int, iters: Int): Array[Array[Float]] = {
    require(samples.nonEmpty, "k-means requires a non-empty sample")
    val dim = samples(0).length
    val n = samples.length
    val kk = math.min(k, n)
    // deterministic init: evenly strided sample points
    val stride = math.max(1, n / kk)
    val cents = Array.tabulate(kk)(i => samples(math.min(i * stride, n - 1)).clone())

    val assign = new Array[Int](n)
    val nChunks = graft.core.ParChunks.numChunks(n)
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      // assignment, chunk-parallel (+ convergence check: unchanged assignment
      // means the update step recomputes identical centroids — skip
      // remaining rounds). Each chunk writes only its own assign slice and
      // change count, so the result is thread-schedule independent.
      val it0 = it
      val chunkChanges = new Array[Int](nChunks)
      graft.core.ParChunks.foreach(n) { (ci, s0, e0) =>
        var changes = 0
        var i = s0
        while (i < e0) {
          var best = 0; var bestD = Float.MaxValue
          var c = 0
          while (c < kk) {
            val d = VectorOps.l2Sq(samples(i), cents(c))
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          if (it0 > 0 && assign(i) != best) changes += 1
          else if (it0 == 0) changes += 1
          assign(i) = best
          i += 1
        }
        chunkChanges(ci) = changes
      }
      converged = chunkChanges.sum == 0
      // update: per-chunk partial sums, then a serial reduce in FIXED chunk
      // order — double accumulation stays deterministic under parallelism
      val chunkSums = new Array[Array[Array[Double]]](nChunks)
      val chunkCounts = new Array[Array[Int]](nChunks)
      graft.core.ParChunks.foreach(n) { (ci, s0, e0) =>
        val sums = Array.fill(kk)(new Array[Double](dim))
        val counts = new Array[Int](kk)
        var i = s0
        while (i < e0) {
          val c = assign(i); counts(c) += 1
          val s = sums(c); val v = samples(i)
          var d = 0
          while (d < dim) { s(d) += v(d); d += 1 }
          i += 1
        }
        chunkSums(ci) = sums; chunkCounts(ci) = counts
      }
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Int](kk)
      var ci = 0
      while (ci < nChunks) {
        val cs = chunkSums(ci); val cc = chunkCounts(ci)
        var c = 0
        while (c < kk) {
          counts(c) += cc(c)
          val src = cs(c); val dst = sums(c)
          var d = 0
          while (d < dim) { dst(d) += src(d); d += 1 }
          c += 1
        }
        ci += 1
      }
      var c = 0
      var emptySeed = 0
      while (c < kk) {
        if (counts(c) > 0) {
          var d = 0
          while (d < dim) { cents(c)(d) = (sums(c)(d) / counts(c)).toFloat; d += 1 }
        } else {
          // re-seed empty cluster deterministically from a strided point
          cents(c) = samples((emptySeed * 31 + c) % n).clone()
          emptySeed += 1
        }
        c += 1
      }
      it += 1
    }
    cents
  }

  def nearest(cents: Array[Array[Float]], v: Array[Float]): Int = {
    var best = 0; var bestD = Float.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = VectorOps.l2Sq(v, cents(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /**
   * Cluster-size balance pass: skewed corpora leave Lloyd's with degenerate
   * clusters (one centroid owning most of the data → one straggler partition
   * at build and an overfull probe at search). While any cluster holds more
   * than `capFactor · n/k` of the sample, split it in two (deterministic
   * 2-means over its members) and give the second half the SMALLEST
   * cluster's centroid slot — k logical lists stay k, matching the
   * reference's fixed-nlist IVF semantics (src/faiss_index.cpp:287-414).
   * Exact-search results are centroid-independent (nprobe=nlist scans every
   * list), so this only moves partition boundaries.
   */
  private def balance(cents: Array[Array[Float]], samples: Array[Array[Float]],
      capFactor: Double): Array[Array[Float]] = {
    val kk = cents.length
    if (kk < 2) return cents
    val cap = math.max(1, math.ceil(capFactor * samples.length / kk).toInt)
    var rounds = 0
    var done = false
    while (!done && rounds < kk) {
      // chunk-parallel reassignment (the round's dominant cost — n·k
      // distances; at k=4000, n=65536 a serial scan is ~50 GFLOP and was
      // the hidden driver-side tax on large-k semdedup training). Each
      // chunk writes its own assign slice + count array; integer counts
      // reduce order-independently, so results are schedule-invariant.
      val n = samples.length
      val nChunks = graft.core.ParChunks.numChunks(n)
      val assign = new Array[Int](n)
      val chunkCounts = new Array[Array[Int]](nChunks)
      graft.core.ParChunks.foreach(n) { (ci, s0, e0) =>
        val cc = new Array[Int](kk)
        var i = s0
        while (i < e0) {
          val c = nearest(cents, samples(i))
          assign(i) = c; cc(c) += 1
          i += 1
        }
        chunkCounts(ci) = cc
      }
      val counts = new Array[Int](kk)
      var ci = 0
      while (ci < nChunks) {
        val cc = chunkCounts(ci)
        var c = 0
        while (c < kk) { counts(c) += cc(c); c += 1 }
        ci += 1
      }
      val big = counts.indices.maxBy(counts)
      if (counts(big) <= cap) done = true
      else {
        val members = samples.indices.collect { case i if assign(i) == big => samples(i) }.toArray
        val split = twoMeans(members)
        split match {
          case Some((c0, c1)) =>
            val small = counts.indices.filter(_ != big).minBy(counts)
            cents(big) = c0
            cents(small) = c1
          case None => done = true // members indistinguishable: cannot split
        }
        rounds += 1
      }
    }
    cents
  }

  /** Deterministic 2-means over `members`: seed with the first point and its
   *  farthest member, then 5 Lloyd iterations. None when degenerate. */
  private def twoMeans(members: Array[Array[Float]]): Option[(Array[Float], Array[Float])] = {
    if (members.length < 2) return None
    val dim = members(0).length
    var far = 0; var farD = -1.0f
    var i = 0
    while (i < members.length) {
      val d = VectorOps.l2Sq(members(0), members(i))
      if (d > farD) { farD = d; far = i }
      i += 1
    }
    if (farD <= 0f) return None // all identical
    var c0 = members(0).clone(); var c1 = members(far).clone()
    var it = 0
    while (it < 5) {
      val s0 = new Array[Double](dim); val s1 = new Array[Double](dim)
      var n0 = 0; var n1 = 0
      i = 0
      while (i < members.length) {
        val v = members(i)
        if (VectorOps.l2Sq(v, c0) <= VectorOps.l2Sq(v, c1)) {
          var d = 0; while (d < dim) { s0(d) += v(d); d += 1 }; n0 += 1
        } else {
          var d = 0; while (d < dim) { s1(d) += v(d); d += 1 }; n1 += 1
        }
        i += 1
      }
      if (n0 == 0 || n1 == 0) return None
      var d = 0
      while (d < dim) {
        c0(d) = (s0(d) / n0).toFloat; c1(d) = (s1(d) / n1).toFloat
        d += 1
      }
      it += 1
    }
    Some((c0, c1))
  }

  /** Indices of the `p` nearest centroids to `v` (for nprobe routing). */
  def nearestP(cents: Array[Array[Float]], v: Array[Float], p: Int): Array[Int] =
    cents.indices.map(c => (VectorOps.l2Sq(v, cents(c)), c))
      .sortBy(x => (x._1, x._2)).take(math.min(p, cents.length)).map(_._2).toArray

  /**
   * Decomposed IMI probe selection — the FAISS multi-sequence analog
   * (MultiIndexQuantizer::search's per-half distance lists + heap merge):
   * O(2·2^b) half-space distances + an O(nprobe·log) merge instead of a
   * 2^(2b)-row product-table scan per query (128× less distance work at
   * the grammar's allowed b=8, where the product table holds 65,536 cells).
   *
   * The stored product table is untouched: cents(i·2^b + j) = cb1(i) ++
   * cb2(j) by construction ([[Coarse.fit]]), so cb1(i) is the
   * first half of row i·2^b and cb2(j) the second half of row j — the
   * half-codebooks reconstruct from the table with zero extra files.
   *
   * Ordering convention (pinned by the `ann_imi_probe1` oracle): cells rank
   * by fl(d1(i) + d2(j)) — each half distance the SAME float kernel and
   * element order as the stored assignment's per-half argmin
   * ([[Coarse.assign]]), the sum one float add — ties by cell id. Float addition is
   * monotone in each argument, so the sorted-half frontier bound holds in
   * float exactly as in real arithmetic; the merge keeps popping while the
   * boundary sum persists and cuts with a final (sum, cell) sort, making
   * the selected probe SET identical to a full (sum, cellId) sort at any
   * nprobe — and probe1 identical to the decomposed assignment argmin
   * (the 956e6c7 rationale: one 2·(dim/2)-float accumulation convention
   * everywhere, never a mix with full-dim accumulation that can round a
   * near-tie differently).
   */
  def nearestPImi(cents: Array[Array[Float]], imiB: Int, v: Array[Float],
      p: Int): Array[Int] = {
    if (p <= 0) return Array.emptyIntArray // nearestP's p<=0 contract
    val kh = 1 << imiB
    require(cents.length == kh * kh,
      s"IMI2x$imiB product table must hold ${kh * kh} cells (got ${cents.length})")
    val dim = v.length
    val half = dim / 2
    val nprobe = math.min(p, cents.length)
    val d1 = new Array[Float](kh)
    val d2 = new Array[Float](kh)
    var i = 0
    while (i < kh) {
      d1(i) = graft.core.Simd.l2Sq(v, 0, cents(i * kh), 0, half)
      d2(i) = graft.core.Simd.l2Sq(v, half, cents(i), half, dim - half)
      i += 1
    }
    // half lists ascending by (distance, index) — the oracle's `ORDER BY
    // dist, c` tiebreak on each a1/a2 CTE
    val s1 = d1.indices.sortBy(i => (d1(i), i)).toArray
    val s2 = d2.indices.sortBy(j => (d2(j), j)).toArray
    def cellOf(a: Int, b: Int): Int = s1(a) * kh + s2(b)
    // frontier heap over positions in the sorted half lists; each pair is
    // pushed exactly once ((a, b+1) always, (a+1, b) only at b == 0)
    val heapOrd = Ordering.by((e: (Float, Int, Int)) =>
      (e._1, cellOf(e._2, e._3))).reverse
    val heap = scala.collection.mutable.PriorityQueue(
      (d1(s1(0)) + d2(s2(0)), 0, 0))(heapOrd)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Float, Int)]
    while (heap.nonEmpty &&
        (out.length < nprobe || heap.head._1 <= out(nprobe - 1)._1)) {
      val (sum, a, b) = heap.dequeue()
      out += ((sum, cellOf(a, b)))
      if (b + 1 < kh) heap.enqueue((d1(s1(a)) + d2(s2(b + 1)), a, b + 1))
      if (b == 0 && a + 1 < kh) heap.enqueue((d1(s1(a + 1)) + d2(s2(0)), a + 1, 0))
    }
    out.sortBy(x => (x._1, x._2)).take(nprobe).map(_._2).toArray
  }
}
