package graft.index

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Simd

/**
 * Pins the decomposed IMI probe-selection convention
 * ([[KMeansLite.nearestPImi]], the FAISS multi-sequence analog): the probe
 * set must equal a full (fl(d1+d2), cellId) sort over the product table at
 * EVERY nprobe — including boundaries that cut through tie groups — and
 * probe1 must be exactly the decomposed per-half argmin the stored
 * assignment ([[Coarse.assign]]) and the `ann_imi_probe1` oracle
 * compute. The reference comparator uses the DECOMPOSED float arithmetic
 * (two half-dim accumulations + one add), never full-dim accumulation:
 * mixing the two conventions can round a near-tie differently (956e6c7).
 */
class ImiProbeSpec extends AnyFunSuite {

  private def mkTable(b: Int, dim: Int, seed: Long)
      : (Array[Array[Float]], Array[Array[Float]], Array[Array[Float]]) = {
    val kh = 1 << b
    val half = dim / 2
    val rnd = new java.util.Random(seed)
    val cb1 = Array.fill(kh)(Array.fill(half)(rnd.nextGaussian().toFloat))
    val cb2 = Array.fill(kh)(Array.fill(half)(rnd.nextGaussian().toFloat))
    val cents = for (c1 <- cb1; c2 <- cb2) yield c1 ++ c2
    (cents, cb1, cb2)
  }

  /** Brute-force reference: decomposed float sums over all cells, sorted by
   *  (sum, cellId). */
  private def bruteProbes(cents: Array[Array[Float]], b: Int,
      q: Array[Float], p: Int): Array[Int] = {
    val kh = 1 << b
    val half = q.length / 2
    cents.indices.map { cell =>
      val i = cell / kh; val j = cell % kh
      val d1 = Simd.l2Sq(q, 0, cents(i * kh), 0, half)
      val d2 = Simd.l2Sq(q, half, cents(j), half, q.length - half)
      (d1 + d2, cell)
    }.sortBy(identity).take(math.min(p, cents.length)).map(_._2).toArray
  }

  test("probe list equals the full decomposed (sum, cell) sort at every nprobe") {
    val dim = 16
    for (b <- Seq(1, 2, 3, 4); seed <- Seq(1L, 7L, 42L)) {
      val (cents, _, _) = mkTable(b, dim, seed)
      val rnd = new java.util.Random(seed + 100)
      val q = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val nCells = cents.length
      for (p <- Seq(1, 2, 3, nCells / 2, nCells - 1, nCells)) {
        val got = KMeansLite.nearestPImi(cents, b, q, p)
        val want = bruteProbes(cents, b, q, p)
        assert(got.toSeq == want.toSeq,
          s"b=$b seed=$seed nprobe=$p: $got vs $want")
      }
    }
  }

  test("probe1 is the decomposed per-half argmin (the stored-assignment cell)") {
    val dim = 16
    val b = 3
    val (cents, cb1, cb2) = mkTable(b, dim, 5L)
    val rnd = new java.util.Random(99L)
    for (_ <- 0 until 20) {
      val q = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val half = dim / 2
      val a1 = KMeansLite.nearest(cb1, q.take(half))
      val a2 = KMeansLite.nearest(cb2, q.drop(half))
      val got = KMeansLite.nearestPImi(cents, b, q, 1)
      assert(got.toSeq == Seq(a1 * cb2.length + a2))
    }
  }

  test("saturation returns every cell exactly once") {
    val (cents, _, _) = mkTable(3, 16, 11L)
    val q = Array.fill(16)(0.25f)
    val got = KMeansLite.nearestPImi(cents, 3, q, cents.length)
    assert(got.length == cents.length)
    assert(got.toSet == cents.indices.toSet)
  }

  test("tie groups cut deterministically by cell id") {
    // a degenerate table where every centroid is identical: all sums tie,
    // so the probe set must be the first nprobe cell ids
    val b = 2
    val kh = 1 << b
    val row = Array.fill(8)(1.0f)
    val cents = Array.fill(kh * kh)(row.clone())
    val q = Array.fill(8)(0.0f)
    for (p <- Seq(1, 3, 7, 16)) {
      val got = KMeansLite.nearestPImi(cents, b, q, p)
      assert(got.toSeq == (0 until math.min(p, 16)).toSeq)
    }
  }
}
