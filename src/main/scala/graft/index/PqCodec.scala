package graft.index

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import graft.core.{Simd, VectorOps}

/**
 * Product quantization (Jégou et al., "Product Quantization for Nearest
 * Neighbor Search", TPAMI 2011) — the `PQ<m>` family of the reference's
 * FAISS index_factory passthrough (src/faiss_index.cpp:39-60):
 * the vector splits into `m` subspaces of `dim/m` dims, each quantized to
 * one of `k`=256 centroids (one byte per subspace), so a vector stores in
 * `m` bytes instead of `4·dim` — 32× compression at m=8, dim=64.
 *
 * Search uses ADC (asymmetric distance computation): one `m×k` lookup
 * table of query-to-centroid partial distances per query, then every
 * code's distance is `m` table lookups — additive over subspaces for both
 * squared L2 and (negated) inner product.
 */
object PqCodec {

  /** centroids(s)(c) = centroid c of subspace s, length dsub. */
  final case class Codebook(m: Int, dsub: Int, k: Int,
      centroids: Array[Array[Array[Float]]]) extends Serializable {
    def dim: Int = m * dsub
  }

  val DefaultK = 256 // one byte per subspace code

  /** Train per-subspace codebooks with k-means over the sample. */
  def train(samples: Array[Array[Float]], m: Int, k: Int = DefaultK): Codebook = {
    require(samples.nonEmpty, "pq training requires a non-empty sample")
    val dim = samples(0).length
    require(m > 0 && dim % m == 0, s"pq requires dim % m == 0 (dim=$dim, m=$m)")
    val dsub = dim / m
    val kk = math.min(k, samples.length)
    // the m subspace trainings are fully independent — run them in parallel
    // (each slot writes only its own entry; results are order-independent)
    val cents = new Array[Array[Array[Float]]](m)
    graft.core.ParChunks.tasks(m) { s =>
      val subs = samples.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      // no balance pass: codeword usage skew is natural and harmless here —
      // the cap exists for IVF partition/probe skew, not codebooks
      cents(s) = KMeansLite.train(subs, kk, capFactor = Double.PositiveInfinity)
    }
    Codebook(m, dsub, kk, cents)
  }

  /** Codebook seeded VERBATIM from the given vectors' subvectors:
   *  centroids(s)(c) = seeds(c)[s·dsub, (s+1)·dsub). No training — fully
   *  deterministic and replayable in plain SQL (list slices of the seed
   *  rows), which is what lets the ADC ranking be bit-oracled against
   *  DuckDB (`ann_pq_exact` / `ann_ivfpq_exact`). Quality is below a
   *  trained codebook; this is the oracle/testing route, not the default. */
  def fromSeeds(seeds: Array[Array[Float]], m: Int): Codebook = {
    require(seeds.nonEmpty, "pq seeding requires a non-empty seed set")
    val dim = seeds(0).length
    require(m > 0 && dim % m == 0, s"pq requires dim % m == 0 (dim=$dim, m=$m)")
    val dsub = dim / m
    val cents = Array.tabulate(m, seeds.length) { (s, c) =>
      java.util.Arrays.copyOfRange(seeds(c), s * dsub, (s + 1) * dsub)
    }
    Codebook(m, dsub, seeds.length, cents)
  }

  /** Encode one vector to its m-byte code (nearest centroid per subspace). */
  def encode(cb: Codebook, v: Array[Float]): Array[Byte] = {
    require(v.length == cb.dim, s"vector dim ${v.length} != pq dim ${cb.dim}")
    val code = new Array[Byte](cb.m)
    var s = 0
    while (s < cb.m) {
      val cs = cb.centroids(s)
      var best = 0; var bestD = Float.MaxValue
      var c = 0
      while (c < cs.length) {
        val d = Simd.l2Sq(v, s * cb.dsub, cs(c), 0, cb.dsub)
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      code(s) = best.toByte
      s += 1
    }
    code
  }

  /** ADC lookup table for a query, flattened [s·k + c]: squared-L2 partials
   *  for L2, negated-dot partials for IP/cosine (lower = closer). */
  def lut(cb: Codebook, q: Array[Float], l2: Boolean): Array[Float] = {
    require(q.length == cb.dim, s"query dim ${q.length} != pq dim ${cb.dim}")
    val t = new Array[Float](cb.m * cb.k)
    var s = 0
    while (s < cb.m) {
      val cs = cb.centroids(s)
      var c = 0
      while (c < cs.length) {
        t(s * cb.k + c) =
          if (l2) Simd.l2Sq(q, s * cb.dsub, cs(c), 0, cb.dsub)
          else -Simd.dot(q, s * cb.dsub, cs(c), 0, cb.dsub)
        c += 1
      }
      s += 1
    }
    t
  }

  /** ADC table and additive offset for residual (IVF-PQ) codes of the cell
   *  with centroid `c` — the one per-probe table every ADC route builds.
   *  L2 takes the table of the residual q − c with offset 0; IP/cosine split
   *  ⟨q, c + r⟩, so the query's own table `qLut` (= `lut(cb, q, l2 = false)`,
   *  shared by every cell) serves with offset −dot(q, c). */
  def residualLut(cb: Codebook, q: Array[Float], c: Array[Float], l2: Boolean,
      qLut: => Array[Float]): (Array[Float], Float) =
    if (l2) (lut(cb, residual(q, c), l2 = true), 0.0f)
    else (qLut, -VectorOps.dot(q, c))

  /** v − c: the residual an IVF-PQ code quantizes against its centroid. */
  def residual(v: Array[Float], c: Array[Float]): Array[Float] = {
    val r = new Array[Float](v.length)
    var i = 0
    while (i < r.length) { r(i) = v(i) - c(i); i += 1 }
    r
  }

  /** ADC distance of one code against a query's lookup table. */
  def adc(table: Array[Float], k: Int, code: Array[Byte]): Float = {
    var d = 0.0f
    var s = 0
    while (s < code.length) {
      d += table(s * k + (code(s) & 0xff))
      s += 1
    }
    d
  }

  /** Decoded (reconstructed) vector for diagnostics/tests. */
  def decode(cb: Codebook, code: Array[Byte]): Array[Float] = {
    val out = new Array[Float](cb.dim)
    var s = 0
    while (s < cb.m) {
      System.arraycopy(cb.centroids(s)(code(s) & 0xff), 0, out, s * cb.dsub, cb.dsub)
      s += 1
    }
    out
  }

  /** An IVF-PQ row's reconstruction: decoded residual + its centroid `c`. */
  def decodeResidual(cb: Codebook, code: Array[Byte], c: Array[Float]): Array[Float] = {
    val r = decode(cb, code)
    var i = 0
    while (i < r.length) { r(i) += c(i); i += 1 }
    r
  }

  // ---- codebook file: [m u32][dsub u32][k u32][f32 × m·k·dsub] LE ----

  def write(path: String, cb: Codebook): Unit = {
    val bb = ByteBuffer.allocate(12 + cb.m * cb.k * cb.dsub * 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(cb.m); bb.putInt(cb.dsub); bb.putInt(cb.k)
    for (s <- 0 until cb.m; c <- 0 until cb.k) cb.centroids(s)(c).foreach(bb.putFloat)
    Files.write(Paths.get(path), bb.array())
  }

  def read(path: String): Codebook = {
    val bb = ByteBuffer.wrap(Files.readAllBytes(Paths.get(path)))
      .order(ByteOrder.LITTLE_ENDIAN)
    val m = bb.getInt; val dsub = bb.getInt; val k = bb.getInt
    val cents = Array.fill(m, k) {
      val c = new Array[Float](dsub)
      var d = 0
      while (d < dsub) { c(d) = bb.getFloat; d += 1 }
      c
    }
    Codebook(m, dsub, k, cents)
  }
}
