package graft.core

/**
 * PCA pre-transform for the FAISS `index_factory` chain form
 * `PCA<d>,<index>` (FAISS PCAMatrix / IndexPreTransform analog): fit a
 * centered covariance eigenbasis on a deterministic sample, store the top-d
 * row-eigenvector matrix + mean, and map every stored vector and every
 * query through `y = R·(x − mean)` — search then runs entirely in the
 * d-dim transformed space. At d = dim the map is a pure rotation, so L2
 * distances (differences cancel the centering) are preserved exactly up to
 * float rounding — which is what lets `ann_pca_exact` value-oracle the
 * whole pipeline against the untransformed exact top-k. At d < dim this is
 * the standard variance-optimal lossy projection; its quality is
 * recall-gated, not value-oracled.
 *
 * Eigendecomposition is a cyclic Jacobi sweep over the symmetric
 * covariance matrix — O(dim³) per sweep with guaranteed convergence on
 * symmetric input, deterministic (no random init), dependency-free, and
 * easily fast enough for embedding dims (64–4096) on the driver.
 */
object PcaCodec {

  /** Fitted transform: `rows` eigenvectors (each length inputDim, ordered
   *  by descending eigenvalue) + the training mean. */
  final case class Pca(rotation: Array[Array[Float]], mean: Array[Float]) {
    def outDim: Int = rotation.length
    def inputDim: Int = mean.length

    /** y = R · (x − mean), double accumulation per output coordinate. */
    def transform(x: Array[Float]): Array[Float] = {
      val out = new Array[Float](rotation.length)
      var r = 0
      while (r < rotation.length) {
        val row = rotation(r)
        var s = 0.0
        var i = 0
        while (i < row.length) { s += row(i).toDouble * (x(i) - mean(i)).toDouble; i += 1 }
        out(r) = s.toFloat
        r += 1
      }
      out
    }

    /** x̂ = Rᵀ · y + mean — the FAISS PCAMatrix reverse_transform, valid
     *  when the rows are orthonormal (plain/PCAR/OPQ-chain rotations; at
     *  outDim < inputDim the transpose is the minimum-norm pseudo-inverse,
     *  exactly FAISS's choice). Whitened ("w") rotations are NOT
     *  orthonormal — callers must reject those (Ann.reconstruct does). */
    def inverseTransform(y: Array[Float]): Array[Float] = {
      val out = new Array[Float](inputDim)
      var i = 0
      while (i < inputDim) {
        var s = 0.0
        var r = 0
        while (r < rotation.length) { s += rotation(r)(i).toDouble * y(r).toDouble; r += 1 }
        out(i) = (s + mean(i)).toFloat
        i += 1
      }
      out
    }
  }

  /** Fit on `sample` (each row length dim), keeping the top `outDim`
   *  components. `variant` selects the FAISS PCAMatrix flavor (all three
   *  FOLD into the stored rotation matrix, so pca.bin's format and every
   *  serving surface are identical across variants):
   *    ""  — plain PCA (factory `PCA<d>`): rows are unit eigenvectors.
   *    "r" — PCAR (faiss `PCAR<d>`, random_rotation_after_PCA): compose a
   *          deterministic random orthonormal Q (outDim×outDim) onto the
   *          eigenbasis; Q·R is still orthonormal-rowed, so at
   *          outDim == dim the map stays a pure rotation (L2-exact).
   *    "w" — PCAW (faiss `PCAW<d>`, eigen_power = -0.5 whitening): scale
   *          row i by 1/sqrt(max(λ_i, ε)); distances become Mahalanobis —
   *          NOT L2-preserving at any dim (rangeSearch rejects these).
   *  Deterministic for a deterministic sample. */
  def fit(sample: Array[Array[Float]], outDim: Int, variant: String = ""): Pca = {
    val n = sample.length
    require(n >= 2, s"PCA needs at least 2 sample rows (got $n)")
    val dim = sample(0).length
    require(outDim >= 1 && outDim <= dim, s"PCA outDim $outDim not in [1, $dim]")
    val mean = new Array[Double](dim)
    sample.foreach { v =>
      var i = 0
      while (i < dim) { mean(i) += v(i); i += 1 }
    }
    var i = 0
    while (i < dim) { mean(i) /= n; i += 1 }
    // covariance (upper triangle, symmetrized)
    val cov = Array.ofDim[Double](dim, dim)
    sample.foreach { v =>
      var a = 0
      while (a < dim) {
        val da = v(a) - mean(a)
        var b = a
        while (b < dim) { cov(a)(b) += da * (v(b) - mean(b)); b += 1 }
        a += 1
      }
    }
    var a = 0
    while (a < dim) {
      var b = a
      while (b < dim) {
        cov(a)(b) /= (n - 1)
        cov(b)(a) = cov(a)(b)
        b += 1
      }
      a += 1
    }
    val (values, vectors) = jacobiEigen(cov)
    // order components by descending eigenvalue; deterministic tiebreak on
    // the original column index
    val order = values.indices.sortBy(j => (-values(j), j)).take(outDim)
    val rotD: Array[Array[Double]] = order.map { j =>
      val col = Array.tabulate(dim)(r => vectors(r)(j))
      // sign convention: make the largest-|component| coordinate positive so
      // the fitted basis is unique (eigenvectors are sign-ambiguous)
      var mi = 0
      var mv = 0.0
      var r = 0
      while (r < dim) { if (math.abs(col(r)) > mv) { mv = math.abs(col(r)); mi = r }; r += 1 }
      val s = if (col(mi) < 0) -1.0 else 1.0
      col.map(_ * s)
    }.toArray
    val folded: Array[Array[Double]] = variant match {
      case "" => rotD
      case "w" =>
        // whitening scale 1/sqrt(λ) per component, ε-floored like FAISS's
        // PCAMatrix epsilon so a zero-variance direction cannot divide by 0
        val eigs = order.map(values(_)).toArray
        Array.tabulate(outDim) { i =>
          val s = 1.0 / math.sqrt(math.max(eigs(i), 1e-12))
          rotD(i).map(_ * s)
        }
      case "r" =>
        // Q·R with Q a fixed-seed Gaussian matrix orthonormalized by
        // classical Gram-Schmidt in double — deterministic on any host
        val rnd = new java.util.Random(0x9E3779B97F4A7C15L ^
          (outDim.toLong * 1000003L + dim))
        val q = VectorOps.orthonormalizeRows(
          Array.fill(outDim, outDim)(rnd.nextGaussian()))
        Array.tabulate(outDim) { i =>
          val row = new Array[Double](dim)
          var c = 0
          while (c < dim) {
            var s = 0.0
            var k = 0
            while (k < outDim) { s += q(i)(k) * rotD(k)(c); k += 1 }
            row(c) = s
            c += 1
          }
          row
        }
      case other => throw new IllegalArgumentException(
        s"unknown PCA variant '$other' (supported: \"\", \"r\", \"w\")")
    }
    Pca(folded.map(_.map(_.toFloat)), mean.map(_.toFloat))
  }

  /** pca.bin layout (little-endian): outDim, inputDim, mean floats,
   *  rotation rows (outDim × inputDim floats). */
  def write(path: String, pca: Pca): Unit = {
    val bb = java.nio.ByteBuffer
      .allocate(8 + 4 * pca.inputDim * (1 + pca.outDim))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(pca.outDim).putInt(pca.inputDim)
    pca.mean.foreach(bb.putFloat)
    pca.rotation.foreach(_.foreach(bb.putFloat))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bb.array())
  }

  def read(path: String): Pca = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val outDim = bb.getInt
    val inputDim = bb.getInt
    val mean = Array.fill(inputDim)(bb.getFloat)
    val rot = Array.fill(outDim)(Array.fill(inputDim)(bb.getFloat))
    Pca(rot, mean)
  }

  /** path → ((mtime, size), transform), process-wide — a PCA is frozen at
   *  build time (vacuum rewrites parquet, never the transform), but a
   *  same-name rebuild in the same JVM rewrites pca.bin at the same path;
   *  fingerprinting the file keeps serving from transforming queries with a
   *  stale rotation/mean after such a rebuild (the path + length + mtime
   *  guard of the driver's `BaseRows` cache), and the new read REPLACES the old
   *  entry, so repeated rebuilds hold one transform per path (the
   *  coarse-graph caches' rule, Ann.coarseGraphCache). Serving must not
   *  re-read 16 KB per query, so the hit path is one stat, not one read. */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), Pca)]()
  def cached(path: String): Pca = {
    val p = java.nio.file.Paths.get(path)
    val fp = (java.nio.file.Files.getLastModifiedTime(p).toMillis, java.nio.file.Files.size(p))
    cache.compute(path, (_, old) =>
      if (old != null && old._1 == fp) old else (fp, read(path)))._2
  }

  /** Number of cached transforms (one per index path). */
  private[graft] def cachedCount: Int = cache.size

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix. Returns
   *  (eigenvalues, eigenvector matrix with vectors as COLUMNS). */
  private def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    val maxSweeps = 64
    var off = offDiag(a)
    val tol = 1e-14 * math.max(1.0, frob(a))
    while (off > tol && sweep < maxSweeps) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
              case s => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < n) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }

  private def frob(a: Array[Array[Double]]): Double = {
    var s = 0.0
    a.foreach(_.foreach(x => s += x * x))
    math.sqrt(s)
  }
}
