package perfbench

import java.util.SplittableRandom

/**
 * Seeded input generators. Every input a workload feeds the engine comes
 * from here, derived from the run's seed and a per-purpose stream number, so
 * the same seed gives the same corpus and queries.
 */
object Corpus {

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  private def gauss(r: SplittableRandom): Double = {
    // Marsaglia polar method; SplittableRandom has no nextGaussian on JDK 17
    var u = 0.0; var v = 0.0; var s = 0.0
    while ({ u = r.nextDouble() * 2 - 1; v = r.nextDouble() * 2 - 1; s = u * u + v * v
      s >= 1 || s == 0 }) ()
    u * math.sqrt(-2 * math.log(s) / s)
  }

  /** Clustered vectors: `clusters` Gaussian centers, members at unit-ish
   *  spread around them — the shape under which graph and IVF indexes
   *  behave as on real embeddings rather than on uniform noise. */
  final class Clustered(seed: Long, val dim: Int, clusters: Int) {
    private val centers = {
      val r = rng(seed, 1)
      Array.fill(clusters, dim)((gauss(r) * 4).toFloat)
    }
    def point(r: SplittableRandom): Array[Float] = {
      val c = centers(r.nextInt(centers.length))
      Array.tabulate(dim)(i => (c(i) + gauss(r)).toFloat)
    }
    def points(n: Int, stream: Long): Array[Array[Float]] = {
      val r = rng(seed, stream)
      Array.fill(n)(point(r))
    }
  }

  private val Stopwords = Array("the", "a", "of", "and", "is", "to", "in", "that", "it", "for")

  /** Pseudo-English vocabulary: distinct lowercase words of 3 to 9 letters. */
  def vocabulary(seed: Long, n: Int): Array[String] = {
    val r = rng(seed, 2)
    val out = new java.util.LinkedHashSet[String]()
    while (out.size < n) {
      val len = 3 + r.nextInt(7)
      out.add(new String(Array.fill(len)(('a' + r.nextInt(26)).toChar)))
    }
    out.toArray(new Array[String](0)).filterNot(Stopwords.contains)
  }

  /** `n` tokens, one in four a stopword, so the language and quality gates
   *  of the curation pipeline pass the document. */
  def words(r: SplittableRandom, vocab: Array[String], n: Int): Array[String] =
    Array.tabulate(n)(i =>
      if (i % 4 == 1) Stopwords(r.nextInt(Stopwords.length)) else vocab(r.nextInt(vocab.length)))

  /** Order-sensitive hash of a vector set (for the determinism test). */
  def hash(vs: Array[Array[Float]]): Long = {
    var h = 1125899906842597L
    vs.foreach(v => v.foreach(x => h = 31 * h + java.lang.Float.floatToIntBits(x)))
    h
  }

  def hashText(docs: Seq[(Long, String)]): Long =
    docs.foldLeft(1125899906842597L) { case (h, (id, t)) => 31 * (31 * h + id) + t.hashCode }
}
