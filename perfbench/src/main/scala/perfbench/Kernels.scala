package perfbench

import graft.core.Simd

/**
 * Batch L2 kernel grid: one query against n candidates through
 * `Simd.l2Sq`, at the shapes of BASELINE.md's CPU batch-L2 table, printed
 * beside the reference's Apple M1 Pro NEON timings.
 */
object Kernels {
  /** (n, dim, reference µs on the M1 Pro NEON path) */
  val Grid = Seq((64, 128, 4.0), (64, 768, 53.0), (128, 1536, 210.0),
    (256, 1536, 424.0), (512, 1536, 870.0), (1024, 768, 784.0))

  def key(n: Int, d: Int): String = s"core.l2_batch_us.n${n}_d$d"

  @volatile private var sink = 0f

  /** Median µs per batch over repeated timed rounds. */
  def measure(seed: Long, n: Int, d: Int): Double = {
    val r = Corpus.rng(seed, 50)
    val q = Array.fill(d)(r.nextDouble().toFloat)
    val cands = Array.fill(n * d)(r.nextDouble().toFloat)
    val out = new Array[Float](n)
    def batch(): Unit = {
      var i = 0
      while (i < n) { out(i) = Simd.l2Sq(q, 0, cands, i * d, d); i += 1 }
      sink += out(n - 1)
    }
    // enough batches per round that a round lasts about a millisecond
    val reps = math.max(1, 1000000 / (n * d))
    (0 until 200).foreach(_ => batch())
    val rounds = (0 until 60).map { _ =>
      val t0 = System.nanoTime()
      var j = 0
      while (j < reps) { batch(); j += 1 }
      (System.nanoTime() - t0) / 1e3 / reps
    }
    Stats.median(rounds)
  }
}
