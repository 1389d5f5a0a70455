package perfbench

/** Order statistics over latency samples. */
object Stats {

  /** A percentile is reported only when at least this many samples lie
   *  strictly beyond it; below that a single outlier decides its value. */
  val MinBeyond = 10

  /** Nearest-rank percentile `p` (0 < p < 1) of `samples`, or None when
   *  fewer than [[MinBeyond]] samples lie beyond the rank. */
  def percentile(samples: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile must be in (0, 1): $p")
    val n = samples.length
    val rank = math.ceil(p * n).toInt // 1-based nearest rank
    if (n == 0 || n - rank < MinBeyond) None
    else Some(samples.sorted.apply(rank - 1))
  }

  def median(samples: Seq[Double]): Double = {
    require(samples.nonEmpty, "median of no samples")
    val s = samples.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
