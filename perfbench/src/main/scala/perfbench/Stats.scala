package perfbench

/** Order statistics for the end-to-end latency metrics. */
object Stats {

  /** Median of a non-empty sample (mean of the middle pair when even). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank index (1-based) of quantile `q` in a sample of `n`:
    * ceil(q·n), with a guard so 0.9·100 rounds to 90 rather than 91. */
  def rank(q: Double, n: Int): Int =
    math.max(1, math.ceil(q * n - 1e-9).toInt)

  /** Samples that lie beyond the nearest-rank `q` quantile. */
  def samplesBeyond(q: Double, n: Int): Int = n - rank(q, n)

  /** The minimum tail a percentile needs before it is reported: a p90 of
    * 30 requests is the 3rd-slowest request, not a distribution fact. */
  val MinTail = 10

  /** Nearest-rank quantile, or None when fewer than [[MinTail]] samples
    * lie beyond it (p90 therefore needs at least 100 samples). */
  def tailQuantile(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.isEmpty || samplesBeyond(q, xs.length) < MinTail) None
    else Some(xs.sorted.apply(rank(q, xs.length) - 1))
}
