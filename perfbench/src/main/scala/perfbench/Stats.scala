package perfbench

/** Order statistics used for every reported timing. */
object Stats {
  /** Nearest-rank percentile `p` (0 < p <= 100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size, math.max(1, rank)) - 1)
  }

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest of the candidate percentiles that still has at least
    * `beyond` samples above it in a sample of `n`; None when even the
    * lowest candidate does not. p90 needs n >= 100, p75 n >= 40. */
  def tailPercentile(n: Int, beyond: Int = 10,
                     candidates: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9)): Option[Double] =
    candidates.filter(p => n * (1 - p / 100.0) >= beyond - 1e-9).lastOption

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
