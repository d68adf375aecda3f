package perfbench

/** Order statistics over every sample of a run: no best-of-N, no
  * discarding. Percentiles interpolate linearly between closest ranks (the
  * rule numpy and `statistics.quantiles(..., method="inclusive")` use), so
  * the 50th percentile is the median.
  */
object Stats {

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted
    val pos = p / 100 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Samples needed beyond a percentile before it is reported. */
  val MinTail = 10

  /** The highest of the usual tail percentiles that has at least
    * [[MinTail]] of `n` samples beyond it, or None when even the median
    * has fewer. */
  def supportedTail(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => n * (100 - p) / 100 + 1e-9 >= MinTail) // 100 - 99.9 is inexact
}
