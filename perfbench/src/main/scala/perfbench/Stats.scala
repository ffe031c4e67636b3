package perfbench

/** Order statistics over latency samples. */
object Stats {

  /** Linear-interpolation percentile (the "R-7" definition numpy and
    * spreadsheets use): rank `p * (n - 1)` into the sorted samples.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0.0 && p <= 1.0, s"percentile $p outside [0, 1]")
    val s = xs.sorted
    val rank = p * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Samples that lie strictly above the `p` rank. */
  def samplesBeyond(n: Int, p: Double): Int =
    n - (math.floor(p * (n - 1)).toInt + 1)

  /** A tail percentile is reported only when at least `minBeyond`
    * samples lie beyond it; with fewer, one slow op moves it by a whole
    * sample gap and run-to-run comparisons mean nothing.
    */
  def tailPercentile(xs: Seq[Double], p: Double,
                     minBeyond: Int = 10): Option[Double] =
    if (xs.nonEmpty && samplesBeyond(xs.size, p) >= minBeyond)
      Some(percentile(xs, p))
    else None
}
