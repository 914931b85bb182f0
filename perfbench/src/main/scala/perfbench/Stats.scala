package perfbench

/** Order statistics for timing samples. */
object Stats {
  /** Nearest-rank percentile, `p` in [0, 1]: the smallest sample with at
    * least `p` of the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0.0 && p <= 1.0, s"percentile $p outside [0, 1]")
    val s = xs.sorted
    val rank = math.ceil(p * s.length).toInt
    s(math.max(0, rank - 1))
  }

  /** Middle value; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest of `candidates` that leaves at least `beyond` samples
    * strictly above its nearest rank, or None when even the lowest
    * candidate does not (a tail percentile read from fewer samples than
    * that is noise, not a measurement).
    */
  def tailPercentile(n: Int, beyond: Int = 10,
                     candidates: Seq[Double] = Seq(0.99, 0.95, 0.9, 0.75)): Option[Double] =
    candidates.sorted.reverse.find { p =>
      n - math.max(1, math.ceil(p * n).toInt) >= beyond
    }
}
