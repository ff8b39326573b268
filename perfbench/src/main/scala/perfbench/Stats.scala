package perfbench

/** Order statistics over a run's samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The tail: the highest whole percentile (50..99) that has at least
    * `beyond` samples above it. Returns (percentile, value, samples
    * beyond). With fewer than 2·beyond samples none qualifies and the
    * median is reported; the sample count states how thin the tail is.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): (Int, Double, Int) = {
    val n = xs.size
    val p = (99 to 50 by -1).find(p => n * (100 - p) / 100.0 >= beyond).getOrElse(50)
    (p, quantile(xs, p / 100.0), math.floor(n * (100 - p) / 100.0).toInt)
  }
}
