package perfbench

/** Order statistics for latency samples. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile with at least ten samples beyond it, and its
    * name; the maximum when there are fewer than 11 samples.
    */
  def tail(xs: Seq[Double]): (Double, String) = {
    val n = xs.size
    if (n < 11) (quantile(xs, 1.0), "max")
    else {
      val p = (n - 10).toDouble / n
      (quantile(xs, p), f"p${100 * p}%.1f")
    }
  }
}
