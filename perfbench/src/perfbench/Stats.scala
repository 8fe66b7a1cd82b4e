package perfbench

/** Order statistics the benchmark reports. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]); NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest whole percentile that leaves at least ten samples above
    * it, with that percentile; the median when there are too few samples
    * for any higher one. */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val n = xs.size
    val p = if (n <= 20) 50
            else math.max(50, math.floor(100.0 * (n - 10) / n).toInt)
    (quantile(xs, p / 100.0), p)
  }
}
