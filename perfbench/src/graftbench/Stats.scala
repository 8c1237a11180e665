package graftbench

/** Order statistics over latency samples. */
object Stats {

  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The tail of a latency sample: the highest percentile at or above
    * the median with at least ten samples above it (the eleventh-largest
    * sample), and the percentile it sits at. Below 21 samples no
    * percentile above the median has ten samples beyond it, and the tail
    * is the median.
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size < 21) (median(xs), 50.0)
    else {
      val s = xs.sorted
      val i = s.size - 11
      (s(i), 100.0 * i / (s.size - 1))
    }
}
