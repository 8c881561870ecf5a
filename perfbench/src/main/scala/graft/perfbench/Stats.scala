package graft.perfbench

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Tail latency: the highest percentile of `xs` that still has at least
    * ten samples above it, but never below p90, so that a run with few
    * samples reports a fixed high percentile rather than one that slides
    * towards the median. Returns (value, percentile, samples above). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.size > 100) {
      val k = s.size - 11
      (s(k), math.floor(1000.0 * (k + 1) / s.size) / 10, 10)
    } else {
      val v = quantile(s, 0.9)
      (v, 90.0, s.count(_ > v))
    }
  }
}
