package graft.perfbench

/** Order statistics over latency samples. */
object Stats {

  /** Linearly interpolated percentile (`q` in [0, 100]); 0 for no samples. */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = (s.length - 1) * q / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Iterable[Double]): Double = pct(xs, 50)

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** `num / den`, or 0 when there is nothing to divide by. */
  def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den
}
