package perfbench

/** Order statistics for latency samples. Pure; unit-tested. */
object Stats {

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A tail latency the sample supports: the highest percentile that still
    * has at least `beyond` samples strictly above its rank.
    * With n sorted samples the value at 0-based rank n-1-beyond has
    * exactly `beyond` samples after it; its percentile is rank / (n-1).
    * Returns None when n <= beyond (no percentile qualifies). */
  final case class Tail(value: Double, percentile: Double, n: Int, beyond: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val n = xs.size
    if (n <= beyond) None
    else {
      val s = xs.sorted
      val rank = n - 1 - beyond
      val pct = if (n == 1) 100.0 else 100.0 * rank / (n - 1)
      Some(Tail(s(rank), pct, n, beyond))
    }
  }
}
