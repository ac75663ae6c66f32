package perfbench

/** Order statistics over measured samples. */
object Stats {
  /** Nearest-rank percentile, `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt.max(1).min(s.size)
    s(rank - 1)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def p50OrZero(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}
