package perfbench

/** Order statistics over timing samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile p whose nearest-rank value still has at
    * least ten samples above it, as (p, value). None below 11 samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    val n = s.size
    (99 to 50 by -1).iterator.map { p =>
      val rank = math.ceil(p / 100.0 * n).toInt.max(1) // 1-based
      (p, rank)
    }.collectFirst { case (p, rank) if n - rank >= 10 => (p, s(rank - 1)) }
  }
}
