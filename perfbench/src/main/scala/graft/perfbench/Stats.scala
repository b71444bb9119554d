package graft.perfbench

/** Order statistics the benchmark reports. */
object Stats {

  /** Nearest-rank value at quantile `q` of unsorted samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val rank = math.ceil(q * s.size - 1e-9).toInt.max(1).min(s.size)
    s(rank - 1)
  }

  /** Median with the two middle samples averaged for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Candidate tail percentiles, highest first. */
  val TailPercentiles: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  /** The highest percentile in [[TailPercentiles]] that leaves at least
    * ten samples above it, with its value. A run with fewer samples than
    * any candidate allows reports its maximum, labelled 100.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    TailPercentiles.find(p => n - math.ceil(p / 100.0 * n - 1e-9).toInt >= 10) match {
      case Some(p) => (p, quantile(xs, p / 100.0))
      case None    => (100.0, xs.max)
    }
  }

  /** Total length of the union of half-open intervals `[start, end)`. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}
