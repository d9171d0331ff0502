package perfbench

/** Order statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Percentiles a timing may be reported at, beyond the median. */
  val TailPercentiles: Seq[Double] = Seq(0.5, 0.9, 0.99, 0.999)

  /** Samples a reported percentile must have beyond it. */
  val TailBeyond = 10

  /** The highest percentile that has at least `TailBeyond` samples above
    * it, with its value (nearest-rank), or None when even the median has
    * fewer than `TailBeyond` samples beyond it. */
  def tailPercentile(xs: Seq[Double]): Option[(Double, Double)] = {
    val n = xs.length
    TailPercentiles.filter(p => n * (1 - p) >= TailBeyond - 1e-9).lastOption.map { p =>
      val s = xs.sorted
      val rank = math.max(1, math.ceil(p * n).toInt)
      p -> s(rank - 1)
    }
  }

  /** Total length of the union of closed intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Length of `window` that the intervals cover. */
  def coveredWithin(window: (Long, Long), intervals: Seq[(Long, Long)]): Long =
    unionLength(intervals.map { case (a, b) =>
      (math.max(a, window._1), math.min(b, window._2)) })
}
