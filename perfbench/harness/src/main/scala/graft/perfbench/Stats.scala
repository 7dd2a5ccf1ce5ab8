package graft.perfbench

/** Summary statistics the benchmark reports. */
object Stats {

  /** Samples that must lie beyond a reported percentile. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank `p`-quantile (0 < p < 1), only when at least
    * [[MinBeyond]] samples lie strictly beyond its rank; None when the
    * sample is too small to support that percentile.
    */
  def tailPercentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile $p out of (0, 1)")
    val n = xs.length
    val rank = math.ceil(p * n).toInt
    if (n == 0 || n - rank < MinBeyond) None
    else Some(xs.sorted.apply(rank - 1))
  }

  /** Total length of the union of closed intervals [start, end]. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Time inside [spanStart, spanEnd] covered by no job interval: the
    * driver's own time between and around jobs. Jobs may overlap (the
    * program runs independent jobs concurrently), so the covered part
    * is the UNION of the clipped job intervals, never their sum.
    */
  def driverGap(spanStart: Long, spanEnd: Long,
      jobs: Seq[(Long, Long)]): Long = {
    val clipped = jobs.map { case (s, e) =>
      (math.max(s, spanStart), math.min(e, spanEnd)) }
    (spanEnd - spanStart) - unionLength(clipped)
  }
}
