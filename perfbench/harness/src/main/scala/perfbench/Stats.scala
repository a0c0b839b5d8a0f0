package perfbench

/** Small numeric helpers shared by the workloads and the run record. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Geometric mean of strictly positive values. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geomean of an empty sample")
    require(xs.forall(_ > 0), s"geomean needs positive values: $xs")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** Total length covered by the union of the half-open intervals
    * `[start, end)`, clipped to `[lo, hi)`. Overlapping and nested
    * intervals count once; empty or inverted ones count zero. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
