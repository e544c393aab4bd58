package graft.perfbench

/** Order statistics and interval arithmetic shared by the summarizer. */
object Stats {

  /** Linear-interpolation percentile (the `numpy.percentile` default):
    * rank `p * (n - 1)` between the two closest order statistics.
    * `p` is a fraction in [0, 1]; an empty sample has no percentile.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0.0 && p <= 1.0, s"percentile fraction out of range: $p")
    val s = xs.sorted
    val h = p * (s.size - 1)
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    for ((a, b) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (curEnd.isNaN || a > curEnd) {
        if (!curEnd.isNaN) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (!curEnd.isNaN) total += curEnd - curStart
    total
  }

  /** Self time of a span: its duration minus the part of it that its
    * children cover (children are clipped to the parent's interval, and
    * overlapping children are counted once).
    */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)]): Double = {
    val clipped = children.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
    (end - start) - unionLength(clipped)
  }
}
