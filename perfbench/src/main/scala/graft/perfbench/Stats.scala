package graft.perfbench

/** Order statistics used by every workload. Percentiles follow the
  * "exclusive" method of Python's `statistics.quantiles` (linear
  * interpolation at rank p·(n+1)), so a number printed here reads the
  * same as one recomputed from the samples in Python. */
object Stats {

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n == 1) return s.head
    val h = p * (n + 1) - 1 // zero-based fractional rank
    if (h <= 0) s.head
    else if (h >= n - 1) s.last
    else {
      val lo = math.floor(h).toInt
      s(lo) + (h - lo) * (s(lo + 1) - s(lo))
    }
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
