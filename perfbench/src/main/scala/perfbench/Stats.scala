package perfbench

/** Summary arithmetic shared by the workloads and checked by [[SelfTest]]. */
object Stats {

  /** Median with its sample count; the midpoint of the two middle values
    * for an even count. */
  def median(xs: Seq[Double]): (Double, Int) = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    (if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2, n)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Length of the union of half-open intervals `[a, b)` after clipping
    * each to `[lo, hi)`: the time at least one job of an op was running. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = 0L
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB != Long.MinValue) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB != Long.MinValue) total += curB - curA
    total
  }

  /** Op wall minus the time its jobs covered: driver-side work (planning,
    * eager collects, file listing) between and around the jobs. */
  def driverGap(opStart: Long, opEnd: Long, jobs: Seq[(Long, Long)]): Long =
    (opEnd - opStart) - unionLength(jobs, opStart, opEnd)
}
