package perfbench

/** Summary statistics over measured samples. */
object Stats {

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (the "inclusive" definition: p0 is the
    * minimum and p100 the maximum).
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of the usual reporting percentiles that leaves at least
    * `beyond` samples above it, or None when even the median cannot.
    */
  def supportedPercentile(n: Int, beyond: Int = 10): Option[Int] =
    Seq(99, 95, 90, 75, 50).find(p => n - math.ceil(n * p / 100.0) >= beyond)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Total length covered by a set of [start, end) intervals, counting
    * overlaps once.
    */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s
        curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Time inside [start, end) that no interval covers: for an operation and
    * its Spark jobs, the driver-side time between and around the jobs.
    */
  def gapLength(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(intervals.map { case (s, e) =>
      (math.max(s, start), math.min(e, end))
    })
}
