package perfbench

/** The summary statistics every workload reports. */
object Stats {

  /** Nearest-rank percentile: the smallest sample such that at least
    * `p` percent of the samples are at or below it. Always a measured
    * value, never an interpolation.
    */
  def nearestRank(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val sorted = xs.sorted
    sorted(rank(sorted.size, p) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Samples strictly above the nearest-rank `p` percentile. A tail
    * percentile is only trusted when at least 10 samples lie beyond it
    * (1,000 samples for a p99).
    */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** Conventional median (mean of the middle pair for even counts). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Total length covered by a set of half-open intervals, overlaps
    * counted once: the busy time of concurrent jobs.
    */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Length of the union of `intervals` clipped to `[from, to)`. */
  def unionWithin(intervals: Seq[(Long, Long)], from: Long, to: Long): Long =
    unionLength(intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) })
}
