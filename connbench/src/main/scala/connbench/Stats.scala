package connbench

/** Order statistics and interval accounting used by the report. */
object Stats {

  /** Percentile by linear interpolation between the two closest ranks
    * (numpy's default, Python's `statistics.quantiles(method="inclusive")`).
    * With few samples it does not collapse onto the single largest one, as
    * the nearest rank does. Returns the value and how many samples lie
    * strictly above it.
    */
  def percentile(xs: Seq[Double], p: Double): (Double, Int) = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val sorted = xs.sorted
    val pos = p / 100.0 * (sorted.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, sorted.size - 1)
    val v = sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
    (v, sorted.count(_ > v))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Total length covered by the union of half-open intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
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

  /** Wall time of `[start, end)` that none of `spans` covers (each span is
    * clipped to the window first).
    */
  def unattributed(start: Long, end: Long, spans: Seq[(Long, Long)]): Long =
    (end - start) - covered(spans.map { case (a, b) => (math.max(a, start), math.min(b, end)) })
}
