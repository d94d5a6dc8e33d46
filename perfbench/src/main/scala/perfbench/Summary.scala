package perfbench

/** Order statistics and ratios used by every workload's report. */
object Summary {

  /** Linear-interpolated quantile (the "R-7" rule numpy and Spark's
    * `percentile` use): `q` in [0, 1] over the sorted values. */
  def quantile(values: Seq[Double], q: Double): Double = {
    require(values.nonEmpty, "quantile of no values")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = values.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(values: Seq[Double]): Double = quantile(values, 0.5)

  /** The tail reading: the highest percentile that still has at least
    * `beyond` samples above it. With n sorted samples that is the
    * (beyond+1)-th largest, at percentile 100·(n−beyond)/n. Fewer than
    * beyond+1 samples leave no such percentile; the maximum is then
    * reported with the count of samples actually beyond it (zero). */
  final case class Tail(value: Double, percentile: Double, samplesBeyond: Int)

  def tail(values: Seq[Double], beyond: Int = 10): Tail = {
    require(values.nonEmpty, "tail of no values")
    val s = values.sorted
    val n = s.size
    if (n <= beyond) Tail(s.last, 100.0, 0)
    else Tail(s(n - beyond - 1), 100.0 * (n - beyond) / n, beyond)
  }

  /** `num / den`, refusing a zero or negative base instead of printing
    * an infinity that would read as a measurement. */
  def ratio(num: Double, den: Double): Double = {
    require(den > 0.0, s"ratio with base $den")
    num / den
  }

  /** Length of the union of closed intervals [start, end]. */
  def coveredLength(intervals: Seq[(Double, Double)]): Double = {
    val sorted = intervals.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    sorted.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Time inside [from, to] not covered by any of `intervals`. */
  def uncovered(from: Double, to: Double,
      intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals.map { case (a, b) =>
      (math.max(a, from), math.min(b, to)) }
    (to - from) - coveredLength(clipped)
  }
}
