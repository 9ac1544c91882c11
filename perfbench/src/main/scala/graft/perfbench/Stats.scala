package graft.perfbench

/** Order statistics for the report. */
object Stats {

  /** Percentiles a tail may be reported at, lowest first, in tenths of a
    * percent so the ten-sample rule is exact integer arithmetic. */
  val TailLadder: Seq[Int] = Seq(500, 750, 800, 900, 950, 990, 999)

  /** Linear-interpolated quantile (`q` in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail percentile for `n` samples: the highest ladder percentile
    * that leaves at least ten samples beyond it. Below twenty samples no
    * percentile above the median qualifies, and the median is reported. */
  def tailPercentile(n: Int): Double =
    TailLadder.filter(p => n.toLong * (1000 - p) >= 10000).lastOption.getOrElse(500) / 10.0

  /** (percentile, value, sample count) of the tail of `xs`. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val p = tailPercentile(xs.size)
    (p, quantile(xs, p / 100), xs.size)
  }

  /** Total length of the union of `[start, end)` intervals, each clipped to
    * `[lo, hi)`. */
  def unionLength(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
