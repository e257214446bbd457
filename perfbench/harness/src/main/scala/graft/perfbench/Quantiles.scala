package graft.perfbench

/** Order statistics for the benchmark's timings. */
object Quantiles {

  /** Linear-interpolated percentile `p` (0-100) of `xs`; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The percentile levels a tail may be reported at, lowest first. */
  val TailLadder: Seq[Double] = Seq(50, 75, 90, 95, 99)

  /** The highest ladder level with at least `minBeyond` of `n` samples
    * strictly above it, i.e. `n * (1 - p/100) >= minBeyond`; None when not
    * even the median qualifies.
    */
  def tailLevel(n: Int, minBeyond: Int = 10): Option[Double] =
    TailLadder.filter(p => n * (100 - p) / 100.0 >= minBeyond).lastOption

  /** A timing as reported: median, the tail at [[tailLevel]], and `n`. */
  final case class Summary(n: Int, p50: Double, tailLevel: Option[Double],
      tail: Double)

  def summarize(xs: Seq[Double]): Summary = {
    val lvl = tailLevel(xs.size)
    Summary(xs.size, median(xs), lvl,
      lvl.map(percentile(xs, _)).getOrElse(Double.NaN))
  }
}
