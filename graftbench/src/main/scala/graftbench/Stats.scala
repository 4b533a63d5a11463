package graftbench

/** Order statistics for the reported timings. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Percentiles the report may add beside the median. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** Samples strictly beyond the nearest-rank p-th percentile of n. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(n * p / 100.0).toInt

  /** The highest ladder percentile with at least ten samples beyond it,
    * or None when even the median has fewer than ten (n < 20).
    */
  def tailPercentile(n: Int): Option[Double] =
    Ladder.filter(p => beyond(n, p) >= 10).lastOption

  /** Nearest-rank p-th percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(s.length * p / 100.0).toInt - 1))
  }
}
