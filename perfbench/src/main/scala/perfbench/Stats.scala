package perfbench

/** Percentiles with their sample counts. */
object Stats {

  /** Linear-interpolation percentile (`p` in [0, 100]) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Geometric mean of a non-empty sample of positive values: the typical
    * latency of a mix of ops whose latencies differ by orders of magnitude,
    * which every op moves in proportion to its own change.
    */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geometric mean of an empty sample")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** A latency sample summarised as its median and p90, with the number of
    * samples and how many lie above the p90 (a percentile with fewer than
    * ten samples beyond it is a rough estimate).
    */
  final case class Summary(n: Int, p50: Double, p90: Double, beyondP90: Int) {
    def toMap: Map[String, Any] =
      Map("n" -> n, "p50" -> p50, "p90" -> p90, "beyond_p90" -> beyondP90)
  }

  def summary(xs: Seq[Double]): Summary = {
    val p90 = percentile(xs, 90)
    Summary(xs.size, median(xs), p90, xs.count(_ > p90))
  }
}
