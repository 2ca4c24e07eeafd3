package perfbench

/** Summary statistics for the latency samples of one run. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size - 1e-9).toInt - 1))
  }

  /** Tail percentiles a run may report, highest first. */
  val TailGrid: Seq[Double] = Seq(99.0, 90.0, 75.0, 50.0)

  /** The highest percentile on [[TailGrid]] that has at least ten samples
    * beyond it; a run with fewer than 20 samples reports its median. */
  def tailPercentile(n: Int): Double =
    TailGrid.find(p => n * (100.0 - p) / 100.0 >= 10.0 - 1e-9).getOrElse(50.0)
}
