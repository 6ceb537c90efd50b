package flowbench

/** Order statistics over measured samples. */
object Stats {

  /** Linearly interpolated percentile, `q` in [0, 100] (the
    * "linear" method of numpy and of Python's `statistics` inclusive
    * quantiles).
    */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q >= 0 && q <= 100, s"percentile out of range: $q")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.size - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of p99.9 / p99 / p90 that leaves at least ten samples
    * above it, or None when even p90 does not.
    */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.9, 99.0, 90.0).find(p => n * (100 - p) / 100 >= 10 - 1e-9)

  /** A timing's median and tail with its sample count. */
  final case class Summary(n: Int, p50: Double, tailAt: Option[Double],
      tail: Option[Double]) {
    def describe(unit: String): String = {
      val t = tailAt.zip(tail).map { case (p, v) =>
        f", p$p%s = $v%.3f $unit" }.getOrElse("")
      f"p50 = $p50%.3f $unit$t (n = $n)"
    }
  }

  def summarize(xs: Seq[Double]): Summary = {
    val at = tailPercentile(xs.size)
    Summary(xs.size, median(xs), at, at.map(percentile(xs, _)))
  }
}
