package perfbench

/** Order statistics over per-op samples. Every percentile travels with the
 * number of samples it was taken from, so a p90 over 12 samples is never
 * mistaken for one over 1,000. */
object Stats {

  /** A percentile (or median) and its sample count. */
  final case class Pct(value: Double, n: Int)

  /** Linear-interpolation percentile (the "R-7" rule, numpy's default):
   * rank h = (n - 1) * q, interpolated between the two neighbouring order
   * statistics. `q` is a fraction in [0, 1]. Empty input has no percentile. */
  def percentile(xs: Seq[Double], q: Double): Pct = {
    require(q >= 0.0 && q <= 1.0, s"percentile fraction out of range: $q")
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toArray
    val h = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    Pct(s(lo) + (h - lo) * (s(hi) - s(lo)), s.length)
  }

  def median(xs: Seq[Double]): Pct = percentile(xs, 0.5)

  /** Max over median — 1.0 for perfectly even samples. */
  def skew(xs: Seq[Double]): Double = {
    val m = median(xs).value
    if (m <= 0.0) 1.0 else xs.max / m
  }
}
