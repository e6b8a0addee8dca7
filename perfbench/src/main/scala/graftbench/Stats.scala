package graftbench

/** Summary statistics shared by every workload.
  *
  * Timings are reported as a median plus the highest percentile that
  * still has at least ten samples beyond it. A failed operation enters
  * every latency percentile as +∞, so failures can only make a latency
  * worse, never hide.
  */
object Stats {

  /** Percentiles a tail may be reported at, highest first. */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(p: Double, n: Int): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** The highest [[Ladder]] percentile with ≥ 10 samples beyond it. */
  def tailPercentile(n: Int): Option[Double] =
    Ladder.find(p => n - rank(p, n) >= 10)

  /** Nearest-rank percentile of unsorted samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    s(rank(p, s.size) - 1)
  }

  /** Median (mean of the middle pair for an even count). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    require(n > 0, "median of no samples")
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Latencies in seconds with failures as +∞. */
  def latencies(samples: Seq[(Double, Boolean)]): Seq[Double] =
    samples.map { case (sec, ok) => if (ok) sec else Double.PositiveInfinity }

  /** A reported number: name, value, unit and the samples behind it. */
  case class Metric(name: String, value: Double, unit: String, n: Int)
}
