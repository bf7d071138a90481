package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p` % of
    * the samples at or below it. `p` is in (0, 100].
    */
  def percentile(samples: collection.Seq[Double], p: Double): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val sorted = samples.sorted
    sorted(rank(sorted.size, p) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Samples strictly beyond the nearest-rank `p` percentile. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The median, as the mean of the two middle samples for even counts. */
  def median(samples: collection.Seq[Double]): Double = {
    require(samples.nonEmpty, "median of no samples")
    val s = samples.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Percentiles a tail is read at, highest first. */
  val ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  /** The highest percentile of [[ladder]] that leaves at least ten
    * samples beyond it, if any does.
    */
  def tailPercentile(n: Int): Option[Double] =
    ladder.find(p => beyond(n, p) >= 10)

  /** A timing as reported: sample count, median, and the highest
    * percentile with ten samples beyond it (when `n` allows one).
    */
  final case class Summary(n: Int, median: Double,
      tail: Option[(Double, Double)]) {
    def render(unit: String): String = {
      val t = tail.fold("no tail percentile with 10 samples beyond it") { case (p, v) =>
        f"p${fmtP(p)}%s=$v%.4f $unit" }
      f"median=$median%.4f $unit, $t, n=$n"
    }
  }

  private def fmtP(p: Double): String =
    if (p == p.floor) p.toLong.toString else p.toString

  def summarize(samples: collection.Seq[Double]): Summary =
    Summary(samples.size, median(samples),
      tailPercentile(samples.size).map(p => p -> percentile(samples, p)))
}
