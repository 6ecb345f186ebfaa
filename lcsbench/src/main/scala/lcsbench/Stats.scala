package lcsbench

/** Order statistics for the timed loop. */
object Stats {

  /** Percentile ladder the tail rule picks from. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0)

  /** Samples strictly beyond the `p`-th percentile of `n` samples: the
    * ranks above the nearest-rank position `ceil(n * p / 100)`. */
  def beyond(n: Int, p: Double): Int =
    n - math.ceil(n * p / 100.0 - 1e-9).toInt

  /** The highest ladder percentile with at least ten samples beyond it,
    * or None when `n` cannot support even the median (n < 20). */
  def tailPercentile(n: Int): Option[Double] =
    Ladder.filter(p => beyond(n, p) >= 10).lastOption

  /** Fewest samples that leave ten beyond the `p`-th percentile. */
  def minSamples(p: Double): Int = Iterator.from(1).find(n => beyond(n, p) >= 10).get

  /** Nearest-rank percentile of unsorted `xs` (non-empty). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(s.length * p / 100.0 - 1e-9).toInt)
    s(rank - 1)
  }

  /** Median with the usual midpoint for even counts. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  /** First-half versus second-half median of a time-ordered series:
    * (first, second, |second - first| / first). None below 4 samples. */
  def trend(xs: Seq[Double]): Option[(Double, Double, Double)] =
    if (xs.length < 4) None
    else {
      val (a, b) = xs.splitAt(xs.length / 2)
      val (ma, mb) = (median(a), median(b))
      Some((ma, mb, math.abs(mb - ma) / ma))
    }
}
