package perfbench

/** Order statistics for timing samples.
  *
  * Percentiles are nearest-rank: the p-th percentile of n sorted samples
  * is the sample at rank ceil(p/100 * n). A tail percentile is only
  * reported where at least [[MinBeyond]] samples lie beyond it; with
  * fewer samples the tail falls back to the highest percentile that
  * still has them, and to the median when none does. */
object Stats {
  val MinBeyond = 10
  private val TailCandidates = Seq(99, 95, 90, 75, 50)

  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(math.max(rank, 1), s.size) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Samples strictly above rank ceil(p/100 * n). */
  def beyond(n: Int, p: Int): Int = n - math.ceil(p / 100.0 * n).toInt

  /** The percentile a tail metric aiming at `target` may report for n
    * samples: the highest candidate <= target with >= MinBeyond samples
    * beyond it, else 50. */
  def tailPercentile(n: Int, target: Int): Int =
    TailCandidates.filter(_ <= target).find(p => beyond(n, p) >= MinBeyond)
      .getOrElse(50)

  /** (value, percentile used) for a tail metric aiming at `target`. */
  def tail(xs: Seq[Double], target: Int): (Double, Int) = {
    val p = tailPercentile(xs.size, target)
    (percentile(xs, p), p)
  }
}
