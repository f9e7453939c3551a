package perfbench

/** A tail value: the highest percentile that has at least `Stats.Beyond`
  * samples above it, with that percentile and the sample count. */
final case class Tail(value: Double, percentile: Double, samples: Int)

object Stats {
  val Beyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Sorted ascending, the sample with exactly `Beyond` samples above it
    * sits at rank n-1-Beyond; its percentile is the share at or below it.
    * Below 2·Beyond+1 samples that rank falls at or under the median, so
    * the nearest-rank p90 stands in (rank ⌈0.9·n⌉-1): still a tail, and
    * steadier than the maximum, which one stall decides. */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    val rank = if (n > 2 * Beyond) n - 1 - Beyond else math.ceil(0.9 * n).toInt - 1
    Tail(s(rank), 100.0 * (rank + 1) / n, n)
  }
}
