package replaybench

/** Order statistics as the benchmark reports them. */
object Stats {

  /** Samples that must lie beyond a reported tail value. */
  val TailBeyond = 10

  /** Linearly interpolated quantile `q` in [0, 1] of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A tail value, the percentile it sits at, and the sample it came from. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** The highest percentile with at least [[TailBeyond]] samples beyond it:
    * the sorted sample at rank n - 1 - TailBeyond. None while that rank
    * would not lie above the median, since such a "tail" says nothing the
    * median does not. */
  def tail(xs: Seq[Double]): Option[Tail] = {
    val n = xs.size
    val rank = n - 1 - TailBeyond
    if (rank <= (n - 1) / 2) None
    else Some(Tail(xs.sorted.apply(rank), 100.0 * (rank + 1) / n, n))
  }
}
