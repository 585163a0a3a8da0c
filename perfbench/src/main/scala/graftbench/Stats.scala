package graftbench

/** Summary statistics for latency samples.
  *
  * A timing is reported as a median plus a tail. The tail is the highest
  * percentile on a fixed ladder that has at least [[MinBeyond]] samples
  * strictly beyond it, so a short run reports a lower percentile instead
  * of a maximum made of one or two samples.
  */
object Stats {
  val MinBeyond = 10
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 65.0, 50.0)

  final case class Tail(percentile: Double, value: Double, samples: Int)

  /** Nearest-rank percentile of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(math.max(rank, 1), s.length) - 1)
  }

  /** Linear-interpolated median, so an even sample has no bias. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Samples at ranks above the nearest-rank position of `p`. */
  def beyond(n: Int, p: Double): Int =
    n - math.min(math.max(math.ceil(p / 100.0 * n).toInt, 1), n)

  /** The tail percentile: the highest ladder rung with at least
    * [[MinBeyond]] samples beyond it. Below 2 x MinBeyond samples no rung
    * qualifies and the median is reported as the tail; at the 50 rung the
    * tail is the median too, so it never reads below it.
    */
  def tail(xs: Seq[Double]): Tail = {
    val p = Ladder.find(beyond(xs.length, _) >= MinBeyond).getOrElse(50.0)
    Tail(p, if (p == 50.0) median(xs) else percentile(xs, p), xs.length)
  }
}
