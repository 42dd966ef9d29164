package perfbench

/** Order statistics used by the reported metrics. */
object Stats {

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples that must lie strictly above a reported tail percentile. */
  val TailBeyond = 10

  /** The tail rule: the highest percentile (a whole number from 50 to
    * 99) that still leaves at least [[TailBeyond]] samples strictly
    * beyond it, with its value and that sample count. A tail read from
    * fewer samples is an anecdote; None when even p50 has too few.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double, Int)] = {
    val s = xs.sorted
    (99 to 50 by -1).iterator.map { p =>
      val v = quantile(s, p / 100.0)
      (p, v, s.count(_ > v))
    }.find(_._3 >= TailBeyond)
  }
}
