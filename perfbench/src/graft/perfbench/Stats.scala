package graft.perfbench

/** Order statistics for timing samples. */
object Stats {

  /** Linear-interpolation quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Percentile ladder the tail rule picks from. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** A tail percentile with the sample count it rests on. */
  final case class Tail(percentile: Double, value: Double, beyond: Int, n: Int) {
    def label: String = {
      val p = if (percentile == percentile.floor) f"$percentile%.0f" else percentile.toString
      s"p$p"
    }
  }

  /** The highest ladder percentile that still has at least `minBeyond`
    * samples strictly above it; None when even the median has fewer. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] =
    if (xs.isEmpty) None
    else Ladder.reverse.iterator.map { p =>
      val v = quantile(xs, p / 100.0)
      Tail(p, v, xs.count(_ > v), xs.size)
    }.find(_.beyond >= minBeyond)

  /** "median 1.234 s, p90 2.345 s (n=57)" — the rule's human form. */
  def describe(xs: Seq[Double], unit: String): String =
    if (xs.isEmpty) "n=0"
    else {
      val t = tail(xs).map(t => f", ${t.label} ${t.value}%.4f $unit").getOrElse(", no tail percentile has 10 samples beyond it")
      f"median ${median(xs)}%.4f $unit$t (n=${xs.size})"
    }
}
