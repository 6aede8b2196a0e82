package graftbench

/** Summary statistics over latency samples. */
object Stats {

  /** A percentile reported with the sample count behind it. `q` is in
    * (0, 1); `beyond` is the number of samples strictly above the rank the
    * percentile sits at. */
  final case class Pct(q: Double, value: Double, n: Int, beyond: Int)

  /** Nearest-rank percentile: the smallest sample with at least `q·n`
    * samples at or below it. */
  def percentile(xs: Seq[Double], q: Double): Pct = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q > 0 && q < 1, s"percentile rank $q is not in (0, 1)")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(q * s.length).toInt)
    Pct(q, s(rank - 1), s.length, s.length - rank)
  }

  /** The percentile only when at least `minBeyond` samples lie beyond it —
    * a tail figure resting on fewer samples is noise, not a tail. */
  def supported(xs: Seq[Double], q: Double, minBeyond: Int = 10): Option[Pct] =
    if (xs.isEmpty) None
    else Some(percentile(xs, q)).filter(_.beyond >= minBeyond)

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5).value

  /** exp(mean(log x)): the central latency of a fixed mix of op kinds whose
    * latencies differ tenfold. A median over such a mix jumps from one kind
    * to its neighbour when their latencies shift by a few percent; this
    * moves smoothly with every op and weighs a change of any kind by its
    * share of the mix. */
  def geometricMean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}
