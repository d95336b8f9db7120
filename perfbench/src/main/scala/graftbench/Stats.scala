package graftbench

/** Order statistics for the benchmark's timings.
  *
  * A timing is reported as its median plus the highest percentile that
  * still has at least [[MinBeyond]] samples above it, together with the
  * sample count, so a tail figure never rests on one or two samples.
  */
object Stats {

  /** Samples a reported tail percentile must have beyond it. */
  val MinBeyond = 10

  /** Tail percentiles considered, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 90.0, 50.0)

  /** Median; the mean of the two middle samples when the count is even. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** 1-based nearest rank of percentile `p` in a sample of `n`. */
  def rank(p: Double, n: Int): Int = {
    require(p > 0.0 && p <= 100.0, s"percentile out of range: $p")
    require(n > 0, "rank in an empty sample")
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)
  }

  /** Nearest-rank percentile `p` of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double =
    xs.sorted.apply(rank(p, xs.size) - 1)

  /** The highest candidate percentile with at least [[MinBeyond]]
    * samples strictly beyond its rank, with its value; None when even the
    * median lacks them (fewer than 2 × MinBeyond samples).
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    TailCandidates.find(p => xs.size - rank(p, xs.size) >= MinBeyond)
      .map(p => p -> percentile(xs, p))

  /** A timing with its sample count: median and, when it exists, the
    * qualifying tail percentile.
    */
  final case class Timing(n: Int, p50: Double, tail: Option[(Double, Double)]) {
    def describe(unit: String): String = {
      val t = tail.filter(_._1 > 50.0).map { case (p, v) =>
        f", p${fmtP(p)}=$v%.4f $unit" }.getOrElse("")
      f"p50=$p50%.4f $unit$t (n=$n)"
    }
    private def fmtP(p: Double): String =
      if (p == p.floor) p.toLong.toString else p.toString
  }

  def timing(xs: Seq[Double]): Timing = Timing(xs.size, median(xs), tail(xs))
}
