package pipebench

/** Summary statistics for the benchmark's samples.
  *
  * Percentiles use the nearest-rank definition: the p-th percentile of n
  * sorted samples is the sample at rank ceil(p/100 * n). The samples
  * "beyond" it are the n - rank samples ranked above it.
  */
object Stats {

  /** Candidate tail percentiles, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples a reported tail must have beyond it. */
  val MinBeyond = 10

  final case class Tail(percentile: Double, value: Double, n: Int, beyond: Int)

  def rank(n: Int, p: Double): Int = {
    require(n > 0, "rank of an empty sample")
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))
  }

  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(rank(s.length, p) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest ladder percentile that still has at least
    * [[MinBeyond]] samples ranked above it; None when the sample is too
    * small for any (fewer than 20 samples).
    */
  def tail(xs: Seq[Double], minBeyond: Int = MinBeyond): Option[Tail] =
    if (xs.isEmpty) None
    else TailLadder.find(p => beyond(xs.length, p) >= minBeyond)
      .map(p => Tail(p, percentile(xs, p), xs.length, beyond(xs.length, p)))
}
