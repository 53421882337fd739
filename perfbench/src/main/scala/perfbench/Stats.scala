package perfbench

/** Percentiles under the benchmark's sample rule: a percentile is
  * reported only when at least [[MinBeyond]] samples lie beyond it, so
  * a tail figure is never read off a handful of points.
  */
object Stats {

  val MinBeyond = 10

  /** Samples strictly above the nearest-rank `q`-percentile of `n`. */
  def beyond(n: Int, q: Double): Int = n - rank(n, q)

  /** 1-based nearest rank of the `q`-quantile (0 < q < 1). */
  def rank(n: Int, q: Double): Int = math.max(1, math.ceil(q * n - 1e-9).toInt)

  /** The nearest-rank `q`-percentile, or None when fewer than
    * [[MinBeyond]] samples lie beyond it.
    */
  def percentile(xs: Seq[Double], q: Double): Option[Double] = {
    require(q > 0 && q < 1, s"quantile $q outside (0, 1)")
    if (xs.isEmpty || beyond(xs.size, q) < MinBeyond) None
    else Some(xs.sorted.apply(rank(xs.size, q) - 1))
  }

  /** The highest of `qs` that the sample count supports. */
  def highestTail(xs: Seq[Double], qs: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.5)): Option[(Double, Double)] =
    qs.sorted.reverse.iterator.flatMap(q => percentile(xs, q).map(q -> _)).nextOption()

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
