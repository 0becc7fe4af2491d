package graft.perfbench

/** Order statistics used for every reported timing. Quantiles follow the
  * "exclusive" definition of Python's `statistics.quantiles` (its
  * default): position p·(n+1) on the sorted sample, linearly interpolated
  * between its neighbours (and extrapolated from the two end values when
  * the position falls outside the sample, exactly as Python does), so an
  * even sample's median is the mean of its two middle values rather than
  * the upper one. */
object Stats {

  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(p > 0 && p < 1, s"quantile p=$p outside (0, 1)")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n == 1) return s(0)
    val pos = p * (n + 1)
    val j = math.min(math.max(pos.toInt, 1), n - 1)
    s(j - 1) + (pos - j) * (s(j) - s(j - 1))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** (first quartile, third quartile). */
  def quartiles(xs: Seq[Double]): (Double, Double) =
    (quantile(xs, 0.25), quantile(xs, 0.75))

  /** Interquartile mean: the mean of the sample without its lowest and
    * highest quarter (⌊n/4⌋ values at each end). Unlike the median it does
    * not jump between the two modes of a bimodal sample as n changes. */
  def iqm(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "interquartile mean of an empty sample")
    val s = xs.sorted
    val k = s.size / 4
    val mid = s.slice(k, s.size - k)
    mid.sum / mid.size
  }
}
