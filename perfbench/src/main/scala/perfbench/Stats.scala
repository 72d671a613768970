package perfbench

/** Order statistics for the reported timings. */
object Stats {

  /** Samples that must lie strictly beyond a reported tail percentile. */
  val MinTailSamples = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, `p` in (0, 1). Refuses a tail that has fewer
    * than [[MinTailSamples]] samples beyond the reported rank: such a
    * "percentile" is really one of the few largest samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p > 0 && p < 1, s"percentile $p outside (0, 1)")
    val n = xs.length
    val rank = math.ceil(p * n).toInt.max(1)
    val beyond = n - rank
    require(beyond >= MinTailSamples,
      f"p${p * 100}%.0f over $n samples has only $beyond beyond it " +
        s"(need $MinTailSamples)")
    xs.sorted.apply(rank - 1)
  }

  /** Samples needed before [[percentile]] accepts `p`. */
  def samplesFor(p: Double): Int =
    Iterator.from(1).find(n => n - math.ceil(p * n).toInt >= MinTailSamples).get
}
