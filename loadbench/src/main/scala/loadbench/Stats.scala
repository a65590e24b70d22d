package loadbench

/** Order statistics used for every reported timing.
  *
  * Percentiles are nearest-rank on the sorted samples. A percentile is
  * only reported when at least [[MinBeyond]] samples lie beyond it, so
  * a p90 needs 100 samples and a median 20; below that no percentile
  * is reported as a tail, rather than one resting on a few samples.
  */
object Stats {

  val MinBeyond = 10

  /** Nearest-rank percentile (0 < p < 100) of unsorted samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p < 100, s"percentile $p out of (0, 100)")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(math.max(rank, 1), s.size) - 1)
  }

  /** Samples strictly above the nearest-rank position of `p`. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n).toInt

  /** Samples needed before `p` has [[MinBeyond]] samples beyond it. */
  def minSamples(p: Double): Int =
    Iterator.from(1).find(n => beyond(n, p) >= MinBeyond).get

  /** The highest of p50/p75/p90/p95/p99 the sample count supports. */
  def highestTail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75, 50).find(p => xs.size >= minSamples(p)).map(p => p -> percentile(xs, p))

  /** Median: mean of the two middle samples for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}
