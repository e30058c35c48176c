package gokabench

/** Order statistics for the benchmark's reports.
  *
  * A percentile is reported only when at least ten samples lie beyond it:
  * p50 needs 20 samples, p90 needs 100. Below that the figure is mostly
  * the one or two slowest samples, so [[percentile]] refuses it. */
object Stats {

  /** Samples needed beyond a reported percentile. */
  final val MinBeyond = 10

  /** Smallest sample count for which percentile `p` (0 < p < 1) has at
    * least [[MinBeyond]] samples beyond it. */
  def minSamples(p: Double): Int = math.ceil(MinBeyond / (1.0 - p) - 1e-9).toInt

  /** Nearest-rank percentile; throws when fewer than [[minSamples]].
    * `weight` is the number of ops each sample stands for (a replay job
    * is the latency of every message in it), counted toward the rule. */
  def percentile(xs: Seq[Double], p: Double, weight: Long = 1L): Double = {
    require(p > 0.0 && p < 1.0, s"percentile $p outside (0, 1)")
    val n = xs.size * weight
    require(n >= minSamples(p),
      s"p${(p * 100).round} needs ${minSamples(p)} samples, got $n")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  /** Percentile `p`, or, when there are too few samples for it, the
    * highest percentile that still has [[MinBeyond]] samples beyond it
    * (the median below 20). Returns (percentile used, value). */
  def tail(xs: Seq[Double], p: Double, weight: Long = 1L): (Double, Double) = {
    val n = xs.size * weight
    if (n >= minSamples(p)) (p, percentile(xs, p, weight))
    else if (n >= minSamples(0.5)) {
      val q = 1.0 - MinBeyond.toDouble / n
      (q, percentile(xs, q, weight))
    } else (0.5, median(xs))
  }

  /** Plain median (mean of the middle pair for an even count); for
    * aggregating a handful of whole units of work, where the ten-beyond
    * rule does not apply. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}
