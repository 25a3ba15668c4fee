package graftbench

/** Order statistics of one run's samples. */
object Stats {
  /** Percentiles the tail is chosen from, highest first. */
  val TailLadder = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
  /** Samples that must lie beyond a reported tail percentile. */
  val TailBeyond = 10

  /** Mean, or 0 for no samples (a layer the workload never enters). */
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. Returns its 0-based index in sorted order. */
  def rankIndex(n: Int, p: Double): Int =
    math.max(0, math.ceil(p / 100.0 * n).toInt - 1)

  /** The highest ladder percentile with at least [[TailBeyond]] samples
    * strictly after it in sorted order, and its value; None when the run
    * has too few samples for any (fewer than TailBeyond + 1). */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    TailLadder.find(p => s.length - 1 - rankIndex(s.length, p) >= TailBeyond)
      .map(p => (p, s(rankIndex(s.length, p))))
  }

  /** p50, tail and sample count of one op class, for the run record. */
  def summary(xs: Seq[Double]): Map[String, Any] = {
    val t = tail(xs)
    Map("n" -> xs.length, "p50" -> (if (xs.isEmpty) null else median(xs)),
      "tail_pct" -> t.map(_._1).getOrElse(null), "tail" -> t.map(_._2).getOrElse(null))
  }
}
