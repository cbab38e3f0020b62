package perfbench

/** Order statistics the benchmark reports. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The three cut points of `statistics.quantiles(xs, n=4)` in Python
    * (its default 'exclusive' method), so quartiles computed here and by
    * a script over the printed results agree. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.size >= 2, "quartiles need at least two samples")
    val s = xs.sorted.toIndexedSeq
    val m = s.size + 1
    def cut(i: Int): Double = {
      val j = math.max(1, math.min(s.size - 1, i * m / 4))
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
    }
    (cut(1), cut(2), cut(3))
  }

  /** Nearest-rank percentile `p` (0 < p < 1), reported only when at least
    * `minBeyond` samples lie strictly above it: a tail drawn from fewer
    * samples repeats no better than the median and reads as noise. */
  def tail(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] = {
    require(p > 0 && p < 1, s"percentile $p outside (0, 1)")
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      // the epsilon keeps p * n = 90.000000001 from ranking one place too high
      val v = s(math.max(0, math.ceil(p * s.size - 1e-9).toInt - 1))
      if (s.count(_ > v) >= minBeyond) Some(v) else None
    }
  }
}
