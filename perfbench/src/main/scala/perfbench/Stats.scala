package perfbench

/** Metric arithmetic, kept free of Spark so it can be tested alone. */
object Stats {

  /** Median of a non-empty sample (mean of the two middle values when
    * the count is even). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Geometric mean of positive values: every call weighs the same in
    * ratio terms, so a 2x change of a short call and of a long one move it
    * equally, and unlike the median of a small mixed set it does not jump
    * when two neighbouring calls swap places. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0.0), "geomean needs positive values")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** 1-based nearest rank of the `p`th percentile among `n` samples (the
    * epsilon keeps p * n / 100 = 9990.000000000002 at rank 9990). */
  private def rank(n: Int, p: Double): Int =
    math.max(math.ceil(p * n / 100.0 - 1e-9).toInt, 1)

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0.0 && p <= 100.0, s"percentile out of range: $p")
    xs.sorted.apply(rank(xs.length, p) - 1)
  }

  /** Samples strictly beyond the nearest-rank `p`th percentile. */
  def samplesBeyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The percentiles a timing is reported at, highest first. */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 90.0, 50.0)

  /** The highest percentile of [[Ladder]] that has at least `minBeyond`
    * samples beyond it (None when even the median has fewer): a tail
    * figure resting on one or two samples is noise, not a percentile. */
  def highestSupported(n: Int, minBeyond: Int = 10): Option[Double] =
    Ladder.find(p => samplesBeyond(n, p) >= minBeyond)

  /** Total length covered by a set of half-open [start, end) intervals,
    * overlaps counted once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    val sorted = intervals.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((a, b) <- sorted) {
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Length of `window` not covered by any of `busy`: the time inside an
    * operation during which no task was running. */
  def uncovered(window: (Long, Long), busy: Seq[(Long, Long)]): Long = {
    val (w0, w1) = window
    val clipped = busy.map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }
    math.max(0L, (w1 - w0) - unionLength(clipped))
  }
}
