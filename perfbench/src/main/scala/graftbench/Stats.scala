package graftbench

/** Order statistics and interval arithmetic used to turn raw samples into
  * reported metrics. Pure functions, no Spark. */
object Stats {

  /** Linear-interpolated percentile (`p` in [0, 1]) of a non-empty sample,
    * the same definition as numpy's default. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 1, s"percentile out of range: $p")
    val s = xs.sorted
    val rank = p * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Number of samples that lie above the `p` percentile of `n` samples. */
  def samplesBeyond(n: Int, p: Double): Int = n - math.ceil(p * n).toInt

  /** The tail percentiles worth reporting: a percentile is reported only
    * when at least `minBeyond` samples lie beyond it, since fewer than that
    * make it a reading of one or two outliers. */
  def reportablePercentiles(n: Int, candidates: Seq[Double] = Seq(0.9, 0.99),
      minBeyond: Int = 10): Seq[Double] =
    candidates.filter(p => samplesBeyond(n, p) >= minBeyond)

  /** Summary of one timing sample: median, every reportable tail
    * percentile and the sample count, keyed `<name>.p50`, `<name>.p90`,
    * `<name>.n`. Empty when there are no samples. */
  def summarize(name: String, xs: Seq[Double]): Map[String, Double] =
    if (xs.isEmpty) Map.empty
    else {
      val tails = reportablePercentiles(xs.size).map { p =>
        s"$name.p${math.round(p * 100)}" -> percentile(xs, p)
      }
      (tails :+ (s"$name.p50" -> median(xs)) :+ (s"$name.n" -> xs.size.toDouble)).toMap
    }

  /** Total length covered by a set of half-open intervals `[start, end)`,
    * overlaps counted once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** The part of the window `[start, end)` during which no job ran: the
    * op's wall time minus the union of its job intervals, each clipped to
    * the window. This is time the driver spent planning, committing files
    * or waiting between jobs. */
  def driverGap(start: Long, end: Long, jobs: Seq[(Long, Long)]): Long = {
    val clipped = jobs.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - unionLength(clipped)
  }
}
