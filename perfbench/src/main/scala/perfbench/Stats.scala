package perfbench

/** The benchmark's own arithmetic: percentile selection, interval unions,
  * span self time and driver-gap time. Pure functions over plain numbers so
  * the specs can pin them down without a Spark session.
  */
object Stats {

  /** Nearest-rank percentile (p in (0, 100]) of an unsorted sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val sorted = xs.sorted
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    sorted(math.min(sorted.size, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A tail percentile the sample supports: the highest of `candidates`
    * whose nearest-rank value leaves at least `beyond` samples strictly
    * above its rank. Returns (percentile, value, sample count), or None
    * when even the lowest candidate is unsupported.
    */
  def supportedTail(xs: Seq[Double], candidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0),
      beyond: Int = 10): Option[(Double, Double, Int)] = {
    val n = xs.size
    candidates.sorted(Ordering[Double].reverse).find { p =>
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      n > 0 && n - rank >= beyond
    }.map(p => (p, percentile(xs, p), n))
  }

  /** Merge possibly-overlapping [start, end) intervals into disjoint ones. */
  def union(intervals: Seq[(Double, Double)]): Seq[(Double, Double)] =
    intervals.filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft(List.empty[(Double, Double)]) {
        case ((ps, pe) :: rest, (s, e)) if s <= pe => (ps, math.max(pe, e)) :: rest
        case (acc, iv) => iv :: acc
      }.reverse

  /** Length of the part of [start, end) covered by `intervals`. */
  def covered(start: Double, end: Double, intervals: Seq[(Double, Double)]): Double =
    union(intervals.map { case (s, e) => (math.max(s, start), math.min(e, end)) })
      .map { case (s, e) => e - s }.sum

  /** A span's self time: its wall time minus the part its children cover
    * (children may overlap each other, e.g. concurrent fills).
    */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)]): Double =
    (end - start) - covered(start, end, children)

  /** Driver-gap time: the part of [start, end) during which none of the
    * given jobs was running. Overlapping jobs count once.
    */
  def gapTime(start: Double, end: Double, jobs: Seq[(Double, Double)]): Double =
    (end - start) - covered(start, end, jobs)
}
