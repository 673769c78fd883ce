package perfbench

/** Pure helpers for the benchmark's numbers: medians, the tail-percentile
  * rule, and interval arithmetic for span self time and driver time.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(p, s.length) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(p: Double, n: Int): Int = math.ceil(p / 100.0 * n - 1e-9).toInt.max(1)

  /** Percentiles considered for a tail figure, lowest first. */
  val TailLadder: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9)

  /** The highest percentile of [[TailLadder]] that has at least `beyond`
    * samples strictly above its nearest rank, or None when even the
    * median has fewer.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    TailLadder.filter(p => n - rank(p, n) >= beyond).lastOption

  /** Merge half-open intervals [start, end) into disjoint sorted ones. */
  def merge(intervals: Seq[(Long, Long)]): List[(Long, Long)] =
    intervals.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: rest, (a, b)) if a <= e => (s, e max b) :: rest
        case (acc, iv) => iv :: acc
      }
      .reverse

  /** Length of `window` covered by the union of `intervals`. */
  def covered(window: (Long, Long), intervals: Seq[(Long, Long)]): Long = {
    val (w0, w1) = window
    merge(intervals.map { case (a, b) => (a max w0, b min w1) })
      .map { case (a, b) => b - a }.sum
  }

  /** Part of `window` not covered by any of `intervals`: a span's self
    * time given its children, or its driver time given its Spark jobs.
    */
  def uncovered(window: (Long, Long), intervals: Seq[(Long, Long)]): Long =
    (window._2 - window._1) - covered(window, intervals)
}
