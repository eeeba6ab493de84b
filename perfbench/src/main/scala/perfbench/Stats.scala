package perfbench

/** Order statistics used by every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Samples that must lie beyond the reported tail percentile. */
  val TailBeyond = 10

  /** The highest whole percentile that leaves at least [[TailBeyond]] of
    * `n` samples beyond it (nearest-rank), or 50 when `n` is too small
    * for any percentile above the median to do so. */
  def tailPercentile(n: Int): Int =
    if (n <= 2 * TailBeyond) 50
    else math.floor(100.0 * (n - TailBeyond) / n).toInt

  /** Nearest-rank percentile `p` of `xs`. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }

  /** The tail latency over `xs` at the percentile fixed by the
    * guaranteed sample count `nMin`, with that percentile and the number
    * of samples beyond it. Fixing the percentile from the guaranteed
    * count keeps it the same in every run of a workload, however many
    * warm passes the time budget allowed. */
  def tail(xs: Seq[Double], nMin: Int): (Double, Int, Int) = {
    val p = tailPercentile(nMin)
    val v = percentile(xs, p)
    (v, p, xs.count(_ > v))
  }

  /** Union length of `[start, end)` intervals clipped to `[lo, hi)`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
