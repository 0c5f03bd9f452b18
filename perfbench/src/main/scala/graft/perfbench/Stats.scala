package graft.perfbench

/** Pure arithmetic behind the reported numbers (unit-tested on its own). */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest nearest-rank percentile that has at least ten samples
    * beyond it, as (percentile, value); None below eleven samples. The value
    * at sorted index i has n - 1 - i samples above it, so i = n - 11 is the
    * highest index with ten beyond, and its nearest-rank percentile is
    * 100 * (i + 1) / n.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    val n = s.size
    if (n < 11) None
    else {
      val i = n - 11
      Some((100.0 * (i + 1) / n, s(i)))
    }
  }

  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  /** Metric names: start with a letter or digit, then at most 63 more of
    * letters, digits, `_`, `.` and `-`.
    */
  def validName(s: String): Boolean = NamePattern.matches(s)

  /** Length of [lo, hi] covered by the union of `intervals` (each clipped to
    * [lo, hi]; overlaps are counted once).
    */
  def covered(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of a span: its duration minus the part of it that its child
    * spans cover.
    */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)]): Double =
    (end - start) - covered(start, end, children)
}
