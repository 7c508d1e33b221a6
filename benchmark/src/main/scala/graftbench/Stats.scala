package graftbench

/** Order statistics and span arithmetic used for every reported number. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Quartiles (q1, q2, q3) by the "exclusive" method — the same values
    * Python's `statistics.quantiles(xs, n=4)` returns, so the spread the
    * benchmark prints is the spread an outside check computes.
    */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two values")
    val s = xs.sorted
    val ld = s.length
    val m = ld + 1
    def q(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), ld - 1)
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4
    }
    (q(1), q(2), q(3))
  }

  /** Interquartile distance as a share of the median. */
  def spread(xs: Seq[Double]): Double = {
    val (q1, q2, q3) = quartiles(xs)
    if (q2 == 0) 0.0 else (q3 - q1) / q2
  }

  /** Length of the union of `intervals` clipped to [from, to). */
  def covered(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover (overlapping children are counted once).
    */
  def selfTime(from: Long, to: Long, children: Seq[(Long, Long)]): Long =
    (to - from) - covered(from, to, children)
}
