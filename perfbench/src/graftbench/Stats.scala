package graftbench

/** Order statistics and span self time, plus the checks that pin them. */
object Stats {

  /** Linear-interpolation quantile (the "inclusive" definition: q=0 is the
    * minimum, q=1 the maximum). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Duration of `span` not covered by the union of its children's
    * intervals (children clipped to the span). */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (s, e) = span
    val clipped = children.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (e - s) - covered
  }

  /** Fails loudly when the statistics above are wrong. */
  def selfCheck(): Unit = {
    def eq(a: Double, b: Double, what: String): Unit =
      require(math.abs(a - b) < 1e-9, s"self-check $what: got $a, want $b")
    eq(median(Seq(3.0, 1.0, 2.0)), 2.0, "odd median")
    eq(median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5, "even median")
    eq(quantile((1 to 10).map(_.toDouble), 0.9), 9.1, "p90 of 1..10")
    eq(quantile((1 to 101).map(_.toDouble), 0.9), 91.0, "p90 of 1..101")
    eq(quantile(Seq(5.0), 0.9), 5.0, "p90 of one")
    eq(selfTime((0L, 100L), Seq.empty).toDouble, 100.0, "leaf self time")
    eq(selfTime((0L, 100L), Seq((10L, 30L), (20L, 50L), (60L, 70L))).toDouble,
      50.0, "overlapping children")
    eq(selfTime((0L, 100L), Seq((-10L, 10L), (90L, 120L))).toDouble, 80.0,
      "children clipped to the parent")
    eq(selfTime((0L, 100L), Seq((0L, 100L), (10L, 20L))).toDouble, 0.0,
      "fully covered parent")
  }
}
