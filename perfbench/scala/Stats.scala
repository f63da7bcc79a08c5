package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Median of the samples (mean of the middle two for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail value: the highest nearest-rank percentile that still has at
    * least ten samples strictly beyond it. Returns (percentile, value), or
    * None when there are fewer than eleven samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    if (n < 11) None
    else {
      val s = xs.sorted
      // nearest rank r (1-based) of percentile p is ceil(p * n / 100); at
      // least ten samples beyond it means r <= n - 10
      val p = (99 to 1 by -1).find(p => math.ceil(p * n / 100.0).toInt <= n - 10).get
      val r = math.ceil(p * n / 100.0).toInt
      Some((p, s(r - 1)))
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- iv.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
