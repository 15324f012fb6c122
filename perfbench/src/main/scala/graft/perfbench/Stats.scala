package graft.perfbench

/** Exact order statistics over a sample. */
object Stats {
  /** Fewest samples that must lie beyond a reported percentile. */
  val MinBeyond = 10

  /** Nearest-rank rank (0-based) of quantile `q` in `n` sorted values. */
  def rank(q: Double, n: Int): Int = math.max(0, math.ceil(q * n - 1e-9).toInt - 1)

  /** Whether `n` samples put at least [[MinBeyond]] beyond quantile `q`. */
  def supported(q: Double, n: Int): Boolean = n > 0 && n - 1 - rank(q, n) >= MinBeyond

  /** The nearest-rank `q` quantile of `xs`, or None when fewer than
    * [[MinBeyond]] samples lie beyond it. Selects in expected linear time
    * on a copy; `xs` is left untouched. */
  def percentile(xs: Array[Double], q: Double): Option[Double] =
    if (!supported(q, xs.length)) None
    else Some(select(xs.clone(), rank(q, xs.length)))

  /** Median without the sample-count rule, for small per-run repeats. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty)
    select(xs.toArray, rank(0.5, xs.length))
  }

  /** k-th smallest (0-based) by iterative quickselect; reorders `a`. */
  private def select(a: Array[Double], k: Int): Double = {
    var lo = 0; var hi = a.length - 1
    val rnd = new java.util.Random(a.length.toLong)
    while (lo < hi) {
      val pivot = a(lo + rnd.nextInt(hi - lo + 1))
      var i = lo; var j = hi
      while (i <= j) {
        while (a(i) < pivot) i += 1
        while (a(j) > pivot) j -= 1
        if (i <= j) { val t = a(i); a(i) = a(j); a(j) = t; i += 1; j -= 1 }
      }
      if (k <= j) hi = j else if (k >= i) lo = i else return a(k)
    }
    a(lo)
  }
}
