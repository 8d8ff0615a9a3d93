package telbench

/** Order statistics for latency samples. Failed operations enter a sample
  * as `Double.PositiveInfinity`, so a failure always counts as missing the
  * tail.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail: the highest percentile that still has at least ten samples
    * above it, i.e. the value of rank `n - 10` (1-based) in ascending
    * order. Returns (percentile in [0, 100], value, samples beyond it).
    * With `n <= 10` no percentile qualifies; the maximum is returned with
    * percentile 100 and the true count (0) beyond it.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val beyond = 10
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n <= beyond) (100.0, s(n - 1), 0)
    else (100.0 * (n - beyond) / n, s(n - beyond - 1), beyond)
  }
}
