package perfbench

/** Order statistics with the benchmark's reporting rule: a tail
  * percentile is reported only when at least [[MinBeyond]] samples lie
  * beyond it, so one slow sample cannot set it alone. */
object Stats {

  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** 1-based nearest rank of percentile `p` (0 < p < 1) among `n` samples. */
  def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p * n - 1e-9).toInt)

  /** Samples strictly beyond the nearest-rank `p` percentile of `n`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** Fewest samples for which percentile `p` has [[MinBeyond]] beyond it. */
  def minSamples(p: Double): Int =
    Iterator.from(1).find(n => beyond(n, p) >= MinBeyond).get

  /** Nearest-rank percentile, or None when fewer than [[MinBeyond]]
    * samples lie beyond it. */
  def tail(xs: Seq[Double], p: Double): Option[Double] =
    if (xs.isEmpty || beyond(xs.size, p) < MinBeyond) None
    else Some(xs.sorted.apply(rank(xs.size, p) - 1))
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
