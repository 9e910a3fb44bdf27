package perfbench

/** The little JSON and statistics the benchmark needs. */
object Json {

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {

  /** Percentile by linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted.toIndexedSeq
    val r = p / 100 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of the usual tail percentiles that still has at least
    * ten samples above it; below 20 samples, the largest sample. */
  def tailPercentile(n: Int): Double =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (100 - p) / 100 >= 10)
      .getOrElse(100.0)
}
