package perfbench

/** Order statistics as the benchmark reports them. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, p in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt.max(1).min(s.size)
    s(rank - 1)
  }

  /** The highest percentile that leaves at least ten samples above it:
    * (value, percentile). With fewer than eleven samples no percentile
    * does, and the slowest sample is returned with percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    if (n < 11) (xs.max, 100.0)
    else {
      val candidates = Seq(99.99, 99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 75.0,
        50.0)
      val p = candidates.find(p => n - math.ceil(p / 100.0 * n) >= 10)
        .getOrElse(50.0)
      (percentile(xs, p), p)
    }
  }
}

/** Minimal JSON text helpers (the record is flat and small). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
