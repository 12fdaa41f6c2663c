package perfbench

/** A named measurement with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What one benchmark run hands back to `Main`. `extra` metrics are
  * printed with the rest but are not part of the result line. */
final case class Outcome(attempted: Long, failed: Long,
    endToEnd: Seq[Metric], perLayer: Seq[Metric], extra: Seq[Metric],
    info: Seq[String])

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  def metrics(ms: Seq[Metric]): String = obj(ms.map(m =>
    m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))))
}
