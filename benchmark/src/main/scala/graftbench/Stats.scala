package graftbench

/** Order statistics and the result line. */
object Stats {

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of the usual percentiles that still has at least ten
    * samples above it, with its value; None below 11 samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.size - math.ceil(p / 100.0 * xs.size) >= 10)
      .map(p => (p, quantile(xs, p / 100.0)))

  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
  private val UnitPattern = "[A-Za-z0-9_/%.-]{1,16}".r

  def validName(n: String): Boolean = NamePattern.matches(n)
  def validUnit(u: String): Boolean = UnitPattern.matches(u)

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    java.lang.Double.toString(v)
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** The result line: `metrics` maps each name to its value and unit. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    metrics.foreach { case (n, _, u) =>
      require(validName(n), s"bad metric name $n")
      require(validUnit(u), s"bad unit $u for $n")
    }
    val ms = metrics.map { case (n, v, u) =>
      str(n) + ":{" + "\"value\":" + num(v) + ",\"unit\":" + str(u) + "}"
    }.mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$ms}"""
  }
}
