package graft.perfbench

/** Order statistics and a minimal JSON writer for the benchmark record. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A tail latency: `value` is the sample at `percentile`, with exactly
    * `beyond` samples above it out of `n`.
    */
  final case class Tail(value: Double, percentile: Double, beyond: Int, n: Int)

  /** The highest percentile that still has at least `minBeyond` samples
    * beyond it: the (minBeyond+1)-th largest sample, whose percentile is
    * the share of samples at or below it. With `minBeyond` or fewer
    * samples no percentile qualifies, and the maximum is returned with
    * `beyond` = 0 so a reader sees the figure is not a tail.
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n <= minBeyond) Tail(s.last, 100.0, 0, n)
    else {
      val idx = n - 1 - minBeyond
      Tail(s(idx), 100.0 * (idx + 1) / n, minBeyond, n)
    }
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => json(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
