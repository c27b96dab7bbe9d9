package graft.perfbench

/** Minimal JSON rendering for the result lines and the trace file (the
  * benchmark adds no dependency beyond the ones graft builds with).
  * Maps keep insertion order when given a `ListMap` or a `Seq` of pairs.
  */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => (k.toString, x) })
    case xs: Iterable[_] if xs.headOption.exists(isPair) =>
      obj(xs.toSeq.map { case (k, x) => (k.toString, x) })
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  private def isPair(x: Any): Boolean = x match {
    case (_: String, _) => true
    case _ => false
  }

  private def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")

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

/** Order statistics over measured samples. */
object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** The highest of p90/p99 that has at least ten samples beyond it,
    * as (name, value); None when even p90 has fewer.
    */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(("p99", 0.99), ("p90", 0.90))
      .find { case (_, q) => xs.size * (1 - q) >= 10 }
      .map { case (n, q) => (n, quantile(xs, q)) }

  /** Median with its sample count and the highest valid tail percentile. */
  def summary(xs: Seq[Double]): Seq[(String, Any)] =
    Seq("p50" -> median(xs), "n" -> xs.size) ++
      tail(xs).map { case (n, v) => n -> v }.toSeq
}
