package fuserankbench

/** Order statistics and the small JSON writer the benchmark's outputs use. */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" definition), 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail: the highest whole percentile p ≥ 50 with at least ten
    * samples beyond it, i.e. n·(1 − p/100) ≥ 10, as (percentile, value).
    * None below twenty samples, where no such percentile exists. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    (99 to 50 by -1).find(p => xs.size * (100 - p) / 100.0 >= 10).map(p => (p, quantile(xs, p / 100.0)))

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    java.lang.Double.toString(v)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** JSON for nested Map / Seq / String / numeric / Boolean values
    * (maps keep insertion order when given a ListMap or Seq of pairs). */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
