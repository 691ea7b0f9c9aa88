package graft.perfbench

/** Minimal JSON writer for the result line and the oracle job file. */
object Json {
  def str(s: String): String = {
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
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")

  /** A Spark row value as JSON: timestamps as epoch microseconds,
    * arrays as lists, everything numeric as a number.
    */
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case n: java.lang.Number => n.toString
    case t: java.sql.Timestamp =>
      (t.getTime / 1000 * 1000000L + t.getNanos / 1000 % 1000000L).toString
    case s: scala.collection.Seq[_] => arr(s.map(value).toSeq)
    case other => str(other.toString)
  }
}
