package perfbench

/** Just enough JSON output for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
