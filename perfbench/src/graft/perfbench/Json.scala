package graft.perfbench

/** Minimal JSON writer for the result and trace files. Non-finite
  * doubles become `null`. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case RawJson(text) => text
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => arr(xs.toSeq)
    case other => quote(other.toString)
  }

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => quote(k) + ":" + render(v) }.mkString("{", ",", "}")

  def arr(xs: Seq[Any]): String = xs.map(render).mkString("[", ",", "]")

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
