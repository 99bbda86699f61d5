package graft.benchmark

/** Just enough JSON writing for the run record the Python side reads. */
object Json {
  final case class Raw(text: String)

  def raw(text: String): Raw = Raw(text)

  def value(v: Any): String = v match {
    case null | None => "null"
    case Raw(t) => t
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def arr(vs: Any*): String = vs.map(value).mkString("[", ",", "]")

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
