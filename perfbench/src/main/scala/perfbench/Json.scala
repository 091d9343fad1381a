package perfbench

/** The little JSON the harness writes: strings, numbers, arrays, objects. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")

  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
