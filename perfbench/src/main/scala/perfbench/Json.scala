package perfbench

/** Minimal JSON writer for the harness's records (no parsing needed). */
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

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case b: Boolean => b.toString
    case Raw(s) => s
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** Pre-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
