package perfbench

/** JSON text for the benchmark's records. Every string goes through
  * [[Json.str]], which escapes quotes, backslashes and all control
  * characters, so query names, exception messages and SQL cannot break a
  * row. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b += '"'
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' || c == '\u2028' || c == '\u2029' =>
        b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** One object with its keys in the given order. */
  def obj(fields: (String, Any)*): String =
    fields.map { case (k, x) => str(k) + ":" + value(x) }.mkString("{", ",", "}")
}
