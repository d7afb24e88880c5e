package graft.obs

/** Minimal JSON rendering for the tools' one-line records. */
object Json {
  /** Already-rendered JSON, embedded verbatim. */
  final case class Raw(s: String) { override def toString: String = s }

  def obj(fields: (String, Any)*): Raw =
    Raw(fields.map { case (k, v) => q(k) + ":" + render(v) }.mkString("{", ",", "}"))

  /** Prints one record as one stdout line. */
  def line(fields: (String, Any)*): Unit = println(obj(fields: _*))

  def render(v: Any): String = v match {
    case Raw(s) => s
    case s: String => q(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).setScale(4, java.math.RoundingMode.HALF_UP)
        .stripTrailingZeros.toPlainString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Quoted string: backslash, quote and every control char (< 0x20)
    * escaped, so any text parses with a standard JSON reader. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
