package perfbench

/** Just enough JSON for the benchmark's own output and its pinned
  * digest files (flat objects of strings and numbers). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Reads a pinned-digest file: {"entry": {"rows": n, "digest": "..."}, ...}. */
  def readDigests(text: String): Map[String, Digest.Result] = {
    val entry = "\"([^\"]+)\"\\s*:\\s*\\{\\s*\"rows\"\\s*:\\s*(\\d+)\\s*,\\s*\"digest\"\\s*:\\s*\"([^\"]*)\"\\s*\\}".r
    entry.findAllMatchIn(text).map(m => m.group(1) -> Digest.Result(m.group(2).toLong, m.group(3))).toMap
  }

  /** Reads a flat {"key": number, ...} object. */
  def readNumbers(text: String): Map[String, Double] = {
    val kv = "\"([^\"]+)\"\\s*:\\s*(-?[0-9.eE+-]+)".r
    kv.findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toDouble).toMap
  }
}
