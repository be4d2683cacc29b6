package perfbench

/** Minimal JSON rendering for the result line, manifests and spans. */
object Json {
  def render(v: Any): String = v match {
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case Raw(s) => s
    case other => other.toString // Int, Long, Boolean
  }

  /** Pre-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  /** An object with keys in the given order. */
  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => quote(k) + ":" + render(v) }.mkString("{", ",", "}")

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
