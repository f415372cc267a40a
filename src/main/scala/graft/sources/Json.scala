package graft.sources

/** The JSON text the fixtures, exporters and Verify write by hand. */
private[graft] object Json {

  /** Spec-correct JSON string escape (quote, backslash, control). */
  def jesc(x: String): String = {
    val b = new StringBuilder(x.length + 8)
    x.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }
}
