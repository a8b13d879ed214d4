package graft

/** The JSON writing every graft artifact shares (Verify's dumps, the
  * Bench line, the soak artifacts).
  */
object Json {

  /** `s` as a JSON string literal, lossless: quote, backslash and
    * every control char (< 0x20) are escaped — a tab or CR in
    * builder-authored SQL or in a path would otherwise make the
    * reader's json.load fail and silently void the artifact.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The reason an artifact records for a failed query: the root
    * cause's class, message and top frames, whitespace collapsed. A
    * failure that names only "NPE: buf is null" costs the next reader
    * a full reproduce cycle.
    */
  def rootCause(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    val frames = c.getStackTrace.take(6).map(_.toString).mkString(" <- ")
    (c.getClass.getSimpleName + ": " + String.valueOf(c.getMessage) + " @ " + frames)
      .replaceAll("\\s+", " ").take(900)
  }
}
