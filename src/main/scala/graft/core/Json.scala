package graft.core

/** JSON output helpers shared by every emitter (Bench, Verify, the CLI,
  * NotificationStore's declaration file). */
object Json {

  /** `s` as a JSON string literal, quotes included. Escapes the quote,
    * the backslash and ALL control chars (< 0x20): names and SQL come
    * from free-form YAML or builder-authored text, and one raw tab or
    * newline would make the whole document unparseable. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
