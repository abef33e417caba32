package graft

/** The JSON string literal Bench and Verify write: quote, backslash and
  * every control character below 0x20 escaped. Builder-authored SQL and
  * user-supplied conf values may carry any of them, and one unescaped
  * tab or CR makes the whole document unreadable to a strict parser. */
object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
