package graft

private[graft] object Json {
  /** A JSON string literal: backslash, quote and ALL control chars
    * (< 0x20) escaped — a tab or CR in oracle SQL or a growth note
    * would otherwise make the whole file invalid JSON, and its
    * reader (the oracle compare, the next run's band-ref load) would
    * silently drop everything in it. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
