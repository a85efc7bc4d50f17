package graft.util

object Json {

  /** `s` as a JSON string literal. Backslash, quote and every control
    * character (< 0x20) are escaped: exception messages and
    * hand-written oracle SQL carry tabs, CRs and stack-trace fragments,
    * and one unescaped char makes the whole line unparseable.
    */
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
