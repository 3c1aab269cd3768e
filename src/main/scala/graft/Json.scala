package graft

/** The one JSON string escaper of the artifact writers (`Bench`,
  * `Verify`). */
object Json {

  /** `s` as a JSON string literal. Backslash, quote and ALL control
    * chars (< 0x20) are escaped: a tab or CR in hand-written SQL, or
    * a `"` in a data-directory path, would otherwise make the reader's
    * json.load fail and silently zero the artifact. */
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
