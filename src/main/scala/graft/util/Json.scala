package graft.util

/** The one JSON string escaper of the hand-written JSON the entry points
  * print (Bench, MemoryPressure, Verify's `oracle_sql.json`) and of the
  * Scala literals FreezeVocab prints: backslash, quote and every control
  * character below 0x20, so a tab or CR in a message or in SQL can never
  * make the output unparseable.
  */
object Json {
  /** `s` as a quoted JSON string literal. */
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
