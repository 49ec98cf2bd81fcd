package graft

/** The one JSON string writer of the mains' artifacts (Verify's
  * oracle_sql.json, Bench's detail JSON). */
object Json {
  /** `s` as a quoted JSON string: escapes backslash, quote and ALL control
    * chars (<0x20) — one tab or CR in an oracle SQL string would
    * otherwise make a `json.load` of the whole file fail, and with it
    * every correctness comparison that reads it. */
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
