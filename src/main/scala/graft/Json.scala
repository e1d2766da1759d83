package graft

/** JSON string quoting for the hand-built records (Bench's JSON line,
  * Verify's oracle_sql.json, Pipeline's artifact contracts): backslash,
  * quote, and ALL control chars (<0x20) — a tab or CR in builder-authored
  * SQL, an exception message or a column name would otherwise make a
  * consumer's json.load fail and silently zero the record. */
private[graft] object Json {
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
