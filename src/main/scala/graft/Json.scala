package graft

/** JSON string literal for the artifacts the mains write by hand
  * (Verify's oracle_sql.json, Bench's stage names). Backslash, quote and
  * ALL control chars (< 0x20) are escaped exactly: a tab or CR in an oracle
  * SQL string must not make the oracle checker's json.load fail. */
object Json {
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
