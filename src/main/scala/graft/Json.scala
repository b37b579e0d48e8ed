package graft

/** JSON encoding shared by the mains that write JSON (`Verify`,
  * `tools.Profile`). */
object Json {
  /** `s` as a JSON string literal. Escapes backslash, quote and ALL
    * control chars (<0x20): a tab or CR in an oracle query's SQL would
    * otherwise make the gate's json.load of oracle_sql.json fail and
    * silently zero the round's correctness. */
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
