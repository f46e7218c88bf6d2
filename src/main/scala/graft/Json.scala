package graft

/** JSON rendering shared by the mains that print or write JSON. */
object Json {
  /** A JSON string literal. Escapes backslash, quote, and ALL control
    * chars (<0x20): a tab or CR in query SQL, or a quote in a data path,
    * would otherwise make the reader's JSON parse fail. */
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
