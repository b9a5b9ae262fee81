package graft

/** Shared JSON rendering for the contract outputs (Bench's
  * JSON lines, Verify's oracle_sql.json). One definition so an
  * escaping fix cannot land in one emitter and miss the other. Escapes
  * backslash, quote, and ALL control chars (<0x20) — a tab or CR in
  * builder-authored SQL would otherwise make the driver's json.load fail. */
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

  /** `{"k":v,...}` with each value already JSON — a rendered fragment or
    * a number; values render via toString, which is locale-free. */
  def obj(fields: IterableOnce[(String, Any)]): String =
    fields.iterator.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** `[v,...]`, values rendered as in `obj`. */
  def arr(items: IterableOnce[Any]): String = items.iterator.mkString("[", ",", "]")
}
