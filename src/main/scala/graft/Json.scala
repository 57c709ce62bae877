package graft

import java.util.Locale

/** The JSON the mains write: one-line summaries and `oracle_sql.json`. */
object Json {

  /** A string literal with backslash, quote and ALL control chars
    * (< 0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** An object of ordered fields. A value is a String, an Int or Long,
    * a Double (2 decimals, in `Locale.ROOT`: a comma-decimal default
    * locale would emit "1,23"), or a nested field list.
    */
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => String.format(Locale.ROOT, "%.2f", Double.box(d))
    case n @ (_: Int | _: Long) => n.toString
    case fs: Seq[_] => obj(fs.asInstanceOf[Seq[(String, Any)]])
  }
}
