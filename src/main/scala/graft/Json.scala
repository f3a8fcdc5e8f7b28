package graft

/** Minimal JSON string escaping shared by the record writers
  * ([[Verify]]'s oracle/failure manifests, [[Bench]]'s sidecar, the
  * gates' result lines): quote, backslash, and ALL control chars (<0x20)
  * — a tab or CR in builder-authored SQL, an exception message or an
  * argv path would otherwise make the reader's json.load fail and
  * silently zero a round's record. */
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

  def arr(xs: Iterable[String]): String = xs.map(str).mkString("[", ",", "]")

  def obj(entries: Iterable[(String, String)]): String =
    entries.map { case (k, v) => s"${str(k)}:${str(v)}" }
      .mkString("{", ",", "}")
}
