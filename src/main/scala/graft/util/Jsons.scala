package graft.util

/** Shared hand-rolled JSON emission bits for the artifact mains (Bench,
  * Chaos, Verify) — one escaper, so an escaping fix can never land in
  * one artifact writer and not the other.
  */
object Jsons {
  /** A JSON string literal: quotes, backslashes, and control characters
    * escaped.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  /** A JSON object of string values, in `m`'s iteration order. */
  def strMap(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
}
