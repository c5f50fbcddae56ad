package graft.perfbench

/** Just enough JSON writing for the benchmark's result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Numbers keep all their digits; a non-finite one becomes null. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
