package perfbench

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full-precision number; non-finite values have no JSON form. */
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite value $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
