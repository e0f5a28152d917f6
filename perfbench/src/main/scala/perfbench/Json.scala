package perfbench

/** Minimal JSON writer for the harness's records and result dumps. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))

  def arr(vs: Iterable[Any]): Raw = Raw(vs.map(value).mkString("[", ",", "]"))

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n @ (_: Long | _: Int | _: Short | _: Byte) => n.toString
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).s
    case s: Iterable[_] => arr(s).s
    case other => str(other.toString)
  }

  /** Python's json module reads NaN and Infinity tokens. */
  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
    else d.toString

  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
