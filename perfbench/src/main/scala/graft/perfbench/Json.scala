package graft.perfbench

/** Just enough JSON to write the result and trace files. */
object Json {
  /** Already-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case p: Product => render(p.productIterator.toSeq)
    case other => str(other.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
