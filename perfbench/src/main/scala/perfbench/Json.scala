package perfbench

/** A JSON object with fields in insertion order. */
final case class Obj(fields: (String, Any)*)

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case Obj(fields @ _*) => fields.map { case (k, x) => quote(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case m: Map[_, _] => apply(Obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*))
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
