package graftbench

/** Minimal JSON writer for the result and trace files. */
object Json {
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }

  def write(v: Any): String = v match {
    case s: String                   => quote(s)
    case b: Boolean                  => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double                   => java.lang.Double.toString(d)
    case n: Int                      => n.toString
    case n: Long                     => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]             => xs.map(write).mkString("[", ",", "]")
    case other                       => quote(String.valueOf(other))
  }
}
