package perfbench

/** Minimal JSON rendering for the harness's result and span files. A
  * `Seq` of pairs renders as an object (keys in order), any other `Seq`
  * as an array.
  */
object Json {
  def render(v: Any): String = v match {
    case null                 => "null"
    case None                 => "null"
    case Some(x)              => render(x)
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Seq[_] if s.nonEmpty && s.forall(_.isInstanceOf[(_, _)]) &&
        s.forall(_.asInstanceOf[(Any, Any)]._1.isInstanceOf[String]) =>
      s.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_]       => s.map(render).mkString("[", ",", "]")
    case other                => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }.mkString("\"", "", "\"")
}
