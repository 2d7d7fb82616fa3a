package perfbench

/** Minimal JSON rendering for the harness's result files. */
object Json {
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${render(v)}" }.mkString("{", ",", "}")

  def render(v: Any): String = v match {
    case null | None => "null"
    case Raw(json) => json
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: Number => n.toString
    case t: java.sql.Timestamp => str(t.toString)
    case d: java.sql.Date => str(d.toString)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }
        .mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row => render(r.toSeq)
    case a: Array[_] => render(a.toSeq)
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** A pre-rendered JSON fragment. */
  final case class Raw(json: String)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
