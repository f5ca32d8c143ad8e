package graftbench

/** Just enough JSON output for the run record (maps, sequences, numbers,
  * strings, booleans).
  */
object Json {
  def apply(v: Any): String = {
    val b = new StringBuilder
    write(b, v)
    b.toString
  }

  private def write(b: StringBuilder, v: Any): Unit = v match {
    case null | None => b ++= "null"
    case Some(x) => write(b, x)
    case s: String => str(b, s)
    case x: Boolean => b ++= x.toString
    case x: Double =>
      b ++= (if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x))
    case x: Int => b ++= x.toString
    case x: Long => b ++= x.toString
    case m: scala.collection.Map[_, _] =>
      b += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) b += ','
        first = false
        str(b, k.toString); b += ':'; write(b, x)
      }
      b += '}'
    case xs: Iterable[_] =>
      b += '['
      var first = true
      xs.foreach { x => if (!first) b += ','; first = false; write(b, x) }
      b += ']'
    case other => str(b, other.toString)
  }

  private def str(b: StringBuilder, s: String): Unit = {
    b += '"'
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
  }
}
