package perfbench

/** Minimal JSON rendering for the raw run record (maps, sequences, arrays,
  * numbers, strings, booleans). */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  private def num(sb: StringBuilder, d: Double): Unit =
    if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d.toString)

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb.append(b)
    case i: Int => sb.append(i)
    case l: Long => sb.append(l)
    case d: Double => num(sb, d)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        str(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case a: Array[_] => seq(sb, a.iterator)
    case s: Iterable[_] => seq(sb, s.iterator)
    case x => str(sb, x.toString)
  }

  private def seq(sb: StringBuilder, it: Iterator[Any]): Unit = {
    sb.append('[')
    var first = true
    it.foreach { x =>
      if (!first) sb.append(',')
      first = false
      write(sb, x)
    }
    sb.append(']')
  }
}
