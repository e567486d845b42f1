package perfbench

/** Minimal JSON writer for the run dump. Doubles use Java's shortest
  * round-trip form, so Python reads back the exact same value. */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) str(sb, d.toString) else sb ++= java.lang.Double.toString(d)
    case f: Float => write(sb, f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => sb ++= n.toString
    case d: java.math.BigDecimal => sb ++= d.toPlainString
    case d: scala.math.BigDecimal => sb ++= d.bigDecimal.toPlainString
    case m: Map[_, _] =>
      sb += '{'
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb += ','
        first = false
        str(sb, k.toString); sb += ':'; write(sb, x)
      }
      sb += '}'
    case a: Array[_] => write(sb, a.toSeq)
    case it: Iterable[_] =>
      sb += '['
      var first = true
      it.foreach { x =>
        if (!first) sb += ','
        first = false
        write(sb, x)
      }
      sb += ']'
    case r: org.apache.spark.sql.Row => write(sb, r.toSeq)
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
