package perfbench

/** Minimal JSON writer for the harness's raw output (maps keep insertion
  * order; `Raw` splices already-rendered JSON such as Spark's progress). */
object Json {
  final case class Raw(json: String)

  def write(v: Any): String = {
    val sb = new StringBuilder
    def go(x: Any): Unit = x match {
      case null                => sb ++= "null"
      case Raw(j)              => sb ++= j
      case s: String           => str(s)
      case b: Boolean          => sb ++= b.toString
      case d: Double           => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float            => go(f.toDouble)
      case n: Int              => sb ++= n.toString
      case n: Long             => sb ++= n.toString
      case n: java.lang.Number => sb ++= n.toString
      case Some(y)             => go(y)
      case None                => sb ++= "null"
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        var first = true
        m.foreach { case (k, y) =>
          if (!first) sb += ','
          first = false
          str(k.toString); sb += ':'; go(y)
        }
        sb += '}'
      case a: Array[_]                   => go(a.toSeq)
      case s: scala.collection.Iterable[_] =>
        sb += '['
        var first = true
        s.foreach { y => if (!first) sb += ','; first = false; go(y) }
        sb += ']'
      case p: Product                    => go(p.productIterator.toSeq)
      case other                         => str(other.toString)
    }
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"'          => sb ++= "\\\""
        case '\\'         => sb ++= "\\\\"
        case '\n'         => sb ++= "\\n"
        case '\r'         => sb ++= "\\r"
        case '\t'         => sb ++= "\\t"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c            => sb += c
      }
      sb += '"'
    }
    go(v)
    sb.toString
  }
}
