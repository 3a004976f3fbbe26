package perfbench

/** Minimal JSON-lines writer: the harness emits flat records of strings,
  * numbers and lists that `run.py` reads back. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Append-only record sink, one JSON object per line. */
final class Records(path: String) {
  private val out = new java.io.PrintWriter(
    new java.io.OutputStreamWriter(new java.io.FileOutputStream(path), "UTF-8"))
  def write(kind: String, fields: (String, Any)*): Unit = synchronized {
    out.println(Json.obj(("kind" -> kind) +: fields))
    out.flush()
  }
  def close(): Unit = synchronized(out.close())
}
