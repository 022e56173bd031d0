package perfbench

/** Minimal JSON writer for the result and trace files (the harness
  * only emits JSON; run.py parses it).
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def value(v: Any): String = v match {
    case null              => "null"
    case s: String         => str(s)
    case b: Boolean        => b.toString
    case i: Int            => i.toString
    case l: Long           => l.toString
    case d: Double         => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_]    => s.map(value).mkString("[", ",", "]")
    case other             => str(other.toString)
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      value(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
