package graft.perfbench

/** Minimal JSON rendering for the benchmark's artifacts (maps, sequences,
  * numbers, strings, booleans, null). Non-finite doubles render as null. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      render(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
