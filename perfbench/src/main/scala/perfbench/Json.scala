package perfbench

import scala.jdk.CollectionConverters._

/** Minimal JSON for the harness's side files: maps, sequences, strings,
  * numbers, booleans and null.
  */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Parses a JSON object file into Scala maps, sequences and doubles. */
  def parseFile(path: String): Map[String, Any] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    toScala(mapper.readValue(new java.io.File(path), classOf[Object])).asInstanceOf[Map[String, Any]]
  }

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toSeq
    case n: java.lang.Number => n.doubleValue
    case other => other
  }
}
