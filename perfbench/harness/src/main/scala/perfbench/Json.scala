package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Minimal JSON support: Jackson (shipped with Spark) for reading the
  * run configuration, a tiny writer for the records the harness emits. */
object Json {
  private val mapper = new ObjectMapper()

  def parse(s: String): JsonNode = mapper.readTree(s)

  def strings(n: JsonNode): Seq[String] =
    if (n == null || n.isNull) Seq.empty
    else n.elements().asScala.map(_.asText()).toSeq

  /** Serialise maps, sequences, strings, numbers, booleans, options. */
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
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

  /** Whether `s` is one well-formed JSON document. */
  def isValid(s: String): Boolean =
    try { mapper.readTree(s) != null } catch { case _: Exception => false }
}
