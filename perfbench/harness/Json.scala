package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Minimal JSON: Jackson for reading the generated spec, a small printer for
  * the result and the trace lines.
  */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.properties().asScala.map(e => e.getKey -> e.getValue).toSeq

  def elems(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => render(other.toString)
  }

  def obj(fields: Iterable[(String, Any)]): String =
    fields.map { case (k, v) => render(k) + ":" + render(v) }.mkString("{", ",", "}")
}
