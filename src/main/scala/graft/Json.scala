package graft

import java.io.StringWriter
import java.util.Locale

import scala.collection.immutable.VectorMap

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The one JSON writer (Jackson) behind every document graft emits.
  * Values: `String`, `Int`, `Long`, `Boolean`, `null`/`None`, `Some(v)`,
  * [[Raw]], a `collection.Map` (an object, in iteration order) and a
  * `Seq`/`Array`. Output is compact. */
object Json {

  /** Valid JSON text embedded as is: a `toJSON` row, a fixed-digit number. */
  final case class Raw(json: String)

  /** An object with its fields in the order given. */
  def obj(fields: (String, Any)*): VectorMap[String, Any] = VectorMap(fields: _*)

  /** `v` with `digits` decimals and a `.` separator in any default locale. */
  def fixed(v: Double, digits: Int): Raw =
    Raw(String.format(Locale.ROOT, s"%.${digits}f", Double.box(v)))

  private val mapper = new ObjectMapper()

  def write(v: Any): String = {
    val out = new StringWriter()
    val g = mapper.getFactory.createGenerator(out)
    try emit(g, v) finally g.close()
    out.toString
  }

  /** A document graft wrote, read back as a tree. */
  def read(text: String): JsonNode = mapper.readTree(text)

  private def emit(g: JsonGenerator, v: Any): Unit = v match {
    case null | None => g.writeNull()
    case Some(x) => emit(g, x)
    case s: String => g.writeString(s)
    case i: Int => g.writeNumber(i)
    case l: Long => g.writeNumber(l)
    case b: Boolean => g.writeBoolean(b)
    case Raw(json) => g.writeRawValue(json)
    case m: collection.Map[_, _] =>
      g.writeStartObject()
      m.foreach { case (k, x) => g.writeFieldName(k.toString); emit(g, x) }
      g.writeEndObject()
    case xs: Array[_] => emit(g, xs.toSeq)
    case xs: Iterable[_] =>
      g.writeStartArray()
      xs.foreach(emit(g, _))
      g.writeEndArray()
    case other => throw new IllegalArgumentException(
      s"no JSON form for ${other.getClass.getName}")
  }
}
