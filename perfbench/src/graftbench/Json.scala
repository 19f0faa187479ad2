package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON for the plan (read) and the raw result (written). */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: java.nio.file.Path): JsonNode = mapper.readTree(path.toFile)

  def render(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Number => sb ++= n.toString
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        m.iterator.zipWithIndex.foreach { case ((k, vv), i) =>
          if (i > 0) sb += ','
          str(k.toString); sb += ':'; go(vv)
        }
        sb += '}'
      case it: Iterable[_] =>
        sb += '['
        it.iterator.zipWithIndex.foreach { case (vv, i) => if (i > 0) sb += ','; go(vv) }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
