package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON helpers over the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper()
  def str(s: String): String = mapper.writeValueAsString(s)
  def read(path: java.nio.file.Path): JsonNode = mapper.readTree(path.toFile)
  def write(path: java.nio.file.Path, value: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(path.toFile, toJava(value))
  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] =>
      val out = new java.util.ArrayList[Any]()
      s.foreach(x => out.add(toJava(x)))
      out
    case Some(x) => toJava(x)
    case None => null
    case x => x
  }
}
