package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** JSON in and out through the Jackson that ships with Spark. Scala
  * maps and sequences are converted to their Java shapes on the way
  * out; the plan comes in as a Jackson tree.
  */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def write(path: String, value: Any): Unit =
    mapper.writeValue(new java.io.File(path), toJava(value))

  def strings(node: JsonNode): Seq[String] =
    node.elements().asScala.map(_.asText).toSeq

  private def toJava(v: Any): AnyRef = v match {
    case null => null
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] =>
      val l = new java.util.ArrayList[AnyRef]()
      s.foreach(x => l.add(toJava(x)))
      l
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case x: AnyRef => x
  }
}
