package graft.perfbench

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.jdk.CollectionConverters._

/** JSON I/O through Jackson: trees in; Scala maps, sequences, options
  * and plain values out, decimals with their exact digits. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .enable(JsonGenerator.Feature.WRITE_BIGDECIMAL_AS_PLAIN)

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def elems(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq

  def save(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}
