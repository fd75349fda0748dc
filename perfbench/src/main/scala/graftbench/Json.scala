package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON in and out with Jackson (on Spark's classpath): the plan file
  * from the launcher is read as a tree; results, spans and check records
  * are written from plain Scala maps, sequences and options. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def write(v: Any): String = mapper.writeValueAsString(v)
}
