package perfbench

import java.nio.file.Paths

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the benchmark's own files: Scala maps, sequences and
  * scalars out, Jackson trees in (Jackson and its Scala module ship with
  * Spark).
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def parse(s: String): JsonNode = mapper.readTree(s)

  def read(path: String): JsonNode = mapper.readTree(Paths.get(path).toFile)

  def write(path: String, v: Any): Unit = mapper.writeValue(Paths.get(path).toFile, v)
}
