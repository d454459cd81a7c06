package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Writes the harness's maps and sequences as JSON (Jackson, from Spark's jars). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), mapper.writeValueAsString(v))
}
