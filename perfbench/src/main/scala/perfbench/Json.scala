package perfbench

import java.util.{LinkedHashMap => JMap}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Plan in, result out: both are JSON files, so the result never passes
  * through a build tool's console output. */
object Json {
  private val mapper = new ObjectMapper()

  def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def write(path: String, value: Any): Unit = {
    val tmp = new java.io.File(path + ".tmp")
    mapper.writeValue(tmp, value)
    java.nio.file.Files.move(tmp.toPath, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
