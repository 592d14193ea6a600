package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON in and out (Jackson ships with Spark). */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode =
    mapper.readTree(new java.io.File(path))

  def str(s: String): String = mapper.writeValueAsString(s)

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")

  def write(path: String, text: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), text)
}
