package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Writes `SparkEntry.oracleSql` (name → DuckDB-dialect SQL) as one JSON
  * object, so the Python load generator can replay the oracle corpus
  * over the wire without a Spark session.
  *
  *   OracleDump OUT.json
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val body = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{\n", ",\n", "\n}\n")
    Files.write(Paths.get(args(0)), body.getBytes(UTF_8))
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
