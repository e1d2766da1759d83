package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Writes `SparkEntry.oracleSql` for the named stages as one JSON object,
  * for deriving expected digests from the DuckDB mirror.
  *
  * Usage: OracleDump <out.json> <stage,...> */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val Array(out, stages) = args
    val sql = stages.split(",").map(s => s -> graft.SparkEntry.oracleSql(s)).toMap
    Files.writeString(Paths.get(out), new ObjectMapper().writeValueAsString(sql.asJava))
  }
}
