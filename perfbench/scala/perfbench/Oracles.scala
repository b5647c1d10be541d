package perfbench

import scala.jdk.CollectionConverters._

/** Writes every catalog query's DuckDB oracle SQL (`SparkEntry.oracleSql`)
  * as one JSON object, for the expected-result step of the benchmark.
  *
  * Usage: perfbench.Oracles <out.json>
  */
object Oracles {
  def main(args: Array[String]): Unit = {
    val sorted = new java.util.TreeMap[String, String](graft.SparkEntry.oracleSql.asJava)
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(args(0)), sorted)
  }
}
