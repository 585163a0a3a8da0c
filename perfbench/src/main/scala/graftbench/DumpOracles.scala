package graftbench

import java.nio.file.{Files, Paths}

/** Writes the DuckDB oracle SQL of the analytics queries as JSON, for
  * `perfbench/oracle.py`. Run once per build: the SQL is code, not data.
  */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val body = Analytics.names.map(n => n -> Json.str(sql(n)))
    Files.write(Paths.get(args(0)), Json.obj(body).getBytes("UTF-8"))
  }
}
