package perfbench

import scala.collection.mutable

/** Prints the DuckDB oracle SQL of the headline queries as one JSON
  * object (name → SQL), for `perfbench/oracle.py`. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    println(Json.render(mutable.LinkedHashMap(
      graft.Bench.headlineNames.map(n => n -> sql(n)): _*)))
  }
}
