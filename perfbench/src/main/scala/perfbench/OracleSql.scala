package perfbench

import java.nio.file.Path

import scala.collection.immutable.ListMap

/** Writes the DuckDB oracle SQL of the `ops_slice` battery entries as JSON
  * (`{"<entry>": "<sql>"}`), so the oracle can run outside the JVM.
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val names = new Workloads.OpsSlice().entries.flatMap(_._2)
    Json.write(Path.of(args(0)), ListMap(names.map(n => n -> sql(n)): _*))
  }
}
