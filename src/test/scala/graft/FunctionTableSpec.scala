package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graftshim.Extensions
import org.scalatest.funsuite.AnyFunSuite

class FunctionTableSpec extends AnyFunSuite {

  test("GraftExtensions injects every function-table entry") {
    val e = new SparkSessionExtensions
    new GraftExtensions()(e)
    val injected = Extensions.functionNames(e)
    val table = graft.functions.sqlFunctions.map(_._1)
    assert(table.contains("hilbert_index"))
    assert(table.filterNot(injected).isEmpty,
      s"missing from GraftExtensions: ${table.filterNot(injected)}")
  }
}
