package graft

import org.scalatest.funsuite.AnyFunSuite

/** The contract's query table, checked without a Spark session: building
  * the table runs no Spark face, only the oracle SQL builders. */
class QueryTableSpec extends AnyFunSuite {
  import SparkEntry.{Query, RowsOnly, Sql}

  private val table = SparkEntry.table

  test("the rows-only set is exactly ev_approx_distinct") {
    assert(table.collect { case (n, Query(_, RowsOnly)) => n }.toSet ==
      Set("ev_approx_distinct"))
  }

  test("oracleSql covers every query but the rows-only one") {
    assert(SparkEntry.oracleSql.keySet ==
      SparkEntry.queries.keySet - "ev_approx_distinct")
  }

  test("every oracle SQL string is non-empty") {
    val blank = table.collect { case (n, Query(_, Sql(sql))) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, s"empty oracle SQL: $blank")
  }
}
