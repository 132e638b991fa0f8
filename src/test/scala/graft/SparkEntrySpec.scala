package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry` pairs every query with a DuckDB oracle. */
class SparkEntrySpec extends AnyFunSuite {
  test("every query has an oracle and every oracle names a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((queries -- oracles).toSeq.sorted === Nil, "queries without an oracle")
    assert((oracles -- queries).toSeq.sorted === Nil, "oracles without a query")
  }
}
