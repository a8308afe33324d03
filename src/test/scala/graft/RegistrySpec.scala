package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CoreQueries, ExtQueries, QuerySpec}

/** Pins the query registry behind [[SparkEntry]]: the correctness
  * surface (every entry carries DuckDB oracle SQL) and the bench-only
  * timings (no oracle) keep their sizes and stay disjoint. */
class RegistrySpec extends AnyFunSuite {

  test("282 correctness entries, each with non-blank oracle SQL") {
    val oracles = SparkEntry.oracleSql
    assert(oracles.size == 282)
    val blank = oracles.collect {
      case (name, sql) if sql == null || sql.trim.isEmpty => name
    }
    assert(blank.isEmpty, s"null or blank oracle SQL: $blank")
  }

  test("oracleSql covers exactly the queries") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("15 bench-only entries, disjoint from the correctness surface") {
    assert(SparkEntry.benchExtra.size == 15)
    assert(SparkEntry.queries.keySet.intersect(SparkEntry.benchExtra.keySet).isEmpty)
  }

  test("names are unique across the core and extension lists") {
    val names = (CoreQueries.queries ++ ExtQueries.queries).map(_.name)
    assert(names.size == 297)
    assert(names.distinct == names)
  }

  test("a registry with two equal names fails when built") {
    val q = CoreQueries.queries.head
    val e = intercept[IllegalArgumentException](QuerySpec.unique(Seq(q, q.copy(oracle = None))))
    assert(e.getMessage.contains(q.name))
  }
}
