package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.registry.Query

/** The registry as data: one declaration per name, built without a
  * Spark session. */
class RegistrySpec extends AnyFunSuite {

  test("the registry declares 203 distinct names, each query with its " +
      "oracle") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 203 && names.distinct.size == 203)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
  }

  test("building a registry with a name declared twice throws, naming " +
      "it") {
    val first = SparkEntry.registry.head
    val twice = Query("op99_declared_twice", (s, _) => s.emptyDataFrame,
      "SELECT 1")
    val e = intercept[IllegalArgumentException](
      Query.registry(Seq(twice, first, twice)))
    assert(e.getMessage.contains("op99_declared_twice"))
    assert(!e.getMessage.contains(first.name))
  }
}
