package graft

import org.scalatest.funspec.AnyFunSpec

/** The query registry folded from [[SparkEntry.sets]]: no set shadows
  * another's key, and every query has exactly one oracle. */
class RegistrySuite extends AnyFunSpec {

  it("no query key is shadowed by another set") {
    assert(SparkEntry.sets.map(_.queries.size).sum == SparkEntry.queries.size)
  }

  it("every query has exactly one static or dynamic oracle") {
    val static = SparkEntry.oracleSql.keySet
    val dynamic = SparkEntry.dynamicOracleSql.keySet
    assert(static.intersect(dynamic).isEmpty)
    assert(SparkEntry.queries.keySet == static ++ dynamic)
  }

  it("registers 380 queries") {
    assert(SparkEntry.queries.size == 380)
  }
}
