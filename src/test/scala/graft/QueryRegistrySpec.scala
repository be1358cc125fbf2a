package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.queries` and `SparkEntry.oracleSql` are views over one
  * registry: no name may be dropped on the way, and a query has an oracle
  * exactly when its entry carries one.
  */
class QueryRegistrySpec extends AnyFunSuite {
  import SparkEntry.Q

  test("a repeated query name is rejected, not silently dropped") {
    val build = (_: SparkSession, _: String) => throw new IllegalStateException("never built")
    val e = intercept[IllegalArgumentException](SparkEntry.byName(Seq(
      Q("q_a", build, Some("SELECT 1")), Q("q_b", build, None), Q("q_a", build, None))))
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"), e.getMessage)
  }

  test("the views keep every registry entry: 106 queries, 102 oracled") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 106 && SparkEntry.queries.keySet == names.toSet)
    val oracled = SparkEntry.registry.filter(_.oracle.isDefined).map(_.name).toSet
    assert(oracled.size == 102 && SparkEntry.oracleSql.keySet == oracled)
  }
}
