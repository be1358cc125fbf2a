package graft

import org.scalatest.funsuite.AnyFunSuite

/** Queries whose oracle green would mean nothing on an empty result must
  * select rows from the generated tables.
  */
class NonEmptyQuerySpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  for (name <- Seq("q_filter_dates", "q_anti_join"))
    test(s"$name returns rows at sf0.001") {
      assert(SparkEntry.queries(name)(spark, sfDir).count() > 0)
    }
}
