package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** `Verify` must name every query it could not write, not only log it. */
class VerifySpec extends AnyFunSuite with SparkSuite {
  override protected def cores: Int = 2

  test("a throwing query is returned as failed; the others are still written") {
    val out = Files.createTempDirectory("graft_verify").toString
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(3).toDF("id")
    val planted: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("planted")
    val failed = Verify.writeQueries(spark, "unused", out,
      Seq("q_ok" -> ok, "q_planted" -> planted, "q_ok2" -> ok))
    assert(failed == Seq("q_planted"))
    assert(spark.read.parquet(s"$out/q_ok").count() == 3)
    assert(spark.read.parquet(s"$out/q_ok2").count() == 3)
    assert(!new java.io.File(s"$out/q_planted").exists)
  }
}
