package graft

import graft.ops.{CurateOps, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The spark-submit curation launcher: stage composition (cap → mix →
  * budget) must match the operator-level results exactly, the output is
  * commit-marked with a relaunch no-op, and bad flags fail before any
  * heavy work.
  */
class CurateMainSpec extends AnyFunSuite with SparkSuite {
  /** Skewed corpus: group g3 holds most docs; texts of varying length. */
  private def writeCorpus(n: Int = 200): String = {
    val rows = (0 until n).map { i =>
      val grp = "g" + math.min(i % 8, 3)
      val text = Iterator.tabulate(2 + i % 13)(j => s"w${(i + j) % 40}").mkString(" ")
      (i.toLong, grp, text)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_cm_in").toString
    spark.createDataFrame(rows).toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("full pipeline composes stage-exactly; relaunch is a reporting no-op") {
    val in = writeCorpus()
    val out = java.nio.file.Files.createTempDirectory("graft_cm_out").toString + "/curated"
    val s1 = CurateMain.run(spark, Map("in" -> in, "out" -> out,
      "cap" -> "30", "mix-alpha" -> "0.5", "mix-seed" -> "cm1", "budget" -> "300"))
    assert(!s1.skipped && s1.docsIn == 200)
    assert(s1.afterCap <= 4 * 30 && s1.afterCap < 200, s1.toString)
    assert(s1.afterMix <= s1.afterCap)
    assert(s1.afterBudget <= s1.afterMix)
    assert(s1.tokensKept <= 300 && s1.tokensKept > 0)

    // the written survivor set must equal composing the operators by hand
    val docs = spark.read.parquet(in)
    val score = length(col("text")).cast("double") * lit(1048576.0) -
      col("doc_id").cast("double")
    val capped = docs.join(
      CurateOps.capPerGroup(docs, "doc_id", "source", score, 30).select("doc_id"),
      "doc_id")
    val mixed = capped.join(
      CurateOps.mixByTemperature(capped, "doc_id", "text", "source",
        alpha = 0.5, seed = "cm1").select("doc_id"), "doc_id")
    val selected = CurateOps.budgetSelect(mixed, "doc_id",
      length(col("text")), TextOps.tokenCount(col("text")), 300L)
    val expected = selected.collect().map(_.getLong(0)).toSet
    val written = spark.read.parquet(out).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(written == expected,
      s"diff=${(written diff expected) ++ (expected diff written)}")

    val s2 = CurateMain.run(spark, Map("in" -> in, "out" -> out,
      "cap" -> "30", "mix-alpha" -> "0.5", "mix-seed" -> "cm1", "budget" -> "300"))
    assert(s2.skipped && s2.afterBudget == written.size)
  }

  test("stages default to off: plain copy keeps every doc and counts tokens") {
    val in = writeCorpus(60)
    val out = java.nio.file.Files.createTempDirectory("graft_cm_out2").toString + "/all"
    val s = CurateMain.run(spark, Map("in" -> in, "out" -> out))
    assert(s.afterBudget == 60 && s.afterCap == 60 && s.afterMix == 60)
    val expectedTokens = spark.read.parquet(in)
      .agg(sum(TextOps.tokenCount(col("text")).cast("long"))).head.getLong(0)
    assert(s.tokensKept == expectedTokens)
  }

  test("unknown and invalid flags fail before any work") {
    val in = writeCorpus(10)
    val out = java.nio.file.Files.createTempDirectory("graft_cm_out3").toString + "/x"
    intercept[IllegalArgumentException] {
      CurateMain.run(spark, Map("in" -> in, "out" -> out, "buget" -> "10"))
    }
    intercept[IllegalArgumentException] {
      CurateMain.run(spark, Map("in" -> in, "out" -> out, "mix-alpha" -> "1.5"))
    }
    intercept[IllegalArgumentException] {
      CurateMain.run(spark, Map("in" -> in, "out" -> out, "group-col" -> "nope"))
    }
    assert(!new java.io.File(s"$out/_COMMITTED").exists)
  }
}
