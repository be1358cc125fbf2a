package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** A `DedupMain` run that dies between two artifact-stage commits, with no
  * test hook: `--max-iter 1` stops connected components unconverged, so
  * `dedupCorpus` throws after `pairs` is committed and before `labels`
  * exists. The relaunch must reuse `pairs` untouched and give a clean
  * run's survivors.
  */
class DedupResumeSpec extends AnyFunSuite with SparkSuite {
  private def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeCorpus(): String = {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
      "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi")
    val rows = (0 until 80).map { i =>
      (i.toLong, (0 until 40).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    // each planted copy is one edge whose round-1 label changes
    val planted = rows.take(20).map { case (i, t) => (1000L + i, t + " omega") }
    val dir = tmp("graft_dr_in")
    spark.createDataFrame(rows ++ planted).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def mtimes(dir: File): Map[String, Long] =
    dir.listFiles().map(f => f.getName -> f.lastModified).toMap

  private def survivors(out: String): Set[Long] =
    spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet

  test("a crash after the pairs commit resumes from pairs to a clean run's survivors") {
    val in = writeCorpus()
    val art = tmp("graft_dr_art")
    val out = tmp("graft_dr_out") + "/sv"
    val flags = Map("in" -> in, "out" -> out, "threshold" -> "0.7", "artifact-dir" -> art)

    val e = intercept[IllegalArgumentException](DedupMain.run(spark, flags + ("max-iter" -> "1")))
    assert(e.getMessage.contains("did not converge"), e.getMessage)
    val pairs = new File(s"$art/pairs")
    assert(new File(pairs, "_COMMITTED").exists)
    assert(!new File(s"$art/labels").exists && !new File(out).exists)
    val before = mtimes(pairs)

    val resumed = DedupMain.run(spark, flags)
    assert(mtimes(pairs) == before, "the committed pairs stage must be reused, not rewritten")
    assert(new File(s"$art/labels/_COMMITTED").exists)

    val cleanOut = tmp("graft_dr_clean") + "/sv"
    val clean = DedupMain.run(spark, Map("in" -> in, "out" -> cleanOut, "threshold" -> "0.7"))
    assert(resumed == clean && clean == DedupMain.Stats(100L, 80L, 20L, skipped = false))
    assert(survivors(out) == survivors(cleanOut))
  }
}
