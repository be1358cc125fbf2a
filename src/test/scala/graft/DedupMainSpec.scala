package graft

import org.scalatest.funsuite.AnyFunSuite

/** The spark-submit dedup launcher: survivor write with commit marker,
  * completed-run no-op on relaunch, keeper-policy flags, artifact-stage
  * resume wiring.
  */
class DedupMainSpec extends AnyFunSuite with SparkSuite {
  private def writeCorpus(): String = {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
      "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi")
    val rows = (0 until 120).map { i =>
      (i.toLong, (0 until 40).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val planted = rows.take(30).map { case (i, t) => (1000L + i, t + " omega") }
    val dir = java.nio.file.Files.createTempDirectory("graft_dm_in").toString
    spark.createDataFrame(rows ++ planted).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("end-to-end launch: survivors written + committed; relaunch is a no-op") {
    val in = writeCorpus()
    val out = java.nio.file.Files.createTempDirectory("graft_dm_out").toString + "/sv"
    val art = java.nio.file.Files.createTempDirectory("graft_dm_art").toString
    val s1 = DedupMain.run(spark, Map("in" -> in, "out" -> out,
      "threshold" -> "0.7", "artifact-dir" -> art))
    assert(!s1.skipped && s1.docsIn == 150 && s1.survivors == 120 && s1.dropped == 30)
    val ids = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == (0L until 120L).toSet)
    assert(new java.io.File(s"$out/_COMMITTED").exists)
    // dedupCorpus's own stage artifacts were produced under --artifact-dir
    assert(new java.io.File(s"$art/pairs/_COMMITTED").exists)
    assert(new java.io.File(s"$art/labels/_COMMITTED").exists)
    // a relaunch of a COMPLETED run must not rewrite anything
    val before = new java.io.File(out).lastModified
    val s2 = DedupMain.run(spark, Map("in" -> in, "out" -> out))
    assert(s2.skipped && s2.survivors == 120)
    assert(new java.io.File(out).lastModified == before)
  }

  test("keep-by longest flips survivors to the planted (longer) copies") {
    val in = writeCorpus()
    val out = java.nio.file.Files.createTempDirectory("graft_dm_out2").toString + "/sv"
    val s = DedupMain.run(spark, Map("in" -> in, "out" -> out,
      "threshold" -> "0.7", "keep-by" -> "longest"))
    assert(s.survivors == 120)
    val ids = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == (30L until 120L).toSet ++ (0 until 30).map(i => 1000L + i))
  }

  test("bad flags fail fast") {
    intercept[RuntimeException] {
      DedupMain.run(spark, Map("in" -> "/nope", "out" -> "/x", "keep-by" -> "newest"))
    }
    intercept[RuntimeException] { DedupMain.run(spark, Map("out" -> "/x")) }
    // a typo'd flag must not silently launch with defaults
    val ex = intercept[IllegalArgumentException] {
      DedupMain.run(spark, Map("in" -> "/nope", "out" -> "/x", "thresold" -> "0.9"))
    }
    assert(ex.getMessage.contains("--thresold"), ex.getMessage)
  }
}
