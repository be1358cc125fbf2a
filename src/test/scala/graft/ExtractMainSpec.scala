package graft

import graft.pipeline.TranscriptGen
import org.scalatest.funsuite.AnyFunSuite

/** The spark-submit extract launcher: bucket-committed output, relaunch
  * over a complete output, and input checks before any output is made.
  */
class ExtractMainSpec extends AnyFunSuite with SparkSuite {
  private lazy val in = {
    val dir = java.nio.file.Files.createTempDirectory("graft_em_in").toString
    TranscriptGen.turns(spark, 2000, seed = 42, partitions = 4).write.mode("overwrite").parquet(dir)
    dir
  }
  private def freshOut() =
    java.nio.file.Files.createTempDirectory("graft_em_out").toString + "/out"

  test("a run writes only committed bucket dirs; a relaunch completes every bucket") {
    val out = freshOut()
    val s1 = ExtractMain.run(spark, Map("in" -> in, "out" -> out, "buckets" -> "8"))
    assert(s1.rows == 2000 && s1.completedBuckets == 8 && s1.out == out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
    assert(dirs.map(_.getName).sorted.toSeq == (0 until 8).map(b => s"bucket=$b"))
    assert(dirs.forall(d => new java.io.File(d, "_COMMITTED").exists))
    // nothing is pending, so the relaunch extracts no row and rewrites none
    val s2 = ExtractMain.run(spark, Map("in" -> in, "out" -> out, "buckets" -> "8"))
    assert(s2.rows == 0 && s2.completedBuckets == 8)
    assert(spark.read.parquet(out).count() == 2000)
  }

  test("--lineage writes the pass's records; a relaunch writes none and reads no input") {
    val out = freshOut()
    val lineage = out + "_lineage"
    val spans = out + "_spans"
    val args = Map("in" -> in, "out" -> out, "buckets" -> "8", "lineage" -> lineage,
      "spans" -> spans)
    def records() = spark.read.parquet(lineage).collect()
      .map(r => (r.getAs[Int]("partition_id"), r.getAs[Long]("rows"), r.getAs[Long]("parse_errors")))
    def spanRows() = spark.read.parquet(spans).collect().map(_.toString).sorted.toSeq
    val s1 = ExtractMain.run(spark, args)
    val fresh = records()
    val spanTable = spanRows()
    assert(fresh.map(_._1).sorted.toSeq == (0 until spark.read.parquet(in).rdd.getNumPartitions))
    assert(s1.rows == 2000 && fresh.map(_._2).sum == s1.rows)
    assert(fresh.map(_._3).sum == s1.parseErrors)
    assert(spanTable.nonEmpty && new java.io.File(spans, "_COMMITTED").exists)
    var s2: ExtractMain.Stats = null
    val jobs = jobsOf { s2 = ExtractMain.run(spark, args) }
    val relaunch = records()
    assert(s2.rows == 0 && s2.completedBuckets == 8)
    assert(relaunch.map(_._2).sum == 0L, relaunch.toSeq)
    // the lineage write; the input is not even resolved and the committed
    // span table is not rewritten
    assert(jobs == 1)
    assert(spanRows() == spanTable)
    assert(jobsOf(ExtractMain.run(spark, args - "lineage")) == 0)
    // a span write that died before its marker is redone in full
    assert(new java.io.File(spans, "_COMMITTED").delete())
    assert(jobsOf(ExtractMain.run(spark, args - "lineage")) > 0)
    assert(spanRows() == spanTable && new java.io.File(spans, "_COMMITTED").exists)
  }

  test("a typo'd flag fails before any output exists") {
    val out = freshOut()
    val e = intercept[IllegalArgumentException](
      ExtractMain.run(spark, Map("in" -> in, "out" -> out, "bucket" -> "8")))
    assert(e.getMessage.contains("--bucket"), e.getMessage)
    assert(!new java.io.File(out).exists)
  }

  test("--buckets must be positive") {
    for (b <- Seq("0", "-4")) {
      val out = freshOut()
      val e = intercept[IllegalArgumentException](
        ExtractMain.run(spark, Map("in" -> in, "out" -> out, "buckets" -> b)))
      assert(e.getMessage.contains("--buckets"), e.getMessage)
      assert(!new java.io.File(out).exists)
    }
  }
}
