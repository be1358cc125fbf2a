package graft

import org.scalatest.funsuite.AnyFunSuite

/** The spark-submit shard-writer launcher: deterministic shuffled shards
  * with commit marker, completed-run no-op, nested sampling, flag
  * validation.
  */
class ShardMainSpec extends AnyFunSuite with SparkSuite {
  private def writeCorpus(n: Int = 150): String = {
    val rows = (0 until n).map(i => (i.toLong, s"document body number $i"))
    val dir = java.nio.file.Files.createTempDirectory("graft_sm_in").toString
    spark.createDataFrame(rows).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("end-to-end launch: every doc exactly once, pos a permutation, relaunch no-op") {
    val in = writeCorpus()
    val out = java.nio.file.Files.createTempDirectory("graft_sm_out").toString + "/shards"
    val s1 = ShardMain.run(spark, Map("in" -> in, "out" -> out, "shards" -> "8"))
    assert(!s1.skipped && s1.docsIn == 150 && s1.docsKept == 150 && s1.shards == 8)
    val written = spark.read.parquet(out)
    val rows = written.select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.map(_._1).toSet == (0L until 150L).toSet, "every doc exactly once")
    assert(rows.map(_._3).sorted.toSeq == (0L until 150L).toSeq, "pos is a permutation")
    assert(rows.forall { case (_, sh, pos) => sh == pos * 8 / 150 })
    assert(rows.map(_._2).distinct.sorted.toSeq == (0 until 8), "all 8 shards present")
    assert(new java.io.File(s"$out/_COMMITTED").exists)
    // relaunch after success: reporting no-op, nothing rewritten
    val mtime = new java.io.File(out).lastModified
    val s2 = ShardMain.run(spark, Map("in" -> in, "out" -> out, "shards" -> "8"))
    assert(s2.skipped && s2.docsKept == 150 && s2.shards == 8)
    assert(new java.io.File(out).lastModified == mtime)
  }

  test("same seed reproduces identical placement; different seed permutes") {
    val in = writeCorpus(80)
    def launch(seed: String): Map[Long, (Int, Long)] = {
      val out = java.nio.file.Files.createTempDirectory("graft_sm_o").toString + "/s"
      ShardMain.run(spark, Map("in" -> in, "out" -> out, "shards" -> "4", "seed" -> seed))
      spark.read.parquet(out).select("doc_id", "shard", "pos").collect()
        .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).toMap
    }
    val a = launch("sA")
    val b = launch("sA")
    val c = launch("sB")
    assert(a == b, "same seed must reproduce byte-identical placement")
    assert(a != c, "a different seed must produce a different order")
  }

  test("sample-mille down-samples and nests (smaller sample ⊆ larger)") {
    val in = writeCorpus(200)
    def keptIds(mille: String): Set[Long] = {
      val out = java.nio.file.Files.createTempDirectory("graft_sm_s").toString + "/s"
      ShardMain.run(spark, Map("in" -> in, "out" -> out, "shards" -> "4",
        "sample-mille" -> mille))
      spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val k300 = keptIds("300")
    val k700 = keptIds("700")
    assert(k300.size < 200 && k700.size < 200 && k300.size < k700.size)
    assert(k300.subsetOf(k700), "hash-threshold samples must nest")
  }

  test("an empty keep set commits a readable empty output, not a poisoned dir") {
    val in = writeCorpus(20)
    val out = java.nio.file.Files.createTempDirectory("graft_sm_e").toString + "/s"
    val s1 = ShardMain.run(spark, Map("in" -> in, "out" -> out, "shards" -> "4",
      "sample-mille" -> "0"))
    assert(!s1.skipped && s1.docsIn == 20 && s1.docsKept == 0 && s1.shards == 0)
    // the output reads back (schema preserved) and a relaunch is a no-op
    assert(spark.read.parquet(out).count() == 0)
    val s2 = ShardMain.run(spark, Map("in" -> in, "out" -> out, "shards" -> "4",
      "sample-mille" -> "0"))
    assert(s2.skipped && s2.docsKept == 0)
  }

  test("unknown flags and bad rates fail before any work") {
    val e1 = intercept[IllegalArgumentException] {
      ShardMain.run(spark, Map("in" -> "x", "out" -> "y", "shard" -> "8"))
    }
    assert(e1.getMessage.contains("--shard"))
    val e2 = intercept[IllegalArgumentException] {
      ShardMain.run(spark, Map("in" -> "x", "out" -> "y", "sample-mille" -> "1500"))
    }
    assert(e2.getMessage.contains("sample-mille"))
  }
}
