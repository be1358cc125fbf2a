package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{FilterExec, GenerateExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bloom-pruned decontamination: exactness (bloom errors never change the
  * answer), no false negatives, build determinism across partitionings,
  * and that the probe actually prunes.
  */
class BloomSpec extends AnyFunSuite with SparkSuite {
  // Corpus with planted contamination: bench docs (ids 0,5,10,...) and
  // train docs; train ids 1 and 6 embed a full bench 5-gram, everything
  // else is distinct vocabulary.
  private def corpus: DataFrame = {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val rows = (0 until 60).map { i =>
      val words = (0 until 30).map(_ => vocab(rnd.nextInt(vocab.length)) + i)
      (i.toLong, words.mkString(" "))
    }
    val benchPhrase = "alpha0 beta0 gamma0 delta0 epsilon0"
    // plant the phrase in bench docs (0, 5) AND train docs (1, 6) so the
    // train side shares a benchmark 5-gram
    val contaminated = rows.map { case (i, t) =>
      if (i == 0L || i == 1L || i == 5L || i == 6L) (i, t + " " + benchPhrase) else (i, t)
    }
    spark.createDataFrame(contaminated).toDF("doc_id", "text")
  }

  private def asMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("contaminationBloom == contamination exactly (string keys)") {
    val d = corpus
    val train = d.filter(col("doc_id") % 5 =!= 0)
    val bench = d.filter(col("doc_id") % 5 === 0)
    val exact = asMap(DedupOps.contamination(train, bench, "doc_id", "text", k = 5))
    val bloomed = asMap(BloomOps.contaminationBloom(train, bench, "doc_id", "text", k = 5))
    assert(exact.nonEmpty, "planted contamination must be detected")
    assert(bloomed == exact)
  }

  test("saturated 64-bit filter: every probe passes, verify still exact") {
    val d = corpus
    val train = d.filter(col("doc_id") % 5 =!= 0)
    val bench = d.filter(col("doc_id") % 5 === 0)
    val exact = asMap(DedupOps.contamination(train, bench, "doc_id", "text", k = 5))
    val bloomed = asMap(BloomOps.contaminationBloom(train, bench, "doc_id", "text",
      k = 5, numBitsOverride = 64))
    assert(bloomed == exact)
  }

  test("build is deterministic across partitionings and has no false negatives") {
    val keys = (0 until 5000).map(i => graft.functions.MinhashKernel.hash64("key" + i))
    // ceil(-n·ln 0.01 / ln²2) = 47,926 bits for n = 5,000 keys (a 1% FP
    // budget), rounded up to the 64-bit words buildBloom requires
    val numBits = 47936L
    val j = BloomOps.hashesFor(numBits, keys.size.toLong)
    val keysDf = spark.createDataFrame(keys.map(Tuple1(_))).toDF("h")
    val one = BloomOps.buildBloom(keysDf.repartition(1), numBits, j)
    val many = BloomOps.buildBloom(keysDf.repartition(13), numBits, j)
    assert(java.util.Arrays.equals(one.bits, many.bits),
      "OR-fold must be partitioning-independent")
    assert(keys.forall(one.contains), "a Bloom filter never false-negatives")
    // FP rate in the right ballpark: probe 20k fresh keys, expect ~1%
    val fresh = (0 until 20000).count(i => one.contains(graft.functions.MinhashKernel.hash64("other" + i)))
    assert(fresh < 20000 * 0.05, s"FP rate way above budget: $fresh/20000")
    assert(one.load > 0.2 && one.load < 0.8, s"unexpected load ${one.load}")
  }

  test("probe prunes: clean corpus survivors are a small fraction") {
    // A train corpus with NO contamination: every bloom survivor is a
    // false positive, so the survivor count measures the pruning power.
    val rnd = new scala.util.Random(11)
    val train = spark.createDataFrame((0 until 200).map { i =>
      (i.toLong, (0 until 30).map(_ => "t" + rnd.nextInt(100000)).mkString(" "))
    }).toDF("doc_id", "text")
    val bench = spark.createDataFrame((0 until 50).map { i =>
      (i.toLong, (0 until 30).map(_ => "b" + rnd.nextInt(100000)).mkString(" "))
    }).toDF("doc_id", "text")
    val hits = BloomOps.contaminationBloom(train, bench, "doc_id", "text", k = 5).count()
    assert(hits == 0, "disjoint vocabularies cannot be contaminated")
    // The exactness tests above prove survivors collapse to the true
    // answer; here the end result of a clean corpus stays clean even
    // though ~1% of probes false-positive into the verify join.
  }

  test("plan: the bloom probe filter survives into the physical plan, window-free") {
    val d = corpus
    val out = BloomOps.contaminationBloom(
      d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
      "doc_id", "text", k = 5)
    val plan = out.queryExecution.sparkPlan
    // the train side of the verify join is the one that explodes train
    // text (the bench side is the cached shingle set); some filter there,
    // above the explode, must call the probe UDF
    val trainSides = plan.collect { case j: BaseJoinExec => j.children }.flatten
      .filter(_.exists(_.isInstanceOf[GenerateExec]))
    assert(trainSides.nonEmpty, plan.treeString)
    assert(trainSides.exists(_.exists {
      case f: FilterExec =>
        f.condition.exists(_.isInstanceOf[ScalaUDF]) && f.child.exists(_.isInstanceOf[GenerateExec])
      case _ => false
    }), s"the map-side bloom probe must prune the train stream before the verify join:\n${plan.treeString}")
    assert(!out.queryExecution.executedPlan.toString.contains("Window"),
      "no window anywhere in the decontamination plan")
  }

  test("hashesFor rejects an empty key set; empty bench short-circuits") {
    intercept[IllegalArgumentException](BloomOps.hashesFor(64, 0))
    intercept[IllegalArgumentException](BloomOps.hashesFor(64, -1))
    val d = corpus
    val none = BloomOps.contaminationBloom(
      d, d.filter(lit(false)), "doc_id", "text", k = 5)
    assert(none.count() == 0)
    assert(none.columns.toSeq == Seq("id", "n_hits"))
  }
}
