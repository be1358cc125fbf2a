package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** LM scoring + semantic-dedup correctness: bigram/unigram models against
  * hand-computed probabilities, the NULL contracts for evidence-free
  * documents, DSIR likelihood ratios, and SemDeDup's within-cluster
  * first-id-wins survivor set (including singleton and NULL clusters).
  */
class LmOpsSpec extends AnyFunSuite with SparkSuite {
  test("bigramLm: counts and vocab match hand tally") {
    val ref = spark.createDataFrame(Seq((1L, "a b a"), (2L, "b a")))
      .toDF("id", "text")
    val (bi, uni, v) = LmOps.bigramLm(ref, "text")
    assert(v === 2)
    val bc = bi.collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(bc === Map(("a", "b") -> 1L, ("b", "a") -> 2L))
    val uc = uni.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(uc === Map("a" -> 3L, "b" -> 2L))
  }

  test("perplexityBits: hand-computed bits; <2 tokens and empty score NULL") {
    val ref = spark.createDataFrame(Seq((1L, "a b a"), (2L, "b a")))
      .toDF("id", "text")
    val (bi, uni, v) = LmOps.bigramLm(ref, "text")
    val docs = spark.createDataFrame(Seq(
      (10L, "a b a"),   // (a,b): -log2(2/5)=1.321928; (b,a): -log2(3/4)=0.415037
      (11L, "b a"),     // 0.415037
      (12L, "z a"),     // unseen context: -log2(1/2)=1.0
      (13L, "a"),       // 1 token -> NULL
      (14L, "")         // empty -> NULL
    )).toDF("id", "text")
    val out = LmOps.perplexityBits(docs, "id", "text", bi, uni, v)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    assert(out(10L) === ((2L, Some(0.8685)))) // (1.321928+0.415037)/2 = 0.8684825
    assert(out(11L) === ((1L, Some(0.415))))
    assert(out(12L) === ((1L, Some(1.0))))
    assert(out(13L) === ((0L, None)))
    assert(out(14L) === ((0L, None)))
  }

  test("perplexityBits: gibberish scores strictly worse than in-domain text") {
    val ref = spark.createDataFrame((0 until 50).map(i =>
      (i.toLong, "the cat sat on the mat and the dog ran to the cat")))
      .toDF("id", "text")
    val (bi, uni, v) = LmOps.bigramLm(ref, "text")
    val docs = spark.createDataFrame(Seq(
      (1L, "the cat sat on the mat"),
      (2L, "zq xv qqj wmpf zzt yyr"))).toDF("id", "text")
    val out = LmOps.perplexityBits(docs, "id", "text", bi, uni, v)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(out(1L) < out(2L),
      s"fluent ${out(1L)} should beat gibberish ${out(2L)}")
  }

  test("ngramLm(3): hand-computed trigram bits; <3 tokens NULL; n=2 == bigramLm") {
    val ref = spark.createDataFrame(Seq((1L, "a b a b"))).toDF("id", "text")
    val (ng, ctx, v) = LmOps.ngramLm(ref, "text", n = 3)
    assert(v === 2)
    val docs = spark.createDataFrame(Seq(
      // contexts count EVERY 2-gram occurrence (bigram convention):
      // cc("a b")=2 in "a b a b", so p = (1+1)/(2+2) -> 1.0 bit
      (10L, "a b a"),
      (11L, "a a a"),  // unseen ctx "a a": p=1/2 -> 1.0
      (12L, "a b")     // <3 tokens -> NULL
    )).toDF("id", "text")
    val out = LmOps.perplexityBitsN(docs, "id", "text", ng, ctx, v, n = 3)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    assert(out(10L) === ((1L, Some(1.0))))
    assert(out(11L) === ((1L, Some(1.0))))
    assert(out(12L) === ((0L, None)))
    // the order-2 instance must reproduce bigramLm's scores exactly
    val ref2 = spark.createDataFrame(Seq((1L, "a b a"), (2L, "b a")))
      .toDF("id", "text")
    val (bi, uni, v2) = LmOps.bigramLm(ref2, "text")
    val (ng2, ctx2, v2n) = LmOps.ngramLm(ref2, "text", n = 2)
    assert(v2 === v2n)
    val d2 = spark.createDataFrame(Seq((1L, "a b a"), (2L, "z a"), (3L, "")))
      .toDF("id", "text")
    val a = LmOps.perplexityBits(d2, "id", "text", bi, uni, v2)
      .collect().map(r => (r.getLong(0), Option(r.get(2)))).toMap
    val b = LmOps.perplexityBitsN(d2, "id", "text", ng2, ctx2, v2n, n = 2)
      .collect().map(r => (r.getLong(0), Option(r.get(2)))).toMap
    assert(a === b)
  }

  test("dsirLogRatio: hand-computed ratio; target-like text weighs positive") {
    val target = spark.createDataFrame(Seq((1L, "a a"))).toDF("id", "text")
    val raw = spark.createDataFrame(Seq((1L, "a a"), (2L, "b"))).toDF("id", "text")
    val docs = spark.createDataFrame(Seq(
      (10L, "a b"), // a: log2(3/3)-log2(3/5)=0.736966; b: log2(1/3)-log2(2/5)=-0.263034
      (11L, "a"),   // 0.736966 -> 0.737
      (12L, "")     // no tokens -> NULL
    )).toDF("id", "text")
    val out = LmOps.dsirLogRatio(docs, "id", "text", target, "text", raw, "text")
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    assert(out(10L) === ((2L, Some(0.237)))) // (0.736966-0.263034)/2 = 0.236966
    assert(out(11L) === ((1L, Some(0.737))))
    assert(out(12L) === ((0L, None)))
  }

  test("semDedup: within-cluster first-id-wins; singleton/NULL clusters survive") {
    val rows = Seq(
      (0L, Array(1.0, 0.0)),    // cluster 1 — survives (lowest id)
      (1L, Array(0.99, 0.001)), // cluster 1, cos vs id0 ~0.9999995 — drops
      (2L, Array(0.0, 1.0)),    // cluster 2, singleton — survives
      (3L, Array(1.0, 0.9)),    // cluster 1, cos vs id0 ~0.743 — survives
      (4L, Array(1.0, 0.0)),    // NULL cluster (forced below) — survives
      (5L, Array(1.0, 0.0)))    // cluster 1, exact copy of id0 — drops
    val df = spark.createDataFrame(rows).toDF("id", "v")
    val cluster = when(col("id") === 4, lit(null))
      .otherwise(array_position(col("v"), array_max(col("v"))))
    val out = SimOps.semDedup(df, "id", "v", cluster, tau = 0.99)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(out === Set(0L, 2L, 3L, 4L))
  }

  test("semDedup: join is an equi-join on the cluster key, never a cartesian") {
    val df = spark.createDataFrame(Seq(
      (0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))).toDF("id", "v")
    val out = SimOps.semDedup(df, "id", "v",
      array_position(col("v"), array_max(col("v"))), tau = 0.99)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"within-cluster self-join must hash on the cluster key:\n$plan")
  }
}
