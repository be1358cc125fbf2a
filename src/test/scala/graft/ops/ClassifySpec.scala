package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quality-classifier training: bit-exact determinism across partition
  * layouts and vs the sequential reference, learnability on a separable
  * corpus, and fail-fast guards.
  */
class ClassifySpec extends AnyFunSuite with SparkSuite {
  // Separable corpus: positive docs draw from a "clean" vocabulary,
  // negative docs from a "junk" vocabulary, with shared stopwords mixed in
  // so the bias alone cannot solve it.
  private def corpus(n: Int, seed: Int = 5): Seq[(Long, String, Int)] = {
    val rnd = new scala.util.Random(seed)
    val clean = Vector("insight", "method", "result", "theory", "proof", "study")
    val junk = Vector("clickzz", "spamzz", "buyzz", "winzz", "freezz", "nowzz")
    val shared = Vector("the", "a", "of", "and")
    (0 until n).map { i =>
      val y = i % 2
      val pool = if (y == 1) clean else junk
      val words = (0 until 12).map { _ =>
        if (rnd.nextInt(3) == 0) shared(rnd.nextInt(shared.length))
        else pool(rnd.nextInt(pool.length))
      }
      (i.toLong, words.mkString(" "), y)
    }
  }

  private def df(rows: Seq[(Long, String, Int)]): DataFrame =
    spark.createDataFrame(rows).toDF("doc_id", "text", "label")

  test("training is bit-identical across partition layouts and vs the sequential reference") {
    val rows = corpus(200)
    val dim = 1 << 12
    val m1 = ClassifyOps.train(df(rows).repartition(1), "text", "label",
      dim = dim, iters = 10, lr = 0.8)
    val m16 = ClassifyOps.train(df(rows).repartition(16), "text", "label",
      dim = dim, iters = 10, lr = 0.8)
    val mLocal = ClassifyOps.trainLocal(rows.map(r => (r._2, r._3)),
      dim = dim, iters = 10, lr = 0.8, l2 = 0.0)
    assert(java.util.Arrays.equals(m1.weights, m16.weights),
      "weights must not depend on the partition layout")
    assert(m1.bias == m16.bias)
    assert(java.util.Arrays.equals(m1.weights, mLocal.weights),
      "distributed training must equal the sequential reference bit-for-bit")
    assert(m1.bias == mLocal.bias)
  }

  test("learns a separable corpus to 100% train accuracy and generalizes") {
    val train = corpus(400, seed = 5)
    val held = corpus(100, seed = 99)
    val model = ClassifyOps.train(df(train), "text", "label",
      dim = 1 << 12, iters = 40, lr = 1.0)
    def acc(rows: Seq[(Long, String, Int)]): Double = {
      val scored = ClassifyOps.score(df(rows), "doc_id", "text", model)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      rows.count { case (id, _, y) => scored(id) == (y == 1) }.toDouble / rows.size
    }
    assert(acc(train) == 1.0, "separable corpus must be fit exactly")
    assert(acc(held) == 1.0, "held-out docs from the same vocabularies must classify")
  }

  test("score emits calibrated probabilities consistent with keep") {
    val rows = corpus(100)
    val model = ClassifyOps.train(df(rows), "text", "label",
      dim = 1 << 10, iters = 20, lr = 1.0)
    val out = ClassifyOps.score(df(rows), "doc_id", "text", model, threshold = 0.5)
      .collect().map(r => (r.getDouble(1), r.getBoolean(2)))
    out.foreach { case (s, keep) =>
      assert(s > 0.0 && s < 1.0, s"sigmoid range: $s")
      assert(keep == (s >= 0.5))
    }
  }

  test("tiny dim (forced collisions) still trains; empty text scores at the bias") {
    val rows = corpus(60)
    val model = ClassifyOps.train(df(rows), "text", "label",
      dim = 8, iters = 5, lr = 0.5)
    assert(model.weights.length == 8)
    val e = ClassifyOps.score(
      spark.createDataFrame(Seq((1L, ""), (2L, "   "))).toDF("doc_id", "text"),
      "doc_id", "text", model).collect().map(_.getDouble(1))
    val biasP = ClassifyOps.sigmoid(model.bias)
    assert(e.forall(_ == biasP), "featureless docs score exactly sigmoid(bias)")
  }

  test("l2 shrinks weights toward zero") {
    val rows = corpus(200)
    val free = ClassifyOps.train(df(rows), "text", "label",
      dim = 1 << 10, iters = 15, lr = 1.0, l2 = 0.0)
    val reg = ClassifyOps.train(df(rows), "text", "label",
      dim = 1 << 10, iters = 15, lr = 1.0, l2 = 0.1)
    def norm(m: ClassifyOps.LrModel) = math.sqrt(m.weights.map(x => x * x).sum)
    assert(norm(reg) < norm(free))
  }

  test("fail-fast: bad labels, empty corpus, bad hyperparameters") {
    val bad = spark.createDataFrame(Seq((1L, "a b", 2))).toDF("doc_id", "text", "label")
    val ex = intercept[org.apache.spark.SparkException] {
      ClassifyOps.train(bad, "text", "label", dim = 16, iters = 1)
    }
    assert(ex.getMessage.contains("labels must be 0/1") ||
      Option(ex.getCause).exists(_.getMessage.contains("labels must be 0/1")))
    intercept[IllegalArgumentException] {
      ClassifyOps.train(df(corpus(10)).limit(0), "text", "label", dim = 16, iters = 1)
    }
    intercept[IllegalArgumentException] {
      ClassifyOps.train(df(corpus(10)), "text", "label", dim = 0, iters = 1)
    }
  }
}
