package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Classifier-based quality filtering — the standard pretraining-corpus
  * component (a small linear model trained to tell "reference-quality"
  * text from crawl text, then swept over the corpus as a filter), built
  * so that DISTRIBUTED TRAINING IS BIT-DETERMINISTIC.
  *
  * Logistic regression over hashed bag-of-words presence features. The
  * usual reason distributed LR is irreproducible is floating-point
  * gradient accumulation: double addition is not associative, so the
  * reduce order — which changes with partitioning, executor count, and
  * task scheduling — changes the result. Here every per-document gradient
  * contribution is QUANTIZED to a fixed-point long (`rint(g · 2^20)`) and
  * the aggregate sums longs — associative and commutative EXACTLY — so
  * the trained weights are bit-identical for every partition layout and
  * cluster size (asserted in ClassifySpec: one partition vs sixteen, and
  * distributed vs a sequential in-memory reference). On a 10^12-doc
  * corpus the per-feature sum is bounded by 2^20·n ≈ 2^60 — inside Long
  * — and the 2^-20 quantization step is far below any gradient signal a
  * filter model acts on.
  *
  * Scale shape: feature extraction is one map-side pass, cached as
  * (indices, label) rows — raw text is read ONCE regardless of the
  * iteration count. Each iteration is one `treeAggregate` job shipping a
  * `dim+1`-long gradient array per partition (2 MB at the default 2^18
  * dim, depth-2 merge keeps driver fan-in at ~sqrt(partitions)) against a
  * broadcast weight array of the same size. No shuffle anywhere — the
  * corpus never moves. `iters` jobs total (tens, not thousands — this is
  * a filter model, not an LLM).
  */
object ClassifyOps {

  /** Fixed-point scale for gradient quantization: 2^20 keeps per-feature
    * long sums overflow-safe to ~8·10^12 documents while quantization
    * noise (≤ 2^-21 per doc) stays orders below the learning signal.
    */
  private[ops] val QuantScale: Double = (1L << 20).toDouble

  final case class LrModel(weights: Array[Double], bias: Double, dim: Int) {
    require(weights.length == dim, s"weights length ${weights.length} != dim $dim")
  }

  /** Hashed presence features of a document: distinct buckets of its
    * lowercased whitespace tokens, in first-occurrence order (the order is
    * per-document data, so every evaluation — any executor, any round —
    * dots the same doubles in the same order).
    */
  private[ops] def featuresLocal(text: String, dim: Int): Array[Int] = {
    if (text == null) return Array.emptyIntArray
    val t = text.trim
    if (t.isEmpty) return Array.emptyIntArray
    // Locale.ROOT: a default-locale lowercase would hash the same token to
    // DIFFERENT buckets on executors with differing user.language (tr's
    // dotless i), breaking the bit-determinism this module promises.
    val toks = t.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    val seen = new java.util.LinkedHashSet[Integer]()
    var i = 0
    while (i < toks.length) {
      val h = graft.functions.MinhashKernel.hash64(toks(i))
      seen.add(java.lang.Long.remainderUnsigned(h, dim.toLong).toInt)
      i += 1
    }
    val out = new Array[Int](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    out
  }

  private[ops] def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  private[ops] def dot(idx: Array[Int], w: Array[Double], bias: Double): Double = {
    var z = bias
    var i = 0
    while (i < idx.length) { z += w(idx(i)); i += 1 }
    z
  }

  /** Accumulate one document's quantized gradient into `acc` (length
    * dim+1; last slot is the bias). Shared verbatim by the distributed
    * seqOp and the sequential test reference, so "same arithmetic" is by
    * construction, not by transcription.
    */
  private[ops] def accumulateDoc(idx: Array[Int], y: Int,
                                 w: Array[Double], bias: Double,
                                 acc: Array[Long]): Unit = {
    val r = sigmoid(dot(idx, w, bias)) - y
    val q = math.rint(r * QuantScale).toLong
    var i = 0
    while (i < idx.length) { acc(idx(i)) += q; i += 1 }
    acc(acc.length - 1) += q
  }

  /** Train on `(textCol, labelCol)` with labels in {0, 1}. Full-batch
    * gradient descent (deterministic by design — SGD's sample order is
    * exactly the nondeterminism this operator exists to remove);
    * optional L2 on the weights (not the bias).
    */
  def train(df: DataFrame, textCol: String, labelCol: String,
            dim: Int = 1 << 18, iters: Int = 30, lr: Double = 1.0,
            l2: Double = 0.0): LrModel = {
    require(dim > 0, s"dim must be positive: $dim")
    require(iters > 0, s"iters must be positive: $iters")
    require(lr > 0, s"lr must be positive: $lr")
    require(l2 >= 0, s"l2 must be non-negative: $l2")
    val d = dim
    import df.sparkSession.implicits._
    val feats = df
      .select(col(textCol).cast("string"), col(labelCol).cast("int"))
      .as[(String, Int)]
      .map { case (t, y) =>
        require(y == 0 || y == 1, s"labels must be 0/1, got $y")
        (featuresLocal(t, d), y)
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // count (which surfaces bad-label failures from the map) and the
      // empty-corpus guard sit INSIDE the try so every exit path
      // unpersists — a failed train must not leak cached blocks for the
      // life of the session.
      val n = feats.count()
      require(n > 0, "train: empty corpus")
      var w = new Array[Double](dim)
      var bias = 0.0
      var it = 0
      while (it < iters) {
        val bcW = df.sparkSession.sparkContext.broadcast(w)
        val bcB = bias
        val grad = feats.rdd.treeAggregate(new Array[Long](d + 1))(
          seqOp = (acc, doc) => {
            accumulateDoc(doc._1, doc._2, bcW.value, bcB, acc); acc
          },
          combOp = (a, b) => {
            var i = 0
            while (i < a.length) { a(i) += b(i); i += 1 }
            a
          },
          depth = 2)
        bcW.destroy()
        val next = new Array[Double](dim)
        var j = 0
        while (j < dim) {
          next(j) = w(j) - lr * (grad(j) / QuantScale / n + l2 * w(j))
          j += 1
        }
        bias -= lr * (grad(dim) / QuantScale / n)
        w = next
        it += 1
      }
      LrModel(w, bias, dim)
    } finally feats.unpersist()
  }

  /** Score every document: `(id, score, keep)` with `score` the sigmoid
    * probability of the positive class and `keep = score >= threshold`.
    * Map-side over broadcast weights (2 MB at the default dim) — the
    * corpus-sweep filter pass, zero shuffles.
    */
  def score(df: DataFrame, idCol: String, textCol: String, model: LrModel,
            threshold: Double = 0.5): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(model)
    val scoreUdf = udf { (t: String) =>
      val m = bc.value
      sigmoid(dot(featuresLocal(t, m.dim), m.weights, m.bias))
    }
    df.select(col(idCol).as("id"), scoreUdf(col(textCol)).as("score"))
      .withColumn("keep", col("score") >= lit(threshold))
  }

  /** Sequential in-memory training with the IDENTICAL per-document
    * arithmetic (shared helpers) — the bit-equality reference proving the
    * distributed path is deterministic. Test-support; linear in corpus.
    */
  private[ops] def trainLocal(docs: Seq[(String, Int)], dim: Int,
                              iters: Int, lr: Double, l2: Double): LrModel = {
    val feats = docs.map { case (t, y) => (featuresLocal(t, dim), y) }
    val n = feats.size.toLong
    var w = new Array[Double](dim)
    var bias = 0.0
    var it = 0
    while (it < iters) {
      val acc = new Array[Long](dim + 1)
      feats.foreach { case (idx, y) => accumulateDoc(idx, y, w, bias, acc) }
      val next = new Array[Double](dim)
      var j = 0
      while (j < dim) {
        next(j) = w(j) - lr * (acc(j) / QuantScale / n + l2 * w(j))
        j += 1
      }
      bias -= lr * (acc(dim) / QuantScale / n)
      w = next
      it += 1
    }
    LrModel(w, bias, dim)
  }
}
