package graft.ops

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** BPE training against a hand-computed merge sequence (the Sennrich
  * corpus {low×5, lower×2, newest×6, widest×3}), with the distributed and
  * driver-local paths asserted identical.
  */
class BpeSpec extends AnyFunSuite with SparkSuite {
  private def corpus = {
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    spark.createDataFrame(words.zipWithIndex.map { case (w, i) => (i.toLong, w) })
      .toDF("id", "text")
  }

  // hand-computed: pair counts over the char-split dictionary, ties broken
  // (count desc, left asc, right asc), greedy leftmost rewrite:
  //   r1 es(9 tie st) r2 es+t(9) r3 l+o(7 tie ow) r4 lo+w(7) r5 e+w(6 tie
  //   n-e, w-est) r6 ew+est(6 tie n-ew)
  private val expected = Seq(
    (1, "e", "s"), (2, "es", "t"), (3, "l", "o"),
    (4, "lo", "w"), (5, "e", "w"), (6, "ew", "est"))

  test("driver-local path reproduces the hand-computed merge sequence") {
    val merges = BpeOps.bpeTrain(corpus, "text", numMerges = 6)
    assert(merges.map(m => (m.rank, m.left, m.right)) == expected)
  }

  test("distributed path produces the identical merge sequence") {
    val merges = BpeOps.bpeTrain(corpus, "text", numMerges = 6, collectThreshold = 0)
    assert(merges.map(m => (m.rank, m.left, m.right)) == expected)
  }

  test("early stop below minFreq; fewer merges than requested is fine") {
    // all pairs in this corpus have count 1 -> minFreq=2 trains nothing
    val tiny = spark.createDataFrame(Seq((1L, "ab cd"))).toDF("id", "text")
    assert(BpeOps.bpeTrain(tiny, "text", numMerges = 5, minFreq = 2).isEmpty)
    // minFreq=1 merges until symbols are exhausted, then stops early
    val all = BpeOps.bpeTrain(tiny, "text", numMerges = 50, minFreq = 1)
    assert(all.nonEmpty && all.size < 50)
  }

  private def ranks(ms: Seq[BpeOps.BpeMerge]) = ms.map(m => (m.rank, m.left, m.right))

  test("batched distributed loop == sequential on overlapping-top-pair corpora") {
    // Sennrich corpus: consecutive merges build on each other (es -> est,
    // lo -> low), so naive batching would be wrong — the batch selector
    // must degrade to singletons exactly where pairs touch
    val seq1 = ranks(BpeOps.bpeTrain(corpus, "text", numMerges = 6, collectThreshold = 0,
      batchMerges = 1))
    val batched = ranks(BpeOps.bpeTrain(corpus, "text", numMerges = 6, collectThreshold = 0,
      batchMerges = 8))
    assert(seq1 == expected && batched == expected)
  }

  test("batched loop is safe against pairs CREATED by earlier batch members") {
    // counts: (a,b)=100, (b,c)=95, (c,d)=90. (c,d) is disjoint from (a,b),
    // but merging (a,b) creates (ab,c)=95 > 90 — true BPE's second merge
    // is (ab,c), NOT (c,d). A batch that accepted both disjoint pairs
    // would get this wrong; the stop-count trim must exclude (c,d).
    val words = Seq.fill(5)("ab") ++ Seq.fill(95)("abc") ++ Seq.fill(90)("cd")
    val df = spark.createDataFrame(words.zipWithIndex.map { case (w, i) => (i.toLong, w) })
      .toDF("id", "text")
    val local = ranks(BpeOps.bpeTrain(df, "text", numMerges = 4))
    assert(local.take(2) == Seq((1, "a", "b"), (2, "ab", "c")), local.toString)
    for (b <- Seq(1, 4, 16)) {
      val dist = ranks(BpeOps.bpeTrain(df, "text", numMerges = 4,
        collectThreshold = 0, batchMerges = b))
      assert(dist == local, s"batchMerges=$b: $dist != $local")
    }
  }

  test("batched loop is safe against self-adjacent (l==r) merges") {
    // (a,a)=320 over "aaa"x160; (b,c)=150. Merging (a,a) creates
    // (aa,a)=160 > 150 — bounded by count(a,a) ITSELF, which no stop
    // count excludes, so an accepted l==r pair must end its batch.
    val words = Seq.fill(160)("aaa") ++ Seq.fill(150)("bc")
    val df = spark.createDataFrame(words.zipWithIndex.map { case (w, i) => (i.toLong, w) })
      .toDF("id", "text")
    val local = ranks(BpeOps.bpeTrain(df, "text", numMerges = 3))
    assert(local.take(2) == Seq((1, "a", "a"), (2, "aa", "a")), local.toString)
    for (b <- Seq(1, 8)) {
      val dist = ranks(BpeOps.bpeTrain(df, "text", numMerges = 3,
        collectThreshold = 0, batchMerges = b))
      assert(dist == local, s"batchMerges=$b: $dist != $local")
    }
  }

  test("fully-disjoint top pairs batch in one round with the sequential result") {
    val words = Seq.fill(100)("ab") ++ Seq.fill(90)("cd") ++ Seq.fill(80)("ef")
    val df = spark.createDataFrame(words.zipWithIndex.map { case (w, i) => (i.toLong, w) })
      .toDF("id", "text")
    val local = ranks(BpeOps.bpeTrain(df, "text", numMerges = 3))
    assert(local == Seq((1, "a", "b"), (2, "c", "d"), (3, "e", "f")))
    assert(ranks(BpeOps.bpeTrain(df, "text", numMerges = 3, collectThreshold = 0,
      batchMerges = 8)) == local)
  }

  test("selectBatch: disjoint acceptance, touching stop with tie trim, prefix boundary, l==r") {
    // all disjoint, complete list -> all accepted
    assert(BpeOps.selectBatch(Seq(("a", "b", 10L), ("c", "d", 9L), ("e", "f", 8L)),
      prefixClipped = false).map(_._3) == Seq(10L, 9L, 8L))
    // touching pair stops the scan; later disjoint pairs TYING the stop
    // count are trimmed (a created pair could tie them)
    assert(BpeOps.selectBatch(Seq(("a", "b", 10L), ("c", "d", 9L), ("b", "x", 9L),
      ("y", "z", 9L)), prefixClipped = false) == Seq(("a", "b", 10L)))
    // clipped prefix: unseen rows may tie the last collected count
    assert(BpeOps.selectBatch(Seq(("a", "b", 10L), ("c", "d", 9L)),
      prefixClipped = true) == Seq(("a", "b", 10L)))
    assert(BpeOps.selectBatch(Seq(("a", "b", 10L), ("c", "d", 9L)),
      prefixClipped = false) == Seq(("a", "b", 10L), ("c", "d", 9L)))
    // l==r ends the batch (created (aa,a) is bounded by count(a,a) itself)
    assert(BpeOps.selectBatch(Seq(("a", "a", 10L), ("c", "d", 2L)),
      prefixClipped = false) == Seq(("a", "a", 10L)))
    // the head is always kept even when it ties the stop count
    assert(BpeOps.selectBatch(Seq(("a", "b", 5L), ("b", "c", 5L)),
      prefixClipped = false) == Seq(("a", "b", 5L)))
  }

  test("bpeSegment applies merges in rank order") {
    val merges = BpeOps.bpeTrain(corpus, "text", numMerges = 6)
    assert(BpeOps.bpeSegment("lowest", merges) == Seq("low", "est"))
    assert(BpeOps.bpeSegment("newest", merges) == Seq("n", "ewest"))
    assert(BpeOps.bpeSegment("xyz", merges) == Seq("x", "y", "z"))
  }

  test("greedy leftmost rewrite: aaa under (a,a) -> [aa, a]") {
    assert(BpeOps.mergeWord(Array("a", "a", "a"), "a", "a").toSeq == Seq("aa", "a"))
    assert(BpeOps.mergeWord(Array("a", "a", "a", "a"), "a", "a").toSeq == Seq("aa", "aa"))
  }
}
