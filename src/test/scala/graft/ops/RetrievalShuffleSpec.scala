package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Correctness of the round-5 additions: TF-IDF ranking, inverted-index
  * posting heads, bigram familiarity, stratified hash sampling, the
  * two-phase global shuffle, corpus-wide line dedup, contamination ratio,
  * and corpus BPE encoding.
  */
class RetrievalShuffleSpec extends AnyFunSuite with SparkSuite {
  private def df(rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(rows).toDF("doc_id", "text")

  // ---- tfIdfTopTerms ------------------------------------------------------

  test("tfIdfTopTerms ranks by tf/df with token tiebreak") {
    // d0: aa aa bb cc ; d1: aa cc ; d2: bb bb bb
    // df: aa=2, bb=2, cc=2
    // d0 scores: aa 2/2=1.0, bb 1/2, cc 1/2 -> aa, bb, cc (tie on token)
    // d2: bb 3/2 -> single row
    val d = df(Seq((0L, "aa aa bb cc"), (1L, "aa cc"), (2L, "bb bb bb")))
    val out = RetrievalOps.tfIdfTopTerms(d, "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (0L, 1, "aa", 2L, 2L), (0L, 2, "bb", 1L, 2L), (0L, 3, "cc", 1L, 2L),
      (1L, 1, "aa", 1L, 2L), (1L, 2, "cc", 1L, 2L),
      (2L, 1, "bb", 3L, 2L)))
  }

  test("tfIdfTopTerms k caps rows per doc") {
    val d = df(Seq((0L, "a b c d e f")))
    assert(RetrievalOps.tfIdfTopTerms(d, "doc_id", "text", k = 2).count() == 2)
  }

  // ---- invertedIndex ------------------------------------------------------

  test("invertedIndex: df counts documents, postings are first-k ascending ids") {
    val d = df(Seq((5L, "x y"), (3L, "x x z"), (9L, "x")))
    val out = RetrievalOps.invertedIndex(d, "doc_id", "text", maxPostings = 2)
      .orderBy("token").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    // x in 3,5,9 -> df 3, postings capped to "3,5"; repeated x in doc 3 counts once
    assert(out.toSeq == Seq(("x", 3L, "3,5"), ("y", 1L, "5"), ("z", 1L, "3")))
  }

  test("invertedIndex plans the bounded-heap aggregate, not collect_list") {
    val d = df(Seq((1L, "a"), (2L, "a")))
    val plan = RetrievalOps.invertedIndex(d, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("topk_by_score"), s"expected topk_by_score in:\n$plan")
    assert(!plan.contains("collect_list"))
  }

  // ---- bigramFamiliarity --------------------------------------------------

  test("bigramFamiliarity sums corpus bigram counts per occurrence") {
    // d0 bigrams: (x y), (y x), (x y); d1: (x y), (y z)
    // corpus counts: "x y"=3, "y x"=1, "y z"=1
    // d0: n_bi=3 fam=3+1+3=7 ; d1: n_bi=2 fam=3+1=4 ; d2 (one token): 0,0
    val d = df(Seq((0L, "x y x y"), (1L, "x y z"), (2L, "solo"), (3L, "")))
    val out = RetrievalOps.bigramFamiliarity(d, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 3, 7L), (1L, 2, 4L), (2L, 0, 0L), (3L, 0, 0L)))
  }

  // ---- sampleKeep ---------------------------------------------------------

  test("sampleKeep: rate 1000 keeps all, 0 keeps none, decisions deterministic") {
    val d = df((0L until 200L).map(i => (i, s"document body $i")))
    val strat = (col("doc_id") % 2).cast("string")
    val all = d.filter(TextOps.sampleKeep(col("text"), strat, "s", Map("0" -> 1000, "1" -> 1000)))
    val none = d.filter(TextOps.sampleKeep(col("text"), strat, "s", Map("0" -> 0, "1" -> 0)))
    assert(all.count() == 200 && none.count() == 0)
    val k1 = d.filter(TextOps.sampleKeep(col("text"), strat, "s", Map("0" -> 500, "1" -> 100)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val k2 = d.filter(TextOps.sampleKeep(col("text"), strat, "s", Map("0" -> 500, "1" -> 100)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(k1 == k2)
    // stratum routing: only the even stratum can exceed its rate's share
    val evens = k1.count(_ % 2 == 0)
    val odds = k1.size - evens
    assert(evens > odds, s"rate 500 stratum ($evens) should keep more than rate 100 ($odds)")
  }

  test("sampleKeep drops null content instead of bucketing the whole null class together") {
    val rows = Seq((0L, "body zero"), (1L, null: String), (2L, "body two"), (3L, null: String))
    val d = spark.createDataFrame(rows).toDF("doc_id", "text")
    val kept = d.filter(TextOps.sampleKeep(col("text"), lit("all"), "s", Map("all" -> 1000)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L), "null-content rows are dropped even at rate 1000")
  }

  test("sampleKeep: a kept doc stays kept when rate rises (nested samples)") {
    val d = df((0L until 200L).map(i => (i, s"document body $i")))
    val strat = lit("all")
    def kept(r: Int) = d.filter(TextOps.sampleKeep(col("text"), strat, "s", Map("all" -> r)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val k200 = kept(200)
    val k600 = kept(600)
    assert(k200.subsetOf(k600), "hash-threshold sampling must be monotone in the rate")
  }

  // ---- globalShuffle ------------------------------------------------------

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("globalShuffle: positions are the md5-order permutation, shards contiguous") {
    val n = 123
    val d = df((0L until n.toLong).map(i => (i, s"t$i")))
    val out = ShuffleOps.globalShuffle(d, "doc_id", "seed7", nShards = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.length == n)
    assert(out.map(_._3).sorted.toSeq == (0L until n.toLong).toSeq, "pos must be a permutation")
    // expected order: sort ids by (md5("seed7:id"), id)
    val expected = (0L until n.toLong).sortBy(i => (md5hex(s"seed7:$i"), i))
    val byPos = out.sortBy(_._3).map(_._1)
    assert(byPos.toSeq == expected.toSeq)
    assert(out.forall { case (_, sh, pos) => sh == pos * 4 / n })
    assert(out.map(_._2).distinct.sorted.toSeq == Seq(0, 1, 2, 3),
      "exactly nShards shards, no trailing empties")
  }

  test("globalShuffle yields exactly nShards shards even when ceil division would not") {
    // the pos / ceil(N/nShards) formula gives only 50 shards here (N=100,
    // nShards=64, ceil=2); the proportional formula must give all 64
    val d = df((0L until 100L).map(i => (i, s"t$i")))
    val shards = ShuffleOps.globalShuffle(d, "doc_id", "s", nShards = 64)
      .select("shard").collect().map(_.getInt(0)).distinct
    assert(shards.sorted.toSeq == (0 until 64), s"got ${shards.length} shards")
  }

  test("globalShuffle rejects fractional id types instead of truncating") {
    val d = spark.createDataFrame(Seq((1.5, "a"), (2.5, "b"))).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      ShuffleOps.globalShuffle(d, "doc_id", "s", nShards = 2)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("globalShuffle is independent of the partition count") {
    val d = df((0L until 97L).map(i => (i, s"t$i")))
    val a = ShuffleOps.globalShuffle(d, "doc_id", "s", nShards = 3, partitions = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    val b = ShuffleOps.globalShuffle(d, "doc_id", "s", nShards = 3, partitions = 11)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }

  test("globalShuffle plans no single-partition global window") {
    val d = df((0L until 10L).map(i => (i, s"t$i")))
    val plan = ShuffleOps.globalShuffle(d, "doc_id", "s", nShards = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"global shuffle must not plan a window:\n$plan")
  }

  // ---- dedupLinesGlobal ---------------------------------------------------

  /** Reference implementation: global keep-first line dedup in plain Scala. */
  private def localLineDedup(rows: Seq[(Long, String)]): Map[Long, (String, Int, Int)] = {
    val occs = for {
      (id, t) <- rows.sortBy(_._1)
      (line, idx) <- t.split(java.util.regex.Pattern.quote("\n"), -1).zipWithIndex
    } yield (id, idx, line)
    val winner = occs.groupBy(_._3).map { case (l, os) => (l, os.map(o => (o._1, o._2)).min) }
    rows.map { case (id, t) =>
      val lines = t.split(java.util.regex.Pattern.quote("\n"), -1).zipWithIndex
      val kept = lines.filter { case (l, i) => winner(l) == ((id, i)) }
      (id, (kept.map(_._1).mkString("\n"), lines.length, kept.length))
    }.toMap
  }

  test("dedupLinesGlobal matches the local reference on planted boilerplate") {
    val rows = Seq(
      (0L, "nav\nunique zero\nfooter"),
      (1L, "nav\nunique one\nunique one\nfooter"), // within-doc repeat also drops
      (2L, "unique two\nnav\nbody"),
      (3L, "nav\nunique zero\nfooter")) // same body line as doc 0 -> drops
    val exp = localLineDedup(rows)
    val out = DedupOps.dedupLinesGlobal(df(rows).withColumnRenamed("text", "doc"), "doc_id", "doc")
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out == exp)
    // spot-check semantics: doc 0 keeps everything, doc 3 keeps nothing
    assert(out(0L)._1 == "nav\nunique zero\nfooter")
    assert(out(3L)._1 == "" && out(3L)._3 == 0)
    assert(out(1L)._1 == "unique one")
  }

  test("dedupLinesGlobal: winner aggregation carries hashes, not line text") {
    val d = df(Seq((0L, "a\nb"), (1L, "b\nc"))).withColumnRenamed("text", "doc")
    val plan = DedupOps.dedupLinesGlobal(d, "doc_id", "doc")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "no window over line keys")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"small loser set should broadcast:\n$plan")
  }

  test("dedupLinesGlobal honors a custom separator") {
    val rows = Seq((0L, "x|y"), (1L, "y|z"))
    val out = DedupOps.dedupLinesGlobal(
        df(rows).withColumnRenamed("text", "doc"), "doc_id", "doc", sep = "|")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out == Map(0L -> "x|y", 1L -> "z"))
  }

  // ---- contaminationRatio -------------------------------------------------

  test("contaminationRatio: exact counts and threshold boundary") {
    // k=2 for a small hand corpus; bench holds bigrams "a b" and "b c"
    val bench = df(Seq((100L, "a b c")))
    // t1: bigrams {a b, b x, x y} -> 3 shingles, 1 hit (33% >= 20% -> flag)
    // t2: bigrams {p q, q r, r s, s t, t u} -> 5 shingles, 0 hits
    // t3: bigrams {a b, b c, c d, d e, e f} -> 5 shingles, 2 hits (40%)
    // t4: exactly at the boundary: 5 shingles, 1 hit = 20% -> flagged
    val train = df(Seq(
      (1L, "a b x y"), (2L, "p q r s t u"), (3L, "a b c d e f"),
      (4L, "a b z1 z2 z3 z4"), (5L, "w")))
    val out = DedupOps.contaminationRatio(train, bench, "doc_id", "text",
        k = 2, thresholdPct = 20)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(out.toSeq == Seq(
      (1L, 3, 1, 1), (2L, 5, 0, 0), (3L, 5, 2, 1), (4L, 5, 1, 1), (5L, 0, 0, 0)))
  }

  // ---- bpeEncodeDocs ------------------------------------------------------

  test("bpeEncodeDocs matches per-word bpeSegment composition (incl. whitespace edges)") {
    val corpus = df(Seq(
      (0L, "low low low lower lowest"),
      (1L, "new newer newest new"),
      (2L, ""),
      (3L, "low new low new"),
      (4L, "low\n"), // trailing newline: TextOps.tokens yields a trailing "" token
      (5L, "\tnew low ")))
    val merges = BpeOps.bpeTrain(corpus, "text", numMerges = 10, minFreq = 2)
    assert(merges.nonEmpty)
    val out = BpeOps.bpeEncodeDocs(corpus, "doc_id", "text", merges, previewPieces = 4)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getString(3)))).toMap
    // the tokenization reference is TextOps.tokens itself — the train-side
    // stream the encode pass must stay consistent with
    val sparkToks = corpus
      .select(col("doc_id"), TextOps.tokens(lower(col("text"))).as("toks"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toMap
    corpus.collect().foreach { row =>
      val id = row.getLong(0)
      val words = sparkToks(id)
      val pieces = words.flatMap(w => BpeOps.bpeSegment(w, merges))
      val (nW, nP, prev) = out(id)
      assert(nW == words.length, s"doc $id word count")
      assert(nP == pieces.length.toLong, s"doc $id piece count")
      assert(prev == pieces.take(4).mkString(" "), s"doc $id preview")
    }
  }

  // ---- bm25TopDocs --------------------------------------------------------

  /** Independent local BM25 with the operator's exact rounding discipline:
    * idf rounded to 6 decimals as a double, per-term product rounded into
    * a scale-6 BigDecimal, exact decimal sum.
    */
  private def bm25Local(corpus: Seq[(Long, String)], query: String,
                        k1: Double = 1.2, b: Double = 0.75): Map[Long, BigDecimal] = {
    def toks(s: String): Seq[String] =
      if (s.trim.isEmpty) Seq.empty else s.trim.toLowerCase.split("\\s+").toSeq
    val docToks = corpus.map { case (id, t) => id -> toks(t) }
    val n = corpus.size.toLong
    val avgdl = docToks.map(_._2.size.toLong).sum.toDouble / n
    val dfm = docToks.flatMap { case (_, ts) => ts.distinct }
      .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    def round6d(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val qts = toks(query).distinct
    docToks.flatMap { case (id, ts) =>
      if (ts.isEmpty) None
      else {
        val dl = ts.size.toLong
        val terms = qts.flatMap { q =>
          val tf = ts.count(_ == q).toLong
          if (tf == 0) None
          else {
            val df = dfm(q)
            val idf = round6d(math.log(1.0 + (n - df + 0.5) / (df + 0.5)))
            val term = idf * (tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl)))
            Some(BigDecimal(round6d(term)).setScale(6, BigDecimal.RoundingMode.HALF_UP))
          }
        }
        if (terms.isEmpty) None else Some(id -> terms.sum)
      }
    }.toMap
  }

  private def queriesDf(rows: (Long, String)*): DataFrame =
    spark.createDataFrame(rows).toDF("query_id", "qtext")

  test("bm25TopDocs matches the local reference, decimal-exact") {
    val corpus = Seq(
      (0L, "spark shuffle join join join"),
      (1L, "spark spark window merge sort hash hash table scan"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "join hash merge"),
      (4L, ""),
      (5L, "spark"))
    val out = RetrievalOps.bm25TopDocs(df(corpus), "doc_id", "text",
        queriesDf((1L, "spark join"), (2L, "fox")), "query_id", "qtext", topK = 10)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), BigDecimal(r.getDecimal(3))))
    val exp1 = bm25Local(corpus, "spark join")
    val exp2 = bm25Local(corpus, "fox")
    val got1 = out.filter(_._1 == 1L).map(x => x._3 -> x._4).toMap
    val got2 = out.filter(_._1 == 2L).map(x => x._3 -> x._4).toMap
    assert(got1.keySet == exp1.keySet)
    assert(got2.keySet == exp2.keySet)
    got1.foreach { case (id, s) => assert(s == exp1(id), s"q1 doc $id: $s vs ${exp1(id)}") }
    got2.foreach { case (id, s) => assert(s == exp2(id), s"q2 doc $id: $s vs ${exp2(id)}") }
    // ranks descend in score, contiguous from 1
    val r1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(r1.map(_._2).toSeq == (1 to r1.length).toSeq)
    assert(r1.map(_._4).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("bm25TopDocs: identical docs tie and break on ascending doc_id; topK caps") {
    val corpus = Seq(
      (7L, "alpha beta"), (3L, "alpha beta"), (5L, "alpha beta"), (9L, "gamma"))
    val out = RetrievalOps.bm25TopDocs(df(corpus), "doc_id", "text",
        queriesDf((1L, "alpha")), "query_id", "qtext", topK = 2)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, 3L), (2, 5L)), s"got ${out.toSeq}")
  }

  test("bm25TopDocs: empty-token and no-match queries emit nothing") {
    val corpus = Seq((0L, "alpha beta"), (1L, "gamma"))
    val out = RetrievalOps.bm25TopDocs(df(corpus), "doc_id", "text",
      queriesDf((1L, "   "), (2L, "zzz qqq")), "query_id", "qtext", topK = 5)
    assert(out.count() == 0)
  }

  test("bm25TopDocs is partition-independent and plans broadcast + heap, no Window") {
    val corpus = (0L until 300L).map(i =>
      (i, Seq.fill(5 + (i % 7).toInt)("w" + (i % 23)).mkString(" ") + " spark join"))
    val q = queriesDf((1L, "spark w1 w2"))
    val a = RetrievalOps.bm25TopDocs(df(corpus).repartition(1), "doc_id", "text",
      q, "query_id", "qtext", topK = 20).collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDecimal(3))).toSet
    val plan = RetrievalOps.bm25TopDocs(df(corpus).repartition(13), "doc_id", "text",
      q, "query_id", "qtext", topK = 20)
    val b = plan.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDecimal(3))).toSet
    assert(a == b, "ranking must not depend on the partition layout")
    val phys = plan.queryExecution.executedPlan.toString
    assert(!phys.contains("Window"), "per-query ranking must be the bounded heap, not a window")
    assert(phys.contains("topk_by_score"), "expected the native bounded-heap aggregate")
    assert(phys.contains("BroadcastHashJoin") || phys.contains("BroadcastNestedLoopJoin"),
      "query terms must broadcast against the tf stream")
  }
}
