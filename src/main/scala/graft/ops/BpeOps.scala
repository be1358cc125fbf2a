package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Byte-pair-encoding VOCABULARY TRAINING — the iterative pair-merge
  * construction (Sennrich et al. 2016's learn_bpe, the one
  * tokenizer-pipeline stage the token-counting operators don't cover):
  * start from characters, repeatedly merge the most frequent adjacent
  * symbol pair, record the merge list in order.
  *
  * Scale shape (the 100 TB-relevant part is the corpus reduction, not the
  * merge loop):
  *  - ONE pass over the corpus reduces it to the word-frequency dictionary
  *    (explode → hash-aggregate; the shuffle carries distinct words with
  *    map-side partial counts, never the token stream). Everything after
  *    operates on that dictionary, whose size is vocabulary-bounded and
  *    independent of corpus row count.
  *  - If the dictionary fits in the driver (`collectThreshold`, default
  *    2M distinct words ≈ a few hundred MB — real web corpora after
  *    min-frequency pruning land well under this), the merge loop runs
  *    driver-local: one pass per merge over an in-memory array beats 1000
  *    Spark jobs of 10 ms each by orders of magnitude.
  *  - Otherwise the loop runs distributed: per round, a native
  *    (codegen-friendly) adjacent-pair explode → partial-agg count → a
  *    TakeOrdered top-1 (only ONE row reaches the driver per round), then
  *    a map-side merge rewrite of the dictionary, lineage-truncated per
  *    round (`localCheckpoint` — the iterative-DataFrame trap).
  *  Both paths implement the identical deterministic algorithm (ties break
  *  on (count desc, left asc, right asc)) and are asserted equal in tests.
  *
  * Words are lowercased whitespace tokens; symbols start as single
  * characters with no end-of-word marker (a marker variant is a caller-side
  * `concat(w, "</w>")` away and changes nothing structurally).
  */
object BpeOps {
  final case class BpeMerge(rank: Int, left: String, right: String)

  /** Greedy left-to-right single-pair merge of one word (the standard BPE
    * rewrite: non-overlapping occurrences, leftmost first — "aaa" under
    * (a,a) becomes ["aa","a"]).
    */
  private[ops] def mergeWord(syms: Array[String], l: String, r: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { out += l + r; i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Driver-local merge loop over an in-memory word-frequency dictionary —
    * exact same algorithm as the distributed path.
    */
  private[ops] def trainLocal(dict: Array[(Array[String], Long)],
                              numMerges: Int, minFreq: Long): Seq[BpeMerge] = {
    var words = dict
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var r = 0
    var continue = true
    while (r < numMerges && continue) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      val best = counts.iterator.reduceOption { (a, b) =>
        // (count desc, left asc, right asc)
        val cmp = java.lang.Long.compare(b._2, a._2)
        if (cmp != 0) { if (cmp < 0) a else b }
        else {
          val lc = a._1._1.compareTo(b._1._1)
          if (lc != 0) { if (lc < 0) a else b }
          else if (a._1._2.compareTo(b._1._2) <= 0) a else b
        }
      }
      best match {
        case Some(((l, rr), c)) if c >= minFreq =>
          merges += BpeMerge(r + 1, l, rr)
          words = words.map { case (syms, f) =>
            var has = false
            var i = 0
            while (!has && i + 1 < syms.length) {
              if (syms(i) == l && syms(i + 1) == rr) has = true
              i += 1
            }
            (if (has) mergeWord(syms, l, rr) else syms, f)
          }
          r += 1
        case _ => continue = false
      }
    }
    merges.toSeq
  }

  /** Train `numMerges` BPE merges over the corpus' lowercased whitespace
    * words. `minFreq` stops early when the best remaining pair is rarer
    * (freq-1 merges are noise); `collectThreshold` selects the
    * driver-local fast path when the distinct-word dictionary fits
    * (set 0 to force the distributed loop, e.g. in tests).
    */
  def bpeTrain(df: DataFrame, textCol: String, numMerges: Int,
               minFreq: Long = 2, collectThreshold: Long = 2000000L,
               batchMerges: Int = 16): Seq[BpeMerge] = {
    val spark = df.sparkSession
    import spark.implicits._
    // corpus → word-frequency dictionary (the only corpus-sized pass)
    val wordFreq = df.select(explode(TextOps.tokens(lower(col(textCol)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nWords = wordFreq.count()
      if (nWords <= collectThreshold) {
        val dict = wordFreq.as[(String, Long)].collect()
          .map { case (w, f) => (w.toCharArray.map(_.toString), f) }
        trainLocal(dict, numMerges, minFreq)
      } else trainDistributed(spark, wordFreq, numMerges, minFreq, batchMerges)
    } finally wordFreq.unpersist(blocking = false)
  }

  /** Select a provably order-preserving merge batch from the sorted
    * (cnt desc, l asc, r asc) pair prefix. Greedy scan: accept pairs whose
    * symbols are disjoint from every already-accepted pair's, stop at the
    * first pair that touches one. Soundness of "batch == sequential":
    *  - disjointness keeps every accepted pair's count unchanged while the
    *    earlier batch members merge, and their relative sorted order is
    *    exactly the sequential merge order (ties break identically);
    *  - a merge of accepted (l, r) can only CREATE pairs (x, lr) / (lr, y)
    *    whose counts are bounded by existing pairs touching l or r — all of
    *    which sort at/after the stop point — so trimming the batch to
    *    counts STRICTLY above `stopCount` (the first unaccepted row, or
    *    the prefix boundary when the scan exhausted a clipped prefix)
    *    guarantees no created pair could outrank a later batch member;
    *  - the one self-bounding case is l == r (merging (a,a) over "a a a"
    *    creates (aa, a) bounded by count(a,a) ITSELF, which no stop-count
    *    can exclude) — an accepted l == r pair therefore ends its batch.
    * The first pair is always kept: it is the true argmax by definition.
    */
  private[ops] def selectBatch(rows: Seq[(String, String, Long)],
                               prefixClipped: Boolean): Seq[(String, String, Long)] = {
    if (rows.isEmpty) return Nil
    val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val used = scala.collection.mutable.HashSet.empty[String]
    var stopCount = Long.MinValue
    var idx = 0
    var done = false
    while (idx < rows.length && !done) {
      val p @ (l, r, _) = rows(idx)
      if (accepted.nonEmpty && (used(l) || used(r))) {
        stopCount = p._3 // first touching pair: the created-pair bound
        done = true
      } else {
        accepted += p
        used += l; used += r
        idx += 1
        if (l == r) { // self-bounding: end the batch after this pair
          if (idx < rows.length) stopCount = rows(idx)._3
          else if (prefixClipped) stopCount = p._3
          done = true
        }
      }
    }
    if (!done && prefixClipped)
      stopCount = rows.last._3 // unseen rows beyond the prefix may tie it
    // keep the head unconditionally; later members only above the bound
    accepted.head +: accepted.tail.filter(_._3 > stopCount).toSeq
  }

  private def trainDistributed(spark: SparkSession, wordFreq: DataFrame,
                               numMerges: Int, minFreq: Long,
                               batchMerges: Int): Seq[BpeMerge] = {
    import spark.implicits._
    require(batchMerges >= 1, s"batchMerges must be >= 1, got $batchMerges")
    var vocab: Dataset[(Seq[String], Long)] = wordFreq.as[(String, Long)]
      .map { case (w, f) => (w.toCharArray.map(_.toString).toSeq, f) }
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var continue = true
    while (merges.length < numMerges && continue) {
      // adjacent pairs, natively (stays in codegen): one row per (l, r)
      // occurrence weighted by word freq, partial-agg'd map-side; only the
      // top sorted PREFIX (2*batch+16 rows — a TakeOrdered) ever reaches
      // the driver, from which a provably order-preserving batch of up to
      // `batchMerges` disjoint merges is selected and applied in ONE
      // rewrite job — a 32k-merge vocab costs ~32k/batch jobs instead of
      // one 10 ms-overhead job per merge
      val prefetch = 2 * batchMerges + 16
      val top = vocab.toDF("syms", "freq")
        // single-symbol words carry no pairs (and sequence(0, -1) is a
        // DESCENDING range in Spark, not empty — filter, don't transform)
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(syms) - 2), i -> struct(syms[i] AS l, syms[i+1] AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(prefetch).collect()
        .map(row => (row.getAs[String]("l"), row.getAs[String]("r"), row.getAs[Long]("cnt")))
        .toSeq
      if (top.isEmpty || top.head._3 < minFreq) continue = false
      else {
        val batch = selectBatch(top, prefixClipped = top.length == prefetch)
          .filter(_._3 >= minFreq) // sorted desc: a prefix filter
          .take(numMerges - merges.length)
        batch.foreach { case (l, r, _) => merges += BpeMerge(merges.length + 1, l, r) }
        val batchPairs = batch.map { case (l, r, _) => (l, r) }
        // ONE map-side rewrite job for the whole batch (disjoint pairs:
        // per-word application order cannot matter, but apply in rank order
        // anyway) + lineage truncation per round (the iterative-DataFrame
        // trap: without truncation analysis time grows per round); the
        // superseded round's checkpoint blocks are freed once the new
        // round is materialized (eager), or executor storage grows
        // linearly with the merge count
        val next = vocab.map { case (syms, f) =>
          var s = syms.toArray
          batchPairs.foreach { case (l, r) => s = mergeWord(s, l, r) }
          (s.toSeq, f)
        }.localCheckpoint(true)
        CacheUtil.freeLocalCheckpoint(vocab)
        vocab = next
      }
    }
    CacheUtil.freeLocalCheckpoint(vocab) // final round's blocks: nothing reads them again
    merges.toSeq
  }

  /** Segment one word with a trained merge list (apply merges in rank
    * order) — the encoding half used to sanity-check a trained vocab.
    */
  /** Apply a trained merge list to every document — the tokenizer
    * APPLICATION pass that turns a trained vocab into corpus token counts
    * (the budget input for packing/chunking). Output per doc:
    * `(id, n_words, n_pieces, preview)` where `preview` is the first
    * `previewPieces` pieces space-joined (a human-checkable sample).
    *
    * Scale shape: entirely map-side — the merge list broadcasts once
    * (≤ vocab-size small), segmentation runs inside `mapPartitions` with a
    * per-task word→pieces memo (Zipf's law makes the hit rate ~99% on
    * running text, so the per-word merge loop amortizes away; the memo is
    * capped at 2²⁰ entries to bound task memory on pathological corpora).
    * No shuffle, no driver state; tokenization matches [[bpeTrain]]'s
    * (lowercased whitespace words) so counts are train-consistent.
    */
  def bpeEncodeDocs(df: DataFrame, idCol: String, textCol: String,
                    merges: Seq[BpeMerge], previewPieces: Int = 10): DataFrame = {
    val spark = df.sparkSession
    val sorted = merges.sortBy(_.rank).toArray
    val bc = spark.sparkContext.broadcast(sorted)
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"),
        coalesce(lower(col(textCol)), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ms = bc.value
        val memo = new java.util.HashMap[String, Array[String]]()
        it.map { case (id, t) =>
          // EXACT mirror of TextOps.tokens: Spark's trim strips only 0x20
          // (Java's String.trim strips all <= 0x20 incl. \n\t\r, which
          // would silently drop the trailing-empty token the train-side
          // stream counts on "low\n") and split keeps trailing empties
          val trimmed = {
            var a = 0; var b = t.length
            while (a < b && t.charAt(a) == ' ') a += 1
            while (b > a && t.charAt(b - 1) == ' ') b -= 1
            t.substring(a, b)
          }
          val words =
            if (trimmed.isEmpty) Array.empty[String]
            else trimmed.split("\\s+", -1)
          var nPieces = 0L
          val preview = new scala.collection.mutable.ArrayBuffer[String]()
          words.foreach { w =>
            var pieces = memo.get(w)
            if (pieces == null) {
              pieces = segmentWith(w, ms)
              if (memo.size < (1 << 20)) memo.put(w, pieces)
            }
            nPieces += pieces.length
            var i = 0
            while (i < pieces.length && preview.size < previewPieces) {
              preview += pieces(i); i += 1
            }
          }
          (id, words.length, nPieces, preview.mkString(" "))
        }
      }.toDF("id", "n_words", "n_pieces", "preview")
  }

  /** [[bpeSegment]] against an already-rank-sorted merge array (the hot
    * inner loop of [[bpeEncodeDocs]] — no per-word sort).
    */
  private[ops] def segmentWith(word: String, sorted: Array[BpeMerge]): Array[String] = {
    var syms = word.toCharArray.map(_.toString)
    var mi = 0
    while (mi < sorted.length) {
      val m = sorted(mi)
      var has = false
      var i = 0
      while (!has && i + 1 < syms.length) {
        if (syms(i) == m.left && syms(i + 1) == m.right) has = true
        i += 1
      }
      if (has) syms = mergeWord(syms, m.left, m.right)
      mi += 1
    }
    syms
  }

  def bpeSegment(word: String, merges: Seq[BpeMerge]): Seq[String] = {
    var syms = word.toCharArray.map(_.toString)
    merges.sortBy(_.rank).foreach { m =>
      var has = false
      var i = 0
      while (!has && i + 1 < syms.length) {
        if (syms(i) == m.left && syms(i + 1) == m.right) has = true
        i += 1
      }
      if (has) syms = mergeWord(syms, m.left, m.right)
    }
    syms.toSeq
  }
}
