package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard verification.
  *
  * Scale design: every stage is shuffle-minimal —
  *  - exact dedup is one hash-aggregate on a 16-byte fingerprint (never
  *    shuffles full text);
  *  - MinHash/SimHash signatures are computed map-side (one pass per row),
  *    candidate generation shuffles only (band-key, id) pairs, and exact
  *    verification joins shingle sets back only for the candidate pairs;
  *  - near-dup pipelines run **exact-dedup first**: fingerprint-identical
  *    documents collapse to one representative before any LSH banding, so a
  *    boilerplate cluster of 10^6 identical pages contributes ONE row to the
  *    band join instead of an N² bucket explosion on a single reducer.
  *    Qualifying pairs are re-expanded from the fingerprint groups afterward
  *    (group members share the rep's shingle set by construction, so the
  *    expanded pairs carry exactly the rep pair's intersection/union);
  *  - residual hot buckets (near- but not exactly-identical boilerplate) are
  *    dropped by a size guard, with the number of skipped candidate pairs
  *    reported through an accumulator — capped coverage is never silent.
  */
object DedupOps {
  /** Stage commit marker for [[dedupCorpus]]'s `artifactDir` resume: a
    * stage directory without it is a partial write (same contract as
    * ExtractJob's bucket markers — existence alone is never completion).
    */
  private val CommitMarker = "_COMMITTED"

  /** Rank duplicates within exact-fingerprint groups; `dup_rank = 1` is the
    * canonical survivor, everything else is droppable. This (id → rep)
    * representation is the form to persist at 10^12-doc scale — it is linear
    * in the corpus where the all-pairs form is quadratic in group size.
    */
  def exactDupRanks(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = TextOps.fingerprint(col(textCol))
    df.withColumn("fp", fp)
      .withColumn("dup_rank", row_number().over(Window.partitionBy(col("fp")).orderBy(col(idCol))))
      .withColumn("group_size", count(lit(1)).over(Window.partitionBy(col("fp"))))
  }

  /** The skew-safe LINEAR form of exact dedup: one row `(id, rep,
    * group_size, is_keeper)` per document, where `rep` is the group's
    * minimum id. Unlike [[exactDupRanks]] — whose per-fingerprint window
    * materializes a 10^9-member identical-boilerplate cluster on ONE
    * reducer (windows get no AQE skew split) — this is a hash-aggregate
    * (map-side partial combine collapses the hot fingerprint to one row
    * per map partition) plus an equi-join back, which AQE skew-splits.
    * Use this form at scale whenever per-member ranks are not needed
    * (dedup keep/drop decisions only need rep identity).
    */
  def exactDupReps(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // null-text docs form their own group (as the windowed form's null
    // partition does) instead of vanishing through the null-hostile
    // equi-join: fingerprint(null) is null and null = null never matches.
    // The sentinel cannot collide with a real md5 (32 hex chars).
    val withFp = df.select(col(idCol).as("id"),
      coalesce(TextOps.fingerprint(col(textCol)), lit("__null_text__")).as("fp"))
    val groups = withFp.groupBy("fp")
      .agg(min(col("id")).as("rep"), count(lit(1)).as("group_size"))
    withFp.join(groups, "fp")
      .select(col("id"), col("rep"), col("group_size"), (col("id") === col("rep")).as("is_keeper"))
  }

  /** 64-bit string hash (xx-style avalanche over UTF-16 chars). */
  private[ops] def hash64(s: String): Long = {
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= 0xc2b2ae3d27d4eb4fL
      h ^= h >>> 29
      i += 1
    }
    h * 0xff51afd7ed558ccdL
  }

  /** Per-permutation hash family: h_i(x) = a(x) + i·b(x) over Z/2^64 with
    * `b` odd (a bijection per i) — the Kirsch–Mitzenmacher two-hash
    * construction, the standard practical MinHash family (spark.ml's
    * MinHashLSH uses the same affine-per-permutation shape). `a` is the
    * string hash, `b` one more avalanche round of it, forced odd. The
    * per-permutation cost is ONE add (the signature loop walks i
    * incrementally), measured 1.45× faster end-to-end than the previous
    * xor-multiply mix per (shingle, i) at 512 hashes — at 100 TB the
    * signature pass is the dominant map cost of every near-dup pipeline,
    * so the kernel constant is the lever.
    */
  private[ops] def deriveB(a: Long): Long = {
    var b = a
    b ^= b >>> 33
    b *= 0xc2b2ae3d27d4eb4fL
    b ^= b >>> 29
    b | 1L
  }

  /** MinHash signature from an already-computed shingle-array column. One
    * pass: each shingle is hashed once (`a`), a second derived hash (`b`)
    * strides the Kirsch–Mitzenmacher family h_i = a + i·b, and the inner
    * loop updates the running minima with one add + compare per
    * permutation — a single typed UDF beats the equivalent 64-expression
    * Catalyst tree, which falls out of whole-stage codegen at this width
    * (measured ~100×). Duplicate shingles cannot change a minimum, so
    * distinct and raw shingle arrays give identical signatures.
    */
  def minhashSignatureOf(shCol: Column, numHashes: Int = 64): Column = {
    val sigUdf = udf { (shingles: Seq[String]) =>
      val mins = Array.fill(numHashes)(Long.MaxValue)
      if (shingles != null) {
        val it = shingles.iterator
        while (it.hasNext) {
          val a = hash64(it.next())
          val b = deriveB(a)
          var v = a
          var i = 0
          while (i < numHashes) {
            if (v < mins(i)) mins(i) = v
            v += b
            i += 1
          }
        }
      }
      mins
    }
    sigUdf(shCol)
  }

  /** Map-side MinHash signature as an array<bigint> column of length
    * `numHashes`, from word `k`-shingles of raw text.
    */
  def minhashSignature(textCol: Column, k: Int = 3, numHashes: Int = 64): Column =
    minhashSignatureOf(TextOps.shingles(textCol, k), numHashes)

  /** LSH band hashes of a signature column as an array<bigint> of length
    * `bands` (band b = xxhash64 of its signature slice, seeded by b). The
    * signature expression is bound via [[TextOps.bindOnce]] so it is
    * evaluated once, not once per band.
    */
  private[graft] def bandHashesOf(sig: Column, bands: Int, rowsPerBand: Int): Column =
    TextOps.bindOnce(sig)(s =>
      transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",", slice(s, b * rowsPerBand + 1, lit(rowsPerBand))), b)))

  /** Band-explode a signature column into (id, band, bucket) rows. */
  private def bandExplode(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sig.select(col("id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))), b)))
      .as(Seq("band", "bucket")))

  /** Self-join banded rows on (band, bucket) into unique candidate id
    * pairs, skipping buckets larger than `maxBucket` (the residual-skew
    * guard).
    *
    * Guard accounting is fused into the candidate job itself: the
    * bucket-size filter runs through a side-effecting predicate that
    * records each dropped (band, bucket, size) into `skippedBuckets` as
    * the filter executes — no separate accounting action. The accumulator
    * is a collection keyed by (band, bucket), so re-execution of the
    * filter subtree (the self-join evaluates it on both sides; task
    * retries re-run it) deduplicates instead of double-counting. The
    * derived pair count ([[skippedPairCount]]) is an UPPER BOUND on lost
    * pairs: a pair in an oversized bucket may still be emitted via another
    * small shared bucket, and the same pair is counted once per oversized
    * (band, bucket) it lands in.
    */
  private def bucketJoin(banded: DataFrame, maxBucket: Int,
                         skippedBuckets: Option[org.apache.spark.util.CollectionAccumulator[(Int, Long, Long)]]): DataFrame = {
    val guarded =
      if (maxBucket == Int.MaxValue) banded
      else {
        val sizes = banded.groupBy("band", "bucket").agg(count(lit(1)).as("bsize"))
        val small = skippedBuckets match {
          case Some(acc) =>
            val guardPredicate = udf { (band: Int, bucket: Long, bsize: Long) =>
              if (bsize > maxBucket) { acc.add((band, bucket, bsize)); false } else true
            }.asNondeterministic() // side effect: must run exactly where placed
            sizes.filter(guardPredicate(col("band"), col("bucket"), col("bsize")))
          case None => sizes.filter(col("bsize") <= maxBucket)
        }
        banded.join(small, Seq("band", "bucket")).drop("bsize")
      }
    guarded.as("l").join(guarded.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
  }

  /** LSH candidate pairs: band the signature into `bands` groups of
    * `numHashes/bands` rows, bucket-join on (band, band-hash), emit unique
    * id pairs. Only ids and 8-byte band hashes shuffle.
    *
    * Note: this utility recomputes the signature lineage per plan subtree
    * (identical subtrees dedupe via exchange reuse); for guarded or
    * repeated use, prefer [[minhashNearDups]], which persists the
    * signature stage.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, numHashes: Int = 64, bands: Int = 16,
                        maxBucket: Int = Int.MaxValue): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sig = df.select(col(idCol).as("id"), minhashSignature(col(textCol), k, numHashes).as("sig"))
    bucketJoin(bandExplode(sig, bands, numHashes / bands), maxBucket, None)
  }

  /** Exact n-gram Jaccard for given candidate pairs (columns id_a, id_b):
    * joins shingle sets back and computes |∩| / |∪| with native array ops.
    */
  def jaccardVerify(candidates: DataFrame, df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    val sets = df.select(col(idCol).as("id"),
      array_distinct(TextOps.shingles(col(textCol), k)).as("sh"))
    candidates
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("union", size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        when(col("union") === 0, lit(0.0)).otherwise(col("inter").cast("double") / col("union")))
      .select("id_a", "id_b", "inter", "union", "jaccard")
  }

  /** Expand representative-level pairs to full id pairs across fingerprint
    * groups, carrying the rep pair's metric columns (identical normalized
    * text ⇒ identical shingle sets/signatures). Emits id_a < id_b.
    */
  private def expandCross(repPairs: DataFrame, byRep: DataFrame,
                          carry: Seq[String]): DataFrame =
    repPairs
      .join(byRep.select(col("rep").as("id_a"), col("id").as("ma")), "id_a")
      .join(byRep.select(col("rep").as("id_b"), col("id").as("mb")), "id_b")
      .select(least(col("ma"), col("mb")).as("id_a") +:
        greatest(col("ma"), col("mb")).as("id_b") +: carry.map(col): _*)

  /** All (id_a < id_b, rep) pairs within each fingerprint group — exact
    * duplicates by construction — plus the left member's `carry` columns.
    * Callers should pre-filter the input to duplicate groups (group size
    * > 1): the self-join is then quadratic only in duplicate members,
    * never in the corpus-sized (id → rep) map.
    */
  private def withinGroupPairs(byRep: DataFrame, carry: Seq[String] = Nil): DataFrame =
    byRep.as("x").join(byRep.as("y"),
        col("x.rep") === col("y.rep") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a") +: col("y.id").as("id_b") +:
        col("x.rep").as("rep") +: carry.map(c => col(s"x.$c").as(c)): _*)

  /** Upper bound on candidate pairs lost to the bucket guard, derived from
    * the recorded oversized buckets (deduplicated by (band, bucket), so
    * re-executions of the guard filter cannot inflate it).
    */
  private def skippedPairCount(
      acc: org.apache.spark.util.CollectionAccumulator[(Int, Long, Long)]): Long = {
    import scala.jdk.CollectionConverters._
    acc.value.asScala.toSet[(Int, Long, Long)].iterator
      .map { case (_, _, n) => n * (n - 1) / 2 }.sum
  }

  /** Full MinHash-LSH near-dup pipeline: exact-dedup collapse → LSH
    * candidates over representatives → exact-Jaccard verify → expand back
    * to id pairs above `threshold`.
    *
    * Scale shape (nothing corpus-sized ever crosses an exchange):
    *  1. One map-side pass computes per row the fingerprint, the LSH band
    *     hashes (bands × 8 B, via signature → band hashes, all inside the
    *     scan stage), and the distinct-shingle count. The per-fingerprint
    *     aggregate then shuffles only (fp, id, band hashes, count) — raw
    *     text and full signatures stay on the map side, and the partial
    *     min/min_by collapses duplicate clusters before the exchange.
    *     (Members of a fingerprint group share normalized text, hence
    *     identical shingles/signature/band hashes — min_by is only for
    *     determinism.)
    *  2. Candidate generation explodes the per-rep band hashes and joins
    *     on (band, bucket): ids + 8-byte hashes only.
    *  3. Exact-Jaccard verification re-reads text for candidate reps ONLY,
    *     via a broadcast semi-join on the candidate id set — the corpus
    *     streams map-side through the filter and just the candidates'
    *     shingle sets shuffle into the pair join.
    * The cost of this shape is signature work per ROW (not per rep) in
    * pass 1 and a second corpus scan in pass 3 — map-side compute traded
    * for exchange bytes, the right trade at 100 TB.
    * Only this public pair list expands the verified REPRESENTATIVE pairs
    * to id pairs (quadratic in group size); [[dedupCorpus]] does not.
    *
    * The returned (small, pairs-only) frame is persisted and materialized;
    * call `result.unpersist()` when done with it.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.8, k: Int = 3,
                      numHashes: Int = 64, bands: Int = 16,
                      maxBucket: Int = Int.MaxValue): DataFrame = {
    val (repPairs, byRep, release) =
      minhashRepPairs(df, idCol, textCol, threshold, k, numHashes, bands, maxBucket)
    // within-group pairs are exact duplicates: jaccard 1 whenever the
    // shingle set is non-empty. Pre-filtering byRep to duplicate groups
    // makes the self-join quadratic only in the DUPLICATE members, never
    // the corpus-sized (id → rep) map.
    val within = withinGroupPairs(dupMembers(byRep), carry = Seq("nsh"))
      .select(col("id_a"), col("id_b"), col("nsh").as("inter"), col("nsh").as("union"),
        lit(1.0).as("jaccard"))
    val expanded = expandCross(repPairs, byRep, Seq("inter", "union", "jaccard"))
      .unionByName(within)

    // Materialize into a pairs-only cache, then release the intermediates.
    // The returned (small) frame owns its own cache; callers release it
    // with result.unpersist() when done.
    val result = expanded.persist(StorageLevel.MEMORY_AND_DISK)
    result.count()
    release()
    result
  }

  /** Passes 1-3 of [[minhashNearDups]]: the verified representative pairs
    * `(id_a < id_b, inter, union, jaccard)` (lazy), the persisted
    * `(id, rep, gsz, nsh)` map, and a hook that frees the caches and logs
    * the bucket guard's skips once a consumer of the pairs has run.
    */
  private def minhashRepPairs(df: DataFrame, idCol: String, textCol: String,
                              threshold: Double, k: Int, numHashes: Int, bands: Int,
                              maxBucket: Int): (DataFrame, DataFrame, () => Unit) = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = df.sparkSession
    val skipped = spark.sparkContext
      .collectionAccumulator[(Int, Long, Long)]("graft.dedup.minhash.skippedBuckets")

    val repAgg = minhashRepAgg(df, idCol, textCol, k, numHashes, bands)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // (id → rep) is consumed several times by the consumers — cache the
    // tiny id-pair map instead of recomputing its corpus-scan lineage. The
    // groups side re-derives only the fingerprint (cheap md5 scan). gsz and
    // nsh ride along so the within-group consumers need NO further join
    // against repAgg and can pre-filter to duplicate groups only.
    val groups = df.select(col(idCol).as("id"), TextOps.fingerprint(col(textCol)).as("fp"))
    val byRep = groups
      .join(repAgg.select(col("fp"), col("rep"), col("gsz"), col("nsh")), "fp")
      .select(col("id"), col("rep"), col("gsz"), col("nsh"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val banded = repAgg.select(col("rep").as("id"),
      posexplode(col("bh")).as(Seq("band", "bucket")))
    // Persisted: reused by the verify join AND the candidate-id broadcast
    // below. The eager count() barrier runs only when the bucket guard is
    // active (its accumulator-fed predicate should execute exactly once);
    // un-guarded runs let the first consumer (the verify stage's
    // candidate-id broadcast) materialize the cache — one fewer action on
    // the default path, identical pair output.
    val candidates = bucketJoin(banded, maxBucket, Some(skipped))
      .persist(StorageLevel.MEMORY_AND_DISK)
    if (maxBucket != Int.MaxValue) candidates.count()

    // Exact verification: fetch shingle sets for candidate reps only.
    val candIds = candidates.select(col("id_a").as("__cid"))
      .union(candidates.select(col("id_b").as("__cid"))).distinct()
    // persisted: consumed by both sides of the pair join — block-level
    // cache locking means whichever side computes a partition first feeds
    // the other, so no eager count barrier is needed (one fewer action)
    val sets = df.join(broadcast(candIds), col(idCol) === col("__cid"), "left_semi")
      .select(col(idCol).as("id"), array_distinct(TextOps.shingles(col(textCol), k)).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val repPairs = candidates
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("union", size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        when(col("union") === 0, lit(0.0)).otherwise(col("inter").cast("double") / col("union")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "union", "jaccard")

    (repPairs, byRep, () => {
      repAgg.unpersist(blocking = false)
      byRep.unpersist(blocking = false)
      candidates.unpersist(blocking = false)
      sets.unpersist(blocking = false)
      val nSkipped = skippedPairCount(skipped)
      if (nSkipped > 0)
        org.slf4j.LoggerFactory.getLogger("graft.dedup").warn(
          s"minhashNearDups: bucket guard (maxBucket=$maxBucket) skipped up to " +
            s"$nSkipped candidate pairs (pairs may survive via other buckets)")
    })
  }

  /** The clustering edge list of [[dedupCorpus]]: the verified rep pairs
    * plus one star edge `(rep, id)` per other member of an exact-duplicate
    * group — g − 1 edges per group, not [[minhashNearDups]]'s g(g − 1)/2,
    * with the same components (a star through the min-id rep reaches the
    * same min id as the clique). Persisted; the hook releases everything.
    */
  private[graft] def minhashClusterEdges(df: DataFrame, idCol: String, textCol: String,
                                         threshold: Double, k: Int, numHashes: Int,
                                         bands: Int, maxBucket: Int): (DataFrame, () => Unit) = {
    val (repPairs, byRep, release) =
      minhashRepPairs(df, idCol, textCol, threshold, k, numHashes, bands, maxBucket)
    val star = dupMembers(byRep).filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
    val edges = repPairs.select("id_a", "id_b").unionByName(star)
      .persist(StorageLevel.MEMORY_AND_DISK)
    (edges, () => { release(); edges.unpersist(blocking = false) })
  }

  /** Exact-duplicate members; empty shingle sets stay unclustered. */
  private def dupMembers(byRep: DataFrame): DataFrame =
    byRep.filter(col("gsz") > 1 && col("nsh") > 0)

  /** Map-side pass 1 + per-fingerprint collapse for [[minhashNearDups]]:
    * (fp, rep, band hashes, distinct-shingle count) per distinct document.
    * Package-visible so plan tests can assert that no exchange in this
    * stage carries the raw text column.
    */
  private[graft] def minhashRepAgg(df: DataFrame, idCol: String, textCol: String,
                                 k: Int, numHashes: Int, bands: Int): DataFrame =
    df.withColumn("__sh", array_distinct(TextOps.shingles(col(textCol), k)))
      .withColumn("__sig", minhashSignatureOf(col("__sh"), numHashes))
      .select(TextOps.fingerprint(col(textCol)).as("fp"),
        col(idCol).as("id"),
        bandHashesOf(col("__sig"), bands, numHashes / bands).as("bh"),
        size(col("__sh")).as("nsh"))
      .groupBy("fp")
      .agg(min(col("id")).as("rep"),
        min_by(col("bh"), col("id")).as("bh"),
        min_by(col("nsh"), col("id")).as("nsh"),
        count(lit(1)).as("gsz"))

  /** Connected components over an undirected pair list `(id_a, id_b)`:
    * one row `(id, cluster)` per vertex, `cluster` = the minimum id
    * reachable from it — the canonical "pairs → dedup groups" step that
    * follows near-dup pair generation (keep one representative per
    * cluster, drop the rest).
    *
    * Iterative min-label propagation: each round is one edge join + one
    * min-aggregate, labels only (two longs per vertex) ever shuffle, and
    * the loop runs until a fixpoint — O(diameter) rounds. Near-dup graphs
    * are unions of near-cliques, so the diameter is tiny (2-3 rounds in
    * practice); for adversarial long-chain graphs at extreme scale the
    * round count is capped by `maxIter` and the result still a valid
    * refinement (each label is some reachable id).
    *
    * The returned frame is backed by the final round's (materialized)
    * checkpoint — small (two longs per vertex) and freed with the session.
    * NOTE: with `checkpointDir` set, prefer [[connectedComponentsStatus]]:
    * this convenience wrapper cannot return the final round's
    * cc-<uuid> path, which the caller must delete once done with the
    * labels (Spark never deletes checkpoints itself).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          strict: Boolean = false,
                          checkpointDir: Option[String] = None): DataFrame = {
    val r = connectedComponentsStatus(pairs, maxIter, checkpointDir)
    if (strict)
      require(r.converged,
        s"connectedComponents: maxIter=$maxIter reached before convergence — " +
          "the labeling is a valid refinement but NOT the full component " +
          "labeling; raise maxIter or drop strict to accept the refinement")
    r.labels
  }

  /** Labeling plus convergence status: `converged = false` means `maxIter`
    * was hit while labels were still changing (the result is a valid
    * refinement — every label is some reachable id — but long chains may
    * not have fully collapsed). Callers that must not silently accept a
    * partial labeling check this field or use `connectedComponents(strict
    * = true)`. `checkpointPath` is the invocation's private cc-<uuid>
    * reliable-checkpoint subdir (None on the localCheckpoint path): it
    * backs the returned `labels` frame, so the caller deletes it once done
    * consuming the labels.
    */
  final case class CcResult(labels: DataFrame, converged: Boolean, iterations: Int,
                            checkpointPath: Option[String] = None)

  def connectedComponentsStatus(pairs: DataFrame, maxIter: Int = 20,
                                checkpointDir: Option[String] = None): CcResult = {
    require(maxIter >= 1, s"connectedComponents needs maxIter >= 1, got $maxIter")
    val spark = pairs.sparkSession
    // Lineage truncation per round is mandatory (see below); the flavor is
    // a deployment choice: `localCheckpoint` (executor-local blocks, freed
    // with the session, lost with an executor) for single-box / ephemeral
    // runs, reliable `checkpoint` (HDFS/object store) so a 1000-executor
    // cluster recovers rounds instead of restarting the whole loop on
    // executor loss. Reliable rounds are CLEANED as the loop advances
    // (Spark never deletes checkpoints itself — cleanCheckpoints defaults
    // off, and maxIter full label copies at 10^12-vertex scale is real
    // storage): each invocation writes under its own cc-<uuid> subdir, and
    // a superseded round's rdd dir is deleted once the next round is
    // materialized AND the change-count that reads it has run. The FINAL
    // round's files back the returned frame — its cc-<uuid> path is
    // returned in CcResult.checkpointPath for the caller to delete when
    // done with the labels.
    //
    // CAVEAT (inherent to Spark's API): the checkpoint directory is a
    // GLOBAL SparkContext setting. It is saved and restored around this
    // loop, but another thread calling `.checkpoint()` concurrently with
    // the loop can land its files in this invocation's cc-<uuid> dir and
    // have them swept by the per-round cleanup. Reliable mode assumes the
    // session's checkpoint users are sequential (the normal batch-pipeline
    // shape); run concurrent checkpoint workloads on separate sessions.
    // (If NO checkpoint dir was set before this call, Spark offers no
    // unset API, so the session keeps pointing at this invocation's subdir
    // afterwards — set your own dir before unrelated checkpoint work.)
    val prevCheckpointDir = spark.sparkContext.getCheckpointDir
    var ccPath: Option[String] = None
    // EVERYTHING after the checkpoint-dir capture runs under try/finally:
    // the redirect is a SparkContext-GLOBAL mutation, and a failure can
    // surface before the loop's first action (driver-side plan work in
    // persist()/analysis throws for bad input), so the restore must guard
    // the redirect itself, not just the iteration. On failure the
    // cc-<uuid> dir is best-effort deleted — nothing can consume a
    // partial run's round files.
    var ok = false
    var edgesHandle: Option[DataFrame] = None
    try {
      val (truncate, cleanupSuperseded): (DataFrame => DataFrame, () => Unit) =
        checkpointDir match {
          case Some(dir) =>
            import org.apache.hadoop.fs.Path
            val unique = s"$dir/cc-${java.util.UUID.randomUUID()}"
            ccPath = Some(unique)
            spark.sparkContext.setCheckpointDir(unique)
            val fs = new Path(unique).getFileSystem(spark.sparkContext.hadoopConfiguration)
            def rddDirs(): Set[String] = {
              val base = new Path(unique)
              if (!fs.exists(base)) Set.empty
              else fs.listStatus(base).toSeq.flatMap { u =>
                if (!u.isDirectory) Nil
                else fs.listStatus(u.getPath).toSeq.collect {
                  case s if s.isDirectory && s.getPath.getName.startsWith("rdd-") =>
                    s.getPath.toString
                }
              }.toSet
            }
            var deletable = Set.empty[String]
            val trunc: DataFrame => DataFrame = df => {
              val before = rddDirs()
              val out = df.checkpoint(eager = true)
              deletable = before
              out
            }
            (trunc, () => deletable.foreach(d => fs.delete(new Path(d), true)))
          case None =>
          // mirror the reliable path's superseded-round cleanup: without
          // it, up to maxIter full per-vertex label frames stay pinned in
          // executor storage until RDD GC (the BpeOps freeLocalCheckpoint
          // lesson). A superseded round is freed only after the next round
          // is materialized AND the change-count that reads it has run.
          var prevLocal: Option[DataFrame] = None
          var supersededLocal: Option[DataFrame] = None
          val trunc: DataFrame => DataFrame = df => {
            val out = df.localCheckpoint(eager = true)
            supersededLocal = prevLocal
            prevLocal = Some(out)
            out
          }
          (trunc, () => { supersededLocal.foreach(CacheUtil.freeLocalCheckpoint); supersededLocal = None })
        }
      // No edge distinct(): min-label propagation is IDEMPOTENT to
      // duplicate edges (min over a multiset equals min over its set), so
      // de-duplicating 2|pairs| rows would spend a full shuffle to buy
      // nothing for the unique pair lists the dedup pipelines emit.
      // Callers with heavily-duplicated pair lists should distinct first —
      // duplicates cost per-round join width, never correctness.
      // Hash-partitioned by dst BEFORE caching: every propagation round
      // joins edges on dst, so the cached partitioning satisfies the
      // join's distribution and only the (small) labels side shuffles per
      // round — one upfront edge shuffle replaces one per round.
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .repartition(col("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      edgesHandle = Some(edges) // released in finally: failure paths too

      // Each round's result is checkpointed (eager): without lineage
      // TRUNCATION the logical plan triples per iteration and Catalyst
      // analysis/optimization time grows exponentially — the classic
      // iterative-DataFrame trap (measured 41 s for a 500-vertex graph with
      // persist() alone; ~2 s with checkpointing).
      //
      // Round 1 is FUSED with initialization: with labels(id) = id, the
      // first round's neighbor-min join degenerates to min(dst) per src, so
      // one hash-aggregate over the edge list replaces the old
      // distinct-vertices checkpoint PLUS the first join round — one
      // exchange instead of four, two fewer actions. Each round also
      // carries its own `chg` flag (did this vertex's label shrink?), so
      // the convergence count is a filter over the just-checkpointed frame
      // instead of a join back against the previous round (two more
      // exchanges saved per round). Label states per round are IDENTICAL
      // to the unfused loop; `iterations` counts the fused round as 1.
      var labels = truncate(edges.groupBy("src").agg(min(col("dst")).as("nmin"))
        .select(col("src").as("id"),
          least(col("src"), col("nmin")).as("label"),
          (col("nmin") < col("src")).as("chg")))

      var changed = labels.filter(col("chg")).count()
      var iter = 1
      while (changed > 0 && iter < maxIter) {
        val neighborMin = edges
          .join(labels.select(col("id").as("dst"), col("label").as("nlabel")), "dst")
          .groupBy("src").agg(min(col("nlabel")).as("nmin"))
        val updated = truncate(labels
          .select(col("id"), col("label"))
          .join(neighborMin.select(col("src").as("id"), col("nmin")), Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
            (coalesce(col("nmin"), col("label")) < col("label")).as("chg")))
        changed = updated.filter(col("chg")).count()
        labels = updated
        cleanupSuperseded() // previous round's reliable checkpoint, if any
        iter += 1
      }
      if (changed > 0)
        org.slf4j.LoggerFactory.getLogger("graft.dedup").warn(
          s"connectedComponents: maxIter=$maxIter reached with $changed labels still " +
            "changing — result is a valid refinement, not the full component labeling " +
            "(graph diameter exceeds the round cap)")
      ok = true
      CcResult(labels.select(col("id"), col("label").as("cluster")), changed == 0, iter, ccPath)
    } finally {
      // release the edge cache on EVERY exit path (a mid-loop failure must
      // not pin 2|pairs| rows in executor storage for the session)
      edgesHandle.foreach(_.unpersist(blocking = false))
      // restore the session's checkpoint dir (a global setting this loop
      // redirected); later .checkpoint() callers must not land in cc-<uuid>
      prevCheckpointDir.foreach(spark.sparkContext.setCheckpointDir)
      if (!ok) ccPath.foreach { p =>
        try {
          import org.apache.hadoop.fs.Path
          val hp = new Path(p)
          hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
        } catch { case scala.util.control.NonFatal(_) => () } // best-effort
      }
    }
  }

  /** End-to-end dedup "keeper" composition — the form a pretraining
    * pipeline actually consumes: near-dup edges → connected components →
    * per-cluster keeper → the filtered survivor corpus (all of `df`'s
    * columns, minus every non-keeper cluster member).
    *
    * Scale shape: clustering runs on the factorized edge list of
    * [[minhashClusterEdges]] (linear in exact-group size; the same
    * components as [[minhashNearDups]]'s expanded pairs). The final filter
    * is an anti-join of the corpus against the LOSER id set (cluster
    * members that are not their cluster's keeper) — a small, ids-only
    * frame by construction, so it is broadcast for any realistic dup rate;
    * the corpus itself streams map-side and its text never crosses an
    * exchange.
    *
    * Clustering is strict: an unconverged labeling could drop *keepers*,
    * so it fails fast instead.
    *
    * `df` is consumed several times (signature pass, fingerprint-group
    * join, candidate-text re-read, final anti-join): when its lineage is
    * more than a plain scan — e.g. a quality-filtered view — persist or
    * checkpoint it first, or every consumption re-runs that lineage.
    *
    * `keepBy` selects the survivor policy: `None` (default) keeps each
    * cluster's minimum id; `Some(column)` keeps the member MAXIMIZING that
    * expression over `df`'s columns (longest text, highest quality score —
    * what real pipelines keep), ties broken by minimum id so the choice is
    * deterministic. The policy computation is two hash-aggregates over
    * (cluster, id, key) rows — no window, so a degenerate 10^9-member
    * cluster partial-aggregates map-side instead of landing on one reducer.
    *
    * With `checkpointDir` set, the final round's reliable-checkpoint files
    * (which back the labels frame) are consumed into the loser id set and
    * then DELETED here — callers get a clean survivor frame and no leaked
    * per-invocation cc-<uuid> directory.
    *
    * Every run takes the stage sequence `pairs` (the clustering edge list)
    * → `labels` (`(id, cluster)`), kept in memory by default. With
    * `artifactDir` set the run is RESTARTABLE: each stage is written as
    * `_COMMITTED`-marked parquet under it and read back, and a re-run
    * resumes from the last committed stage (a died clustering pass from
    * pairs, a died anti-join from labels) instead of re-running the corpus
    * signature pass. A `pairs` stage of fully expanded id pairs (as older
    * versions wrote) has the same components, so it resumes to the same
    * survivors. The caller owns the directory — delete it to force a
    * fresh run.
    */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
                  threshold: Double = 0.8, k: Int = 3,
                  numHashes: Int = 64, bands: Int = 16,
                  maxBucket: Int = Int.MaxValue, maxIter: Int = 20,
                  checkpointDir: Option[String] = None,
                  keepBy: Option[Column] = None,
                  artifactDir: Option[String] = None): DataFrame = {
    import org.apache.hadoop.fs.Path
    val spark = df.sparkSession
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    // star edges match the expanded pairs only if jaccard 0 never verifies
    require(threshold > 0, s"dedupCorpus needs threshold > 0, got $threshold")
    // resolve the keeper-policy expression BEFORE any heavy work: a typo'd
    // column (DedupMain --keep-by col:<typo>) must fail here, not after
    // hours of signature + clustering jobs (analysis only — no job runs)
    keepBy.foreach(c => df.select(c).queryExecution.analyzed)
    val artifacts = artifactDir.map { dir =>
      val fs = new Path(dir).getFileSystem(hadoopConf)
      // Parameter sidecar: committed stages embody the parameters they
      // were produced with — resuming them under DIFFERENT dedup
      // parameters would silently return stale results. The first run
      // records the parameters; every later run must match or fail fast.
      // keepBy is deliberately NOT recorded: it only affects the post-label
      // keeper derivation, so the same stages serve any policy.
      val params = s"""{"idCol":"$idCol","textCol":"$textCol","threshold":$threshold,""" +
        s""""k":$k,"numHashes":$numHashes,"bands":$bands,"maxBucket":$maxBucket}"""
      val paramsPath = new Path(s"$dir/params.json")
      if (fs.exists(paramsPath)) {
        val in = fs.open(paramsPath)
        val prior = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        require(prior == params,
          s"dedupCorpus: artifactDir $dir was produced with different parameters " +
            s"($prior vs $params) — resuming would return stale results; delete the " +
            "directory to re-run under the new parameters")
      } else if (Seq("pairs", "labels").exists(st => fs.exists(new Path(s"$dir/$st/$CommitMarker")))) {
        sys.error(s"dedupCorpus: artifactDir $dir has committed stages but no " +
          "params.json — cannot prove parameter compatibility; delete the directory")
      } else {
        val out = fs.create(paramsPath, true)
        out.write(params.getBytes("UTF-8"))
        out.close()
      }
      (dir, fs)
    }
    // One stage of the sequence: the computed frame itself, or with
    // artifactDir its committed parquet (ExtractJob's bucket-commit idiom:
    // the marker is written only after the producing job finished; an
    // unmarked stage dir is a partial write — overwritten, never trusted).
    def stage(name: String)(compute: => DataFrame): DataFrame = artifacts match {
      case None => compute
      case Some((dir, fs)) =>
        val marker = new Path(s"$dir/$name/$CommitMarker")
        if (!fs.exists(marker)) {
          compute.write.mode("overwrite").parquet(s"$dir/$name")
          fs.create(marker, true).close()
        }
        spark.read.parquet(s"$dir/$name") // the _-prefixed marker is not scanned
    }
    var releaseEdges: () => Unit = () => ()
    var ccPath: Option[String] = None
    val losers = try {
      val labels = stage("labels") {
        val edges = stage("pairs") {
          val (e, release) = minhashClusterEdges(df, idCol, textCol, threshold, k,
            numHashes, bands, maxBucket)
          releaseEdges = release
          e
        }
        val cc = connectedComponentsStatus(edges, maxIter, checkpointDir)
        ccPath = cc.checkpointPath
        if (!cc.converged)
          throw new IllegalArgumentException(
            s"dedupCorpus: connected components did not converge in maxIter=$maxIter " +
              "rounds — raise maxIter (an unconverged labeling could drop keepers)")
        cc.labels
      }
      val losersLazy = keepBy match {
        case None =>
          // min-id policy: the cluster label IS the min reachable id
          labels.filter(col("cluster") =!= col("id")).select(col("id").as("__loser_id"))
        case Some(keyCol) =>
          // per-cluster max key, then the min id among members attaining
          // it. Null-safe equality (<=>) on the max: an all-null-key cluster
          // would otherwise produce no keeper at all (null === null is null)
          // and silently keep every duplicate; with <=> it falls back to the
          // min-id policy. Mixed clusters are unaffected: max() skips nulls,
          // and null <=> non-null is false.
          val members = labels.join(df.select(col(idCol).as("id"), keyCol.as("__kv")), "id")
          val best = members.groupBy("cluster").agg(max(col("__kv")).as("__mx"))
          val keepers = members.join(best, "cluster")
            .filter(col("__kv") <=> col("__mx"))
            .groupBy("cluster").agg(min(col("id")).as("__keeper"))
          labels.join(keepers, "cluster").filter(col("id") =!= col("__keeper"))
            .select(col("id").as("__loser_id"))
      }
      // The loser set is materialized ONCE. That (a) detaches it from the
      // labels, so the edges and the cc checkpoint files can be released,
      // and (b) prices the side for an EXPLICIT guarded broadcast: under the
      // limit the survivor anti-join needs no corpus exchange at all —
      // relying on AQE's runtime SMJ->BHJ conversion alone still writes the
      // corpus-side shuffle files first, which at 100 TB is the whole cost.
      // Above the limit (a pathological majority-duplicate corpus) the join
      // runs un-hinted and completes as a shuffle join.
      //
      // Durability follows the caller's `checkpointDir` opt-in. Without it
      // the losers are an eager localCheckpoint (executor blocks, GC-freed
      // — single-box semantics). With it they go to durable parquet under
      // the caller-owned `$checkpointDir/losers-<uuid>` BEFORE any cc round
      // files are deleted, so an executor lost during the (potentially
      // hours-long) survivor anti-join cannot kill the lineage.
      checkpointDir match {
        case None => losersLazy.localCheckpoint(eager = true)
        case Some(cd) =>
          val durable = s"$cd/losers-${java.util.UUID.randomUUID()}"
          losersLazy.write.mode("overwrite").parquet(durable)
          org.slf4j.LoggerFactory.getLogger("graft.dedup")
            .info(s"dedupCorpus: loser id set persisted at $durable (caller-owned retention)")
          spark.read.parquet(durable)
      }
    } finally {
      // the losers are materialized (or the run failed): nothing reads the
      // edges, the front half's caches or the final round's reliable cc
      // files any more (Spark never deletes checkpoints itself)
      releaseEdges()
      ccPath.foreach { p =>
        try {
          val hp = new Path(p)
          hp.getFileSystem(hadoopConf).delete(hp, true)
        } catch { case scala.util.control.NonFatal(_) => () } // best-effort
      }
    }
    val nLosers = losers.count()
    org.slf4j.LoggerFactory.getLogger("graft.dedup")
      .info(s"dedupCorpus: dropping $nLosers near-duplicate documents")
    // type-aware broadcast limit (same idiom as the contamination guard):
    // 5e7 8-byte numeric ids ~ 0.4 GB, but STRING ids (URLs ~ 100 B) at
    // that count would blow Spark's 8 GB broadcast ceiling / the driver —
    // a forced broadcast would kill a job the plain shuffle join completes
    val idIsNumeric = df.schema(idCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val loserBroadcastLimit = if (idIsNumeric) 50000000L else 5000000L
    val joinSide =
      if (nLosers <= loserBroadcastLimit) broadcast(losers)
      else losers
    df.join(joinSide, col(idCol) === col("__loser_id"), "left_anti")
  }

  /** Benchmark-contamination detection: training documents that share at
    * least one word `k`-gram with the benchmark corpus, with the count of
    * distinct shared k-grams per document — the standard train/eval
    * decontamination check (13-gram overlap in the usual setups).
    *
    * Scale shape: the benchmark side (small by nature) is reduced to its
    * distinct shingle set and BROADCAST; the training corpus streams once
    * map-side through the join — no all-pairs comparison, no corpus
    * shuffle. With `hashed = true` (the 100 TB default) both sides carry
    * 8-byte xxhash64 shingle keys instead of strings (collision odds
    * ~n²/2⁶⁴ — a false hit flags a doc for manual review, the right
    * failure direction for decontamination); `hashed = false` keeps exact
    * strings (used by the SQL-oracled query).
    *
    * The broadcast is GUARDED, not assumed: the distinct bench shingle set
    * is materialized once (checkpointed — the count and the join share one
    * computation) and the broadcast hint applies only below
    * `benchBroadcastLimit` rows. The default limit is type-aware: 5×10⁷
    * 8-byte keys (~0.4 GB) when `hashed`, but 5×10⁶ when the keys are
    * k-word STRINGS (~100 B each — 5×10⁷ of them would blow Spark's 8 GB
    * broadcast ceiling). Above the limit the join runs un-hinted — a
    * shuffle hash/sort-merge join that is slower but completes, instead of
    * a driver/broadcast OOM on a caller who passed a "benchmark" that is
    * really a corpus. `benchBroadcastLimit`: `-1` (default) = the
    * type-aware auto limit; `0` = never broadcast (always shuffle-join);
    * positive = explicit row limit; other negatives are rejected.
    */
  def contamination(train: DataFrame, bench: DataFrame,
                    idCol: String, textCol: String,
                    k: Int = 13, hashed: Boolean = true,
                    benchBroadcastLimit: Long = -1L): DataFrame =
    contaminationJoined(train, bench, idCol, textCol, k, hashed, benchBroadcastLimit)
      .groupBy("id")
      .agg(count(lit(1)).as("n_hits")) // shingles are distinct per doc

  /** Per-hit audit spans for decontamination review: one row per (train
    * doc, shingle position) whose word `k`-gram appears in the benchmark
    * set — the evidence a flagged doc is reviewed against, not just the
    * count. `pos` is the 0-based token index where the matched k-gram
    * starts; `sh` is the matched shingle (its xxhash64 key when `hashed`).
    * Same guarded-broadcast scale shape as [[contamination]].
    */
  def contaminationSpans(train: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String,
                         k: Int = 13, hashed: Boolean = true,
                         benchBroadcastLimit: Long = -1L): DataFrame =
    contaminationJoined(train, bench, idCol, textCol, k, hashed, benchBroadcastLimit,
      withPos = true)

  /** The distinct (possibly xxhash64-keyed) bench shingle set, computed
    * ONCE and cached (persist, NOT checkpoint: lineage stays intact, so a
    * lost executor recomputes the blocks instead of failing the job; the
    * cache is released by Spark's ContextCleaner when the frame is GC'd).
    * Shared by the broadcast-guarded decontamination operators here AND
    * [[graft.ops.BloomOps.contaminationBloom]] /
    * [[graft.streaming.StreamingExtract.decontaminateStreamBloom]], so
    * the bench-side semantics cannot drift between the families. Applies
    * NO broadcast hint — that guard belongs to [[benchShingleSide]].
    */
  private[graft] def benchShingleSet(bench: DataFrame, textCol: String,
                                     k: Int, hashed: Boolean): DataFrame = {
    val key = if (hashed) (c: Column) => xxhash64(c) else (c: Column) => c
    bench
      .select(explode(array_distinct(TextOps.shingles(col(textCol), k))).as("s"))
      .select(key(col("s")).as("sh"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** The guarded bench side shared by every batch decontamination
    * operator: [[benchShingleSet]] plus the broadcast decision. The
    * broadcast hint applies only below `benchBroadcastLimit` rows, with a
    * type-aware default (5×10⁷ 8-byte hashed keys ~0.4 GB; 5×10⁶ k-word
    * strings — 5×10⁷ of them would blow Spark's 8 GB broadcast ceiling).
    * `-1` = auto, `0` = never broadcast, positive = explicit row limit;
    * above the limit the set returns un-hinted (shuffle-join fallback —
    * the guard count and the join read the same cached blocks).
    */
  private def benchShingleSide(bench: DataFrame, textCol: String, k: Int,
                               hashed: Boolean,
                               benchBroadcastLimit: Long,
                               caller: String): DataFrame = {
    require(benchBroadcastLimit >= -1,
      s"benchBroadcastLimit must be -1 (auto), 0 (never broadcast), or a " +
        s"positive row limit; got $benchBroadcastLimit")
    val limit =
      if (benchBroadcastLimit >= 0) benchBroadcastLimit
      else if (hashed) 50000000L
      else 5000000L
    val benchSet = benchShingleSet(bench, textCol, k, hashed)
    val benchRows = benchSet.count()
    if (benchRows <= limit) broadcast(benchSet)
    else {
      org.slf4j.LoggerFactory.getLogger("graft.dedup").warn(
        s"$caller: bench shingle set has $benchRows distinct k-grams > " +
          s"broadcast limit $limit — falling back to a shuffle join")
      benchSet
    }
  }

  /** Shared train⋈bench shingle join: (id[, pos], sh) rows of the train
    * side restricted to shingles present in the bench side. Without `pos`
    * the train shingles are de-duplicated per doc (hit counting); with
    * `pos` every occurrence is kept (audit spans).
    */
  private def contaminationJoined(train: DataFrame, bench: DataFrame,
                                  idCol: String, textCol: String,
                                  k: Int, hashed: Boolean,
                                  benchBroadcastLimit: Long,
                                  withPos: Boolean = false): DataFrame = {
    def key(c: Column): Column = if (hashed) xxhash64(c) else c
    val benchJoinSide =
      benchShingleSide(bench, textCol, k, hashed, benchBroadcastLimit,
        "contamination")
    val trainRows =
      if (withPos)
        keyedPositionedShingles(train, idCol, textCol, k, hashed)
          .withColumnRenamed("w", "sh")
      else
        train.select(col(idCol).as("id"),
            explode(array_distinct(TextOps.shingles(col(textCol), k))).as("s"))
          .select(col("id"), key(col("s")).as("sh"))
    trainRows.join(benchJoinSide, "sh")
  }

  /** Exact duplicate-SPAN detection (the "exact substring dedup" family):
    * contiguous token regions whose every `k`-gram window occurs at least
    * `minCount` times in the whole corpus — the within-document complement
    * to document-level near-dup removal (licenses/boilerplate/quotes
    * repeated across otherwise-unique documents). Output: one row per
    * maximal duplicated region, `(id, span_start, span_end)` in 0-based
    * token indices, `span_end` inclusive.
    *
    * Scale shape: ONE map-side window explode; the per-window occurrence
    * count is a `count() OVER (PARTITION BY window)` on the single
    * exchange (rows are (id, pos, 8-byte key) ≈ 24 B — an extremely hot
    * boilerplate window concentrates on one reducer but spills and
    * completes; the alternative agg+join shape is AQE-skew-splittable at
    * the price of running the corpus explode twice — the dominant map
    * cost — so the single-pass form wins until a corpus is boilerplate-
    * degenerate). Flagged windows merge into maximal regions per doc
    * (variable-gap islands: regions whose coverage overlaps or abuts are
    * ONE region; per-doc window partitions are bounded by the doc's own
    * window count). With `hashed = true` (the 100 TB default) windows
    * travel as 8-byte xxhash64 keys; a collision can only over-flag a
    * span for review — the safe failure direction. Within-doc repeats
    * count toward `minCount` (text repeated twice in one document is
    * duplicated text).
    *
    * `skewSafe` selects the per-window counting plan:
    *  - `false` (default): `count() OVER (PARTITION BY w)` on the single
    *    exchange the flagged rows need anyway — ONE corpus explode, one
    *    exchange, no join. The catch at scale: window functions get no AQE
    *    skew splitting, and the hot key IS the operator's target workload —
    *    a boilerplate 50-gram repeated 10^9 times materializes every
    *    occurrence on one reducer (~24 GB; spills and completes, but
    *    serializes the stage).
    *  - `true`: two-level hash-aggregate count — the partial (map-side)
    *    combine collapses the hot key to one 16-byte row per map partition
    *    BEFORE the exchange, so no reducer ever sees a key's full
    *    occurrence list — then the flagged-window set joins back to the
    *    occurrence rows (an equi-join AQE can both broadcast, when the
    *    flagged set is small, and skew-split, when it is not). The price is
    *    the corpus explode running twice (count pass + join pass) — the
    *    dominant map cost — which is why the single-pass form stays the
    *    default; flip this on for boilerplate-degenerate corpora.
    *    Detections are IDENTICAL under both plans.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 50, minCount: Long = 2,
                     hashed: Boolean = true, skewSafe: Boolean = false): DataFrame = {
    require(minCount >= 2,
      s"duplicateSpans: minCount must be >= 2 (a window trivially occurs " +
        s"once — minCount=$minCount would flag every document whole)")
    val win = keyedPositionedShingles(df, idCol, textCol, k, hashed)
    val flagged =
      if (skewSafe) {
        // partial-agg count (map-side combine kills the hot key), then the
        // flagged set joins back; no window over w anywhere in this plan
        val flaggedW = win.groupBy("w").agg(count(lit(1)).as("n"))
          .filter(col("n") >= minCount)
          .select("w")
        win.join(flaggedW, "w")
      } else win
        .withColumn("n", count(lit(1)).over(Window.partitionBy("w")))
        .filter(col("n") >= minCount)
    // merge flagged windows into MAXIMAL regions: windows p1 < p2 overlap
    // or abut (contiguous duplicated tokens) iff p2 - p1 <= k, so a new
    // island starts when the position gap exceeds k — a lag + running-sum
    // pair, NOT the fixed-step row_number trick, which would emit
    // overlapping rows for duplicated windows 2..k positions apart
    val w = Window.partitionBy("id").orderBy("pos")
    flagged
      .withColumn("newIsland",
        when(col("pos") - lag(col("pos"), 1).over(w) > k, 1).otherwise(0))
      .withColumn("grp", sum(col("newIsland")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("id", "grp")
      .agg(min(col("pos")).cast("int").as("span_start"),
        (max(col("pos")) + k - 1).cast("int").as("span_end"))
      .select("id", "span_start", "span_end")
  }

  /** Scrub corpus-duplicated spans out of the text — the removal stage
    * run after [[duplicateSpans]] detection: every token covered by a
    * duplicated region is dropped from EVERY document (boilerplate,
    * licenses, and quoted blocks should not be trained on anywhere), and
    * the remaining tokens re-join with single spaces (the output is
    * whitespace-normalized by construction). Returns one row per input
    * doc: `(id, stripped_text, n_tok, n_removed)`.
    *
    * Scale shape: [[duplicateSpans]]' plan plus a per-doc span-list
    * aggregate (rows are two ints per span) joined back to the corpus on
    * id; the token filter is a native index lambda against the doc's own
    * (small) span array — map-side, inside codegen.
    */
  def stripDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                          k: Int = 50, minCount: Long = 2,
                          hashed: Boolean = true, skewSafe: Boolean = false): DataFrame = {
    val spans = duplicateSpans(df, idCol, textCol, k, minCount, hashed, skewSafe)
      .groupBy("id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .join(spans, Seq("id"), "left")
      .withColumn("__spans", coalesce(col("__spans"),
        array().cast("array<struct<span_start:int,span_end:int>>")))
      // tokenizer evaluated exactly ONCE per row: kept tokens come from a
      // single filter pass, and the removed count derives from the spans
      // alone (maximal regions are DISJOINT by construction, so coverage
      // is just the sum of span widths) — no second tokens() use for
      // CollapseProject to duplicate
      .select(col("id"),
        filter(TextOps.tokens(col("__text")), (t, i) =>
          !exists(col("__spans"), sp =>
            i >= sp.getField("span_start") && i <= sp.getField("span_end")))
          .as("__kept"),
        aggregate(col("__spans"), lit(0),
          (acc, sp) => acc + (sp.getField("span_end") - sp.getField("span_start") + 1))
          .as("__nrm"))
      .select(col("id"),
        array_join(col("__kept"), " ").as("stripped_text"),
        (size(col("__kept")) + col("__nrm")).cast("int").as("n_tok"),
        col("__nrm").cast("int").as("n_removed"))
  }

  /** One row per (doc, window position): the word `k`-gram starting at
    * that 0-based token index, as a string key or its 8-byte xxhash64
    * (shared by [[contaminationSpans]] and [[duplicateSpans]] so the two
    * operators can never disagree on what a window is).
    */
  private def keyedPositionedShingles(df: DataFrame, idCol: String, textCol: String,
                                      k: Int, hashed: Boolean): DataFrame = {
    val key = if (hashed) (c: Column) => xxhash64(c) else (c: Column) => c
    df.select(col(idCol).as("id"),
        posexplode(TextOps.shingles(col(textCol), k)).as(Seq("pos", "s")))
      .select(col("id"), col("pos"), key(col("s")).as("w"))
  }

  /** 64-bit SimHash over token hashes: for each bit, sum ±1 weights over
    * tokens and take the sign. One-pass typed UDF for the same codegen-
    * width reason as [[minhashSignature]].
    */
  def simhash64(textCol: Column): Column = {
    val simUdf = udf { (toks: Seq[String]) =>
      val counts = new Array[Int](64)
      if (toks != null) {
        val it = toks.iterator
        while (it.hasNext) {
          val h = hash64(it.next())
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
            b += 1
          }
        }
      }
      var sig = 0L
      var b = 0
      while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
      sig
    }
    simUdf(TextOps.tokens(lower(textCol)))
  }

  /** SimHash near-dup pairs: exact-dedup collapse → band the 64-bit hash
    * into 4×16-bit keys (Hamming ≤ 3 over 4 bands ⇒ at least one band
    * identical, so recall at the Hamming threshold is structural, not
    * probabilistic) → verify by exact Hamming distance → expand back to id
    * pairs. Hot-bucket guard as in [[minhashNearDups]].
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, maxBucket: Int = Int.MaxValue): DataFrame = {
    val spark = df.sparkSession
    val skipped = spark.sparkContext
      .collectionAccumulator[(Int, Long, Long)]("graft.dedup.simhash.skippedBuckets")

    // Map-side pass: fingerprint + 8-byte simhash per row; the per-fp
    // collapse shuffles (fp, id, sim) only — text never leaves the scan
    // stage anywhere in this pipeline (hamming verification needs just the
    // 64-bit signatures). min_by is for determinism: fp-equal docs share
    // normalized text, hence the same simhash.
    val repAgg = simhashRepAgg(df, idCol, textCol).persist(StorageLevel.MEMORY_AND_DISK)
    val groups = df.select(col(idCol).as("id"), TextOps.fingerprint(col(textCol)).as("fp"))
    val byRep = groups.join(repAgg.select(col("fp"), col("rep"), col("gsz")), "fp")
      .select(col("id"), col("rep"), col("gsz"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val sigs = repAgg.select(col("rep").as("id"), col("sim").as("sig"))
    val repPairs =
      bandedHammingPairs(sigs, nBands = 4, maxHamming, maxBucket, Some(skipped))

    val cross = expandCross(repPairs, byRep, Seq("hamming"))
    // duplicate groups only — the self-join never touches the corpus-sized
    // (id -> rep) map (see withinGroupPairs)
    val within = withinGroupPairs(byRep.filter(col("gsz") > 1))
      .select(col("id_a"), col("id_b"), lit(0).as("hamming"))

    val result = cross.unionByName(within).persist(StorageLevel.MEMORY_AND_DISK)
    result.count()
    repAgg.unpersist(blocking = false)
    byRep.unpersist(blocking = false)
    val nSkipped = skippedPairCount(skipped)
    if (nSkipped > 0)
      org.slf4j.LoggerFactory.getLogger("graft.dedup").warn(
        s"simhashNearDups: bucket guard (maxBucket=$maxBucket) skipped up to " +
          s"$nSkipped candidate pairs (pairs may survive via other buckets)")
    result
  }

  /** Hamming-banded near-dup over PRECOMPUTED 64-bit signatures — the
    * generic core behind media perceptual hashes (text SimHash keeps its
    * own fingerprint-collapsed pipeline): `sigs` carries one signature
    * per id; the 64-bit key splits into `nBands` equal slices that bucket
    * the candidate join. Pigeonhole guarantee: a pair at hamming
    * < nBands differs in fewer bits than there are bands, so at least one
    * band is bit-equal — recall is 100% up to `nBands − 1`; wider
    * distances surface only via a luckily-equal band (raise nBands for
    * wider radii: 16 bands of 4 bits guarantee ≤ 15). Output
    * `(id_a, id_b, hamming)` with id_a < id_b.
    *
    * Scale shape: the band explode is map-side and only (id, band,
    * bucket) ≈ 20 B rows shuffle; signatures join back by id for the
    * popcount verify (8-byte values); degenerate buckets (all-black
    * thumbnails, a solid-color meme template repeated 10⁹ times) are
    * capped by `maxBucket` with the same skip-accounting warning as the
    * text paths — capped pairs may still surface via their other bands.
    *
    * THE RADIUS/SCALE TRADEOFF (read before raising nBands): each band's
    * bucket key has only `2^(64/nBands)` possible values, and expected
    * bucket size is `n / 2^(64/nBands)` for n distinct signatures. At
    * nBands = 8 that is 256 values per band — every bucket holds ~n/256
    * rows, so beyond ~10^5 signatures EVERY bucket is hot: the guard
    * (correctly) drops them all and the operator finds nothing, while an
    * unguarded run is O(n²/256) — quadratic. nBands = 4 (guarantee ≤ 3,
    * the SimHash shape) gives 65k values per band and holds to ~10^7–10^8
    * distinct signatures; nBands = 2 (guarantee ≤ 1) holds at 10^9+. Wide
    * radii over large corpora need a different algorithm entirely
    * (multi-probe or BK-tree serving), not more bands here. The DEFAULTS
    * are therefore the corpus-scale shape (maxHamming = 3, nBands = 4 —
    * the same configuration the media wrappers use); callers wanting the
    * wider 8-band radius on a small corpus opt in explicitly.
    *
    * The returned frame is persisted and materialized (the pair list is
    * consumed repeatedly downstream — clustering, keeper joins); the
    * CALLER unpersists it when done, same contract as
    * [[minhashNearDups]].
    */
  def hammingNearDups(sigs: DataFrame, idCol: String, sigCol: String,
                      maxHamming: Int = 3, nBands: Int = 4,
                      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(nBands >= 1 && nBands <= 64 && 64 % nBands == 0,
      s"nBands must divide 64: $nBands")
    require(maxHamming >= 0 && maxHamming <= 64,
      s"maxHamming must be in [0,64]: $maxHamming")
    // fail fast on non-integral id/signature columns: the long cast below
    // would turn e.g. UUID-string ids into nulls, null < null drops every
    // candidate, and the operator would return an EMPTY pair set — a
    // silent wrong answer (ADVICE r5)
    Seq(idCol, sigCol).foreach { c =>
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(sigs.schema(c).dataType),
        s"hammingNearDups needs integral '$c'; got " + sigs.schema(c).dataType.simpleString)
    }
    val spark = sigs.sparkSession
    val skipped = spark.sparkContext
      .collectionAccumulator[(Int, Long, Long)]("graft.dedup.hamming.skippedBuckets")
    val s = sigs
      .select(col(idCol).cast("long").as("id"), col(sigCol).cast("long").as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val result = bandedHammingPairs(s, nBands, maxHamming, maxBucket, Some(skipped))
      .persist(StorageLevel.MEMORY_AND_DISK)
    result.count()
    s.unpersist(blocking = false)
    val nSkipped = skippedPairCount(skipped)
    if (nSkipped > 0)
      org.slf4j.LoggerFactory.getLogger("graft.dedup").warn(
        s"hammingNearDups: bucket guard (maxBucket=$maxBucket) skipped up to " +
          s"$nSkipped candidate pairs (pairs may survive via other bands)")
    result
  }

  /** The band-explode → bucket-join → popcount-verify core shared by
    * [[hammingNearDups]] and [[simhashNearDups]]: `s` = (id, sig) rows
    * (caller persists — this frame is consumed three times). Returns an
    * UNPERSISTED (id_a, id_b, hamming) frame.
    */
  private def bandedHammingPairs(s: DataFrame, nBands: Int, maxHamming: Int,
                                 maxBucket: Int,
                                 skipped: Option[org.apache.spark.util.CollectionAccumulator[(Int, Long, Long)]]): DataFrame = {
    val width = 64 / nBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val banded = s.select(col("id"), posexplode(array(
      (0 until nBands).map(b =>
        shiftrightunsigned(col("sig"), b * width).bitwiseAND(lit(mask))): _*))
      .as(Seq("band", "bucket")))
    bucketJoin(banded, maxBucket, skipped)
      .join(s.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(s.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Map-side pass + per-fingerprint collapse for [[simhashNearDups]]:
    * (fp, rep, simhash) per distinct document. Package-visible for plan
    * tests (no text column above the exchange).
    */
  private[graft] def simhashRepAgg(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(TextOps.fingerprint(col(textCol)).as("fp"), col(idCol).as("id"),
        simhash64(col(textCol)).as("sim"))
      .groupBy("fp")
      .agg(min(col("id")).as("rep"), min_by(col("sim"), col("id")).as("sim"),
        count(lit(1)).as("gsz"))

  /** CORPUS-WIDE duplicate-line removal (C4-style): every line that occurs
    * more than once anywhere in the corpus keeps only its globally-first
    * occurrence — ordered by (doc id, line index) — and every other
    * occurrence is dropped, including repeats within one document. The
    * cross-doc complement to the map-side [[TextOps.dedupLines]]; this is
    * the pass that strips nav bars, cookie banners and footer boilerplate
    * repeated across a crawl. Output: `(id, cleaned, n_before, n_after)`.
    *
    * Scale shape: lines are reduced to md5 keys at the scan (text never
    * enters the winner aggregation); the global first occurrence per line
    * is ONE hash aggregate — `min(struct(id, idx))` partial-aggregates
    * map-side, so a boilerplate line with 10⁹ occurrences collapses to one
    * row per map partition before the exchange (no window, no hot-key
    * reducer). Only LOSING occurrences join back: per doc, the sorted
    * array of dropped line indices — bytes proportional to duplicated
    * lines, not to the corpus — under the same guarded-broadcast idiom as
    * [[contamination]] (explicit broadcast while the TOTAL lost-index
    * count — the actual broadcast payload, ~4 B per index — is below
    * `loserBroadcastLimit`; un-hinted shuffle join above it. Rows are the
    * wrong unit here: each doc row carries a variable-length index
    * array). Docs with no
    * duplicated line pass through map-side untouched, and the rebuild is a
    * codegen'd index filter against the doc's own split array.
    */
  def dedupLinesGlobal(df: DataFrame, idCol: String, textCol: String,
                       sep: String = "\n",
                       loserBroadcastLimit: Long = 50000000L): DataFrame = {
    val sepLit = java.util.regex.Pattern.quote(sep)
    val lines = df.select(col(idCol).as("__id"),
        posexplode(split(col(textCol), sepLit)).as(Seq("__idx", "__line")))
      .select(col("__id"), col("__idx"), md5(col("__line")).as("__h"))
    // global winner per line content: one partial-aggregating pass
    val winners = lines.groupBy("__h")
      .agg(min(struct(col("__id"), col("__idx"))).as("__w"))
      .select(col("__h"), col("__w.__id").as("__wid"), col("__w.__idx").as("__widx"))
    // losing occurrences only — every occurrence that is not the winner
    val lost = lines.join(winners, "__h")
      .filter(!(col("__id") === col("__wid") && col("__idx") === col("__widx")))
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(col("__idx"))).as("__lost"))
      .localCheckpoint(true)
    // the guard must bound broadcast BYTES, and each row carries a
    // variable-length index array — so it counts total lost line indices
    // (~4 B each), not docs-with-losses rows (a boilerplate-heavy crawl
    // has few rows each holding thousands of indices; a row-count guard
    // would happily broadcast 40 GB into the 8 GB ceiling)
    val totalLostIdx = lost.agg(sum(size(col("__lost")))).collect()(0).get(0) match {
      case null => 0L
      case v: Long => v
    }
    val joinSide = if (totalLostIdx <= loserBroadcastLimit) broadcast(lost) else lost
    val rebuilt = df.join(joinSide, df(idCol) === joinSide("__id"), "left")
      .withColumn("__lostArr", coalesce(col("__lost"), array().cast("array<int>")))
    rebuilt.select(col(idCol).as("id"),
        TextOps.bindOnce(split(col(textCol), sepLit)) { ls =>
          TextOps.bindOnce(col("__lostArr")) { la =>
            struct(
              array_join(filter(ls, (x, i) => !array_contains(la, i)), sep)
                .as("cleaned"),
              size(ls).cast("int").as("n_before"),
              (size(ls) - size(la)).cast("int").as("n_after"))
          }
        }.as("__r"))
      .select(col("id"), col("__r.cleaned").as("cleaned"),
        col("__r.n_before").as("n_before"), col("__r.n_after").as("n_after"))
  }

  /** Benchmark-contamination OVERLAP RATIO — the thresholded form real
    * decontamination uses (a doc sharing one n-gram with a benchmark is
    * noise; a doc whose shingle set is 20%+ benchmark material is a leak):
    * per training doc, its distinct word `k`-gram count `n_sh`, the number
    * of those present in the benchmark set `n_hit`, and an integer-exact
    * `flagged = (n_hit * 100 >= n_sh * thresholdPct)`. Docs with fewer
    * than `k` tokens have no shingles and are never flagged.
    *
    * Scale shape: identical to [[contamination]] — the bench side reduces
    * to its distinct shingle set under the same type-aware guarded
    * broadcast (`hashed = true` carries 8-byte xxhash64 keys at 100 TB;
    * exact strings remain the oracle-checked default here), and the train
    * side streams map-side: explode distinct shingles, LEFT-join the bench
    * set, one hash aggregate per doc. No corpus shuffle below the guard.
    */
  def contaminationRatio(train: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String,
                         k: Int = 5, thresholdPct: Int = 20,
                         hashed: Boolean = false,
                         benchBroadcastLimit: Long = -1L): DataFrame = {
    require(thresholdPct >= 0 && thresholdPct <= 100,
      s"thresholdPct must be in [0, 100], got $thresholdPct")
    def key(c: Column): Column = if (hashed) xxhash64(c) else c
    val benchJoinSide =
      benchShingleSide(bench, textCol, k, hashed, benchBroadcastLimit,
        "contaminationRatio")
        .withColumn("__hit", lit(1))
    train.select(col(idCol).as("id"),
        explode_outer(array_distinct(TextOps.shingles(col(textCol), k))).as("s"))
      .select(col("id"), when(col("s").isNotNull, key(col("s"))).as("sh"))
      .join(benchJoinSide, Seq("sh"), "left")
      .groupBy("id")
      .agg(count(col("sh")).cast("int").as("n_sh"),
        count(col("__hit")).cast("int").as("n_hit"))
      .withColumn("flagged",
        (col("n_hit") * 100 >= col("n_sh") * thresholdPct && col("n_sh") > 0)
          .cast("int"))
  }

  // ---- incremental near-dup: batch-vs-index without re-scanning the corpus

  /** On-disk MinHash band index layout:
    * `dir/params/` (one-row parquet pinning k/numHashes/bands — a query
    * with different parameters produces incomparable band hashes, so
    * [[incrementalNearDups]] fails fast on mismatch), and per-batch
    * `dir/banded/batch=<label>/` directories of (id, band, bucket) rows.
    * A batch is visible only after its `_COMMITTED_<label>` root marker
    * lands — readers prune uncommitted (torn) batch directories via a
    * partition filter, so a died append never corrupts later queries.
    */
  private val IdxParams = "params"
  private val IdxBanded = "banded"
  private def idxFs(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  // The commit protocol, in ONE place for both index families (MinHash
  // bands and exact fingerprints): a batch exists iff its root marker
  // does. Readers list markers; writers guard the label and create the
  // marker only after the batch directory is fully written.
  private val CommittedPrefix = "_COMMITTED_"
  private def committedLabels(fs: org.apache.hadoop.fs.FileSystem,
                              root: org.apache.hadoop.fs.Path,
                              dir: String): Seq[String] = {
    val labels = fs.listStatus(root).map(_.getPath.getName)
      .collect { case n if n.startsWith(CommittedPrefix) =>
        n.stripPrefix(CommittedPrefix) }
      .toSeq
    require(labels.nonEmpty, s"no committed batches in index $dir")
    labels
  }
  /** Validate a fresh batch label; returns the marker path to create once
    * the batch directory is fully written.
    */
  private def freshMarker(fs: org.apache.hadoop.fs.FileSystem,
                          root: org.apache.hadoop.fs.Path, label: String,
                          dir: String): org.apache.hadoop.fs.Path = {
    require(label.matches("[A-Za-z0-9._-]+"), s"unsafe batch label: '$label'")
    val marker = new org.apache.hadoop.fs.Path(root, CommittedPrefix + label)
    require(!fs.exists(marker), s"batch '$label' is already committed in $dir")
    marker
  }
  private def writeIndexParams(spark: org.apache.spark.sql.SparkSession,
                               dir: String, k: Int, numHashes: Int,
                               bands: Int): Unit =
    spark.createDataFrame(Seq((k, numHashes, bands)))
      .toDF("k", "num_hashes", "bands")
      .write.mode("overwrite").parquet(s"$dir/$IdxParams")
  private def bandedRows(df: DataFrame, idCol: String, textCol: String,
                         k: Int, numHashes: Int, bands: Int): DataFrame = {
    val sig = df.select(col(idCol).cast("long").as("id"),
      minhashSignature(col(textCol), k, numHashes).as("sig"))
    bandExplode(sig, bands, numHashes / bands)
  }

  /** Create a MinHash band index at `dir` from the initial corpus — the
    * index-once half of incremental dedup. Only (id, band, 8-byte bucket)
    * rows are written: ~`bands`×20 B per document regardless of text size,
    * one map-side signature pass, no shuffle (parquet write preserves the
    * scan's partitioning).
    */
  def writeMinhashIndex(df: DataFrame, idCol: String, textCol: String,
                        dir: String, k: Int = 3, numHashes: Int = 64,
                        bands: Int = 16, label: String = "base"): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = df.sparkSession
    // true overwrite: a leftover index here (prior run, different params)
    // would otherwise mix incomparable band hashes into later queries
    val (fs, root) = idxFs(spark, dir)
    if (fs.exists(root)) fs.delete(root, true)
    writeIndexParams(spark, dir, k, numHashes, bands)
    appendMinhashIndex(df, idCol, textCol, dir, label)
  }

  /** Append a processed batch's band rows to an existing index as
    * `batch=<label>` (commit-marked; see the layout note above). Call
    * AFTER [[incrementalNearDups]] for the batch — an appended-first batch
    * would join against itself through the index. Re-appending a committed
    * label fails fast rather than silently doubling its rows.
    */
  def appendMinhashIndex(df: DataFrame, idCol: String, textCol: String,
                         dir: String, label: String): Unit = {
    val spark = df.sparkSession
    val (fs, root) = idxFs(spark, dir)
    val marker = freshMarker(fs, root, label, dir)
    val (k, numHashes, bands) = readMinhashIndexParams(spark, dir)
    bandedRows(df, idCol, textCol, k, numHashes, bands)
      .write.mode("overwrite").parquet(s"$dir/$IdxBanded/batch=$label")
    fs.create(marker, true).close()
  }

  def readMinhashIndexParams(spark: org.apache.spark.sql.SparkSession,
                             dir: String): (Int, Int, Int) = {
    val r = spark.read.parquet(s"$dir/$IdxParams").head
    (r.getAs[Int]("k"), r.getAs[Int]("num_hashes"), r.getAs[Int]("bands"))
  }

  /** Committed-batch band rows of the index: (id, band, bucket), pruned to
    * committed `batch=` directories by a partition filter (torn appends
    * are invisible — their directories are never read).
    */
  private def committedBanded(spark: org.apache.spark.sql.SparkSession,
                              dir: String): DataFrame = {
    val (fs, root) = idxFs(spark, dir)
    val committed = committedLabels(fs, root, dir)
    spark.read.parquet(s"$dir/$IdxBanded")
      .filter(col("batch").isin(committed: _*))
      .select("id", "band", "bucket")
  }

  /** Near-dup pairs INVOLVING a new batch — the daily-ingest shape: dedup
    * today's documents against a 100 TB corpus without re-signaturing it.
    * Returns `(id_a, id_b, inter, union, jaccard)` with `jaccard >=
    * threshold` and id_a < id_b, where at least one side is a batch id;
    * batch-internal pairs are included (a batch dupes against itself too).
    *
    * Scale shape: the batch's band rows are computed once (eager
    * localCheckpoint) and BROADCAST against the index scan — the index's
    * band rows stream map-side through the join, so the 100 TB side never
    * shuffles and only candidate (id, id) pairs leave the stage
    * (plan-asserted in IncrementalDedupSpec). Batch-internal candidates
    * reuse the standard bucket self-join on the tiny batch side.
    * Exact-Jaccard verification re-reads text ONLY for candidate ids: the
    * (batch-bounded) candidate id set broadcast-semi-joins `corpusText` ∪
    * batch at the scan, so shingle sets are computed for candidate rows
    * alone — never a full-corpus shingle pass.
    *
    * `maxBucket` guards degenerate index buckets (boilerplate text at
    * corpus scale): per-(band, bucket) index counts — 16-byte rows,
    * map-side partial aggregation — drop buckets above the cap before the
    * broadcast join, same upper-bound contract as [[minhashNearDups]].
    *
    * Ids must be unique across corpus ∪ batch (re-submitting an indexed id
    * yields self-pairs, which are excluded, not detected as updates).
    *
    * `corpusText` contract: it must contain (at least) every INDEXED id's
    * text — a candidate pair whose indexed side is missing from
    * `corpusText` silently verifies to nothing and the duplicate ships
    * (a stale index after deletes is the caller's retention problem, not
    * detectable here without scanning the corpus). It MAY also already
    * contain the batch rows (e.g. "all texts" tables): the id-level
    * dedup below collapses the operator's own batch union, so no pair is
    * ever emitted twice.
    */
  def incrementalNearDups(batch: DataFrame, idCol: String, textCol: String,
                          indexDir: String, corpusText: DataFrame,
                          threshold: Double = 0.8,
                          maxBucket: Int = Int.MaxValue): DataFrame = {
    val (k, numHashes, bands) =
      readMinhashIndexParams(batch.sparkSession, indexDir)
    // eager: the candidate pair set is consumed twice below (id pruning +
    // verification) and is batch-bounded — never recompute the band joins
    val cands = incrementalCandidatesP(batch, idCol, textCol, indexDir,
      maxBucket, k, numHashes, bands).localCheckpoint(true)
    // prune the corpus to candidate ids BEFORE shingling: verification must
    // cost O(candidates), not a full-corpus shingle pass — at 10^12 docs a
    // 10^6-row batch touches ~10^6 corpus rows, and the broadcast semi-join
    // drops everything else at the scan
    val candIds = cands.select(explode(array(col("id_a"), col("id_b"))).as("__cid"))
      .distinct()
    val texts = corpusText.select(col(idCol).cast("long").as(idCol), col(textCol))
      .union(batch.select(col(idCol).cast("long").as(idCol), col(textCol)))
      .join(broadcast(candIds), col(idCol) === col("__cid"), "left_semi")
      // candidate-bounded by the semi-join, so this dedup is cheap — and it
      // makes a corpusText that already includes the batch rows safe
      // (without it each batch-involving pair would verify twice)
      .dropDuplicates(idCol)
    jaccardVerify(cands, texts, idCol, textCol, k)
      .filter(col("jaccard") >= threshold)
  }

  /** The candidate (id_a, id_b) stage of [[incrementalNearDups]],
    * un-checkpointed — exposed so the spec can assert the scale-critical
    * plan shape (index band rows stream through a broadcast join, never
    * shuffling) that the public operator's eager checkpoint hides from its
    * final plan.
    */
  private[graft] def incrementalCandidates(batch: DataFrame, idCol: String,
                                           textCol: String, indexDir: String,
                                           maxBucket: Int = Int.MaxValue): DataFrame = {
    val (k, numHashes, bands) =
      readMinhashIndexParams(batch.sparkSession, indexDir)
    incrementalCandidatesP(batch, idCol, textCol, indexDir, maxBucket,
      k, numHashes, bands)
  }

  private def incrementalCandidatesP(batch: DataFrame, idCol: String,
                                     textCol: String, indexDir: String,
                                     maxBucket: Int, k: Int, numHashes: Int,
                                     bands: Int): DataFrame = {
    val spark = batch.sparkSession
    val newBanded = bandedRows(batch, idCol, textCol, k, numHashes, bands)
      .localCheckpoint(true)
    val indexed0 = committedBanded(spark, indexDir)
    val indexed =
      if (maxBucket == Int.MaxValue) indexed0
      else {
        val sizes = indexed0.groupBy("band", "bucket")
          .agg(count(lit(1)).as("bsize"))
          .filter(col("bsize") <= maxBucket)
        indexed0.join(sizes, Seq("band", "bucket")).drop("bsize")
      }
    val crossPairs = indexed.as("o")
      .join(broadcast(newBanded.as("n")),
        col("o.band") === col("n.band") && col("o.bucket") === col("n.bucket"))
      .filter(col("o.id") =!= col("n.id"))
      .select(least(col("o.id"), col("n.id")).as("id_a"),
        greatest(col("o.id"), col("n.id")).as("id_b"))
    val batchPairs = bucketJoin(newBanded, maxBucket, None)
    crossPairs.union(batchPairs).distinct()
  }

  /** Compact a multi-batch MinHash index into a fresh single-batch index at
    * `destDir` — after months of daily appends the `banded/` listing is
    * thousands of directories of small files, and every query pays the
    * footer-read fan-out. Compaction writes a NEW index (params copied,
    * all committed rows under one `batch=<label>`) rather than rewriting
    * `srcDir` in place: object stores have no atomic directory swap, so
    * the only crash-safe contract is write-new-then-repoint — a death
    * mid-compact leaves `srcDir` fully serviceable and `destDir` simply
    * uncommitted. Torn batches in `srcDir` are (correctly) not carried.
    */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                          srcDir: String, destDir: String,
                          label: String = "compacted"): Unit = {
    val (k, numHashes, bands) = readMinhashIndexParams(spark, srcDir)
    val (fs, root) = idxFs(spark, destDir)
    if (fs.exists(root)) fs.delete(root, true)
    val marker = freshMarker(fs, root, label, destDir)
    writeIndexParams(spark, destDir, k, numHashes, bands)
    committedBanded(spark, srcDir)
      .write.mode("overwrite").parquet(s"$destDir/$IdxBanded/batch=$label")
    fs.create(marker, true).close()
  }

  // ---- incremental EXACT dedup: fingerprint index ------------------------

  /** On-disk exact-fingerprint index: `dir/fp/batch=<label>/` parquet of
    * (id, fp) rows — [[graft.ops.TextOps.fingerprint]] md5 keys, ~50 B per
    * document regardless of text size — behind the same `_COMMITTED_<label>`
    * root markers (and torn-append invisibility) as the MinHash band index.
    * This is the cheap first stage of a daily-ingest pipeline: drop exact
    * re-crawls before paying for signatures.
    */
  private val IdxFp = "fp"
  private def fpRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      TextOps.fingerprint(col(textCol)).as("fp"))

  def writeFingerprintIndex(df: DataFrame, idCol: String, textCol: String,
                            dir: String, label: String = "base"): Unit = {
    val (fs, root) = idxFs(df.sparkSession, dir)
    if (fs.exists(root)) fs.delete(root, true)
    appendFingerprintIndex(df, idCol, textCol, dir, label)
  }

  /** Append a batch's fingerprints as `batch=<label>` (commit-marked).
    * Call AFTER [[filterUnseen]] for the batch; re-appending a committed
    * label fails fast rather than silently doubling its rows.
    */
  def appendFingerprintIndex(df: DataFrame, idCol: String, textCol: String,
                             dir: String, label: String): Unit = {
    val (fs, root) = idxFs(df.sparkSession, dir)
    val marker = freshMarker(fs, root, label, dir)
    fpRows(df, idCol, textCol)
      .write.mode("overwrite").parquet(s"$dir/$IdxFp/batch=$label")
    fs.create(marker, true).close()
  }

  /** The rows of `batch` whose text was never seen — not in any committed
    * index batch, and not earlier (lowest id wins) within this batch. The
    * complement of the returned frame is safe to drop before the (much more
    * expensive) near-dup pass; null-text rows are never "seen" by a
    * previous null (fingerprint(null) is null; each survives alone, the
    * [[exactDupReps]] convention).
    *
    * Scale shape: the batch's distinct fingerprints BROADCAST against the
    * index scan (a daily batch is ~10^6 rows; the index is corpus-sized) —
    * the index never shuffles, only the matched-fingerprint set (bounded by
    * the batch's size) leaves that stage, and the final anti-join is
    * batch-sized on both sides. The corpus text is never read at all.
    */
  def filterUnseen(batch: DataFrame, idCol: String, textCol: String,
                   indexDir: String): DataFrame = {
    val spark = batch.sparkSession
    val (fs, root) = idxFs(spark, indexDir)
    val committed = committedLabels(fs, root, indexDir)
    val batchFp = fpRows(batch, idCol, textCol).localCheckpoint(true)
    val seen = spark.read.parquet(s"$indexDir/$IdxFp")
      .filter(col("batch").isin(committed: _*))
      .join(broadcast(batchFp.select("fp").where(col("fp").isNotNull).distinct()),
        Seq("fp"), "left_semi")
      .select("fp").distinct()
    val firstInBatch = batchFp.where(col("fp").isNotNull)
      .groupBy("fp").agg(min("id").as("id"))
      .join(seen, Seq("fp"), "left_anti")
      .select("id")
    val keepIds = batchFp.where(col("fp").isNull).select("id").union(firstInBatch)
    batch.join(keepIds.withColumnRenamed("id", "__keep_id"),
      col(idCol).cast("long") === col("__keep_id"), "left_semi")
  }
}
