package graft.ops

import graft.functions.{MinhashBandsExpr, MinhashKernel}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
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

  /** LSH band hashes of a shingle-array column as a non-null
    * array<bigint> of length `bands`: the MinHash signature of the set
    * (`numHashes` minima, Kirsch–Mitzenmacher family, see
    * [[graft.functions.MinhashKernel]]) cut into `bands` slices, band b
    * being xxhash64 of its slice's decimal text, seeded by b. A null or
    * empty array is the empty set. One native expression, so the signature
    * pass stays inside whole-stage codegen; duplicate shingles change
    * nothing.
    */
  private[graft] def minhashBands(sh: Column, numHashes: Int, bands: Int): Column =
    GraftSqlBridge.column(MinhashBandsExpr(GraftSqlBridge.expression(sh), numHashes, bands))

  /** The residual-skew guard of one banded candidate join: drops the
    * (band, bucket) groups larger than `maxBucket` and WARNs about them on
    * the `graft.dedup` logger once the guarded job has run — capped
    * coverage is never silent.
    *
    * Accounting is fused into the candidate job itself: the bucket-size
    * filter runs through a side-effecting predicate that records each
    * dropped group and the candidate pairs it held into the collection
    * accumulator `graft.dedup.<kind>.skippedBuckets` as the filter
    * executes — no separate accounting action. A record is keyed by its
    * group, so re-execution of the filter subtree (a self-join evaluates
    * it on both sides; task retries re-run it) deduplicates instead of
    * double-counting. The warned pair count is an UPPER BOUND on the pairs
    * lost: a pair in an oversized bucket may still be emitted via another
    * small shared bucket, and the same pair is counted once per oversized
    * (band, bucket) it lands in.
    */
  private final class BucketGuard(spark: org.apache.spark.sql.SparkSession,
                                  kind: String, op: String, maxBucket: Int) {
    private val skipped: org.apache.spark.util.CollectionAccumulator[SkippedBucket] =
      spark.sparkContext.collectionAccumulator[SkippedBucket](s"graft.dedup.$kind.skippedBuckets")

    /** The rows of `banded` (band, bucket, ...) in buckets within the cap,
      * for a self-join: a dropped bucket of n rows held n(n − 1)/2 pairs.
      */
    def apply(banded: DataFrame): DataFrame =
      if (maxBucket == Int.MaxValue) banded
      else {
        val sizes = banded.groupBy("band", "bucket").agg(count(lit(1)).as("bsize"))
        keep(banded, sizes, col("bsize") * (col("bsize") - 1) / 2, cross = false)
      }

    /** The rows of `index` in the buckets `batch` shares with it, within
      * the cap, for an index × batch join: a dropped bucket of n index and
      * m batch rows held n × m pairs. Buckets the batch misses yield no
      * pairs in that join, so they are neither kept nor recorded.
      */
    def cross(index: DataFrame, batch: DataFrame): DataFrame =
      if (maxBucket == Int.MaxValue) index
      else {
        val m = batch.groupBy("band", "bucket").agg(count(lit(1)).as("m"))
        val shared = index.join(broadcast(m), Seq("band", "bucket"))
        val sizes = shared.groupBy("band", "bucket")
          .agg(count(lit(1)).as("bsize"), max("m").as("m"))
        keep(shared.drop("m"), sizes, col("bsize") * col("m"), cross = true)
      }

    private def keep(banded: DataFrame, sizes: DataFrame, pairs: Column,
                     cross: Boolean): DataFrame = {
      val acc = skipped
      val cap = maxBucket
      val guardPredicate = udf { (band: Int, bucket: Long, bsize: Long, pairs: Long) =>
        if (bsize > cap) { acc.add(SkippedBucket(cross, band, bucket, pairs)); false } else true
      }.asNondeterministic() // side effect: must run exactly where placed
      val small = sizes.filter(guardPredicate(col("band"), col("bucket"), col("bsize"), pairs))
        .select("band", "bucket")
      banded.join(small, Seq("band", "bucket"))
    }

    /** Logs what the guard dropped; call after the guarded job ran. */
    def warn(): Unit = {
      import scala.jdk.CollectionConverters._
      val buckets = skipped.value.asScala.toSet
      if (buckets.nonEmpty) {
        val pairs = buckets.iterator.map(_.pairs).sum
        org.slf4j.LoggerFactory.getLogger("graft.dedup").warn(
          s"$op: bucket guard (maxBucket=$maxBucket) skipped ${buckets.size} buckets " +
            s"holding up to $pairs candidate pairs (pairs may survive via other buckets)")
      }
    }
  }

  /** One bucket a [[BucketGuard]] dropped: its group (`cross` tells an
    * index × batch group from a self-join group with the same key) and the
    * candidate pairs it held.
    */
  private final case class SkippedBucket(cross: Boolean, band: Int, bucket: Long, pairs: Long)

  /** Self-join banded rows on (band, bucket) into unique candidate id
    * pairs, skipping the buckets `guard` drops.
    */
  private def bucketJoin(banded: DataFrame, guard: BucketGuard): DataFrame = {
    val guarded = guard(banded)
    guarded.as("l").join(guarded.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
  }

  /** The one verify step of every near-dup path: joins each side's row of
    * `sets` (keyed by `id`) to the candidate pairs `(id_a, id_b)`, computes
    * `metrics` over the two rows, aliased `a` and `b`, and keeps the pairs
    * whose metrics satisfy `keep`, as `(id_a, id_b, metrics…)`. Both joins
    * read `sets` under an alias, not a renamed copy, so their build sides
    * are one plan: Spark reuses the exchange instead of building the same
    * sets twice.
    */
  private def verifyPairs(candidates: DataFrame, sets: DataFrame,
                          metrics: Seq[Column], keep: Column): DataFrame =
    candidates
      .join(sets.as("a"), col("id_a") === col("a.id"))
      .join(sets.as("b"), col("id_b") === col("b.id"))
      .select(col("id_a") +: col("id_b") +: metrics: _*)
      .filter(keep)

  /** Exact n-gram Jaccard of candidate pairs against the `(id, sh)`
    * distinct-shingle sets of their documents: |∩| / |∪| with native array
    * ops, keeping `(id_a, id_b, inter, union, jaccard)` with `jaccard >=
    * threshold`. The verify of [[minhashNearDups]], [[dedupCorpus]] and
    * [[incrementalNearDups]].
    */
  private def jaccardPairs(candidates: DataFrame, sets: DataFrame,
                           threshold: Double): DataFrame = {
    val jaccard =
      when(col("union") === 0, lit(0.0)).otherwise(col("inter").cast("double") / col("union"))
    verifyPairs(candidates, sets,
        Seq(size(array_intersect(col("a.sh"), col("b.sh"))).as("inter"),
          size(array_union(col("a.sh"), col("b.sh"))).as("union")),
        jaccard >= threshold)
      .withColumn("jaccard", jaccard)
  }

  /** The (id → rep) member map of fingerprint `groups` `(fp, rep, carry…)`:
    * one row `(id, rep, carry…)` per document of `df` whose fingerprint has
    * a group. Only the fingerprint is re-derived (a cheap md5 scan); a null
    * text has a null fingerprint and joins no group. The rows with `id =!=
    * rep` are the groups' star edges.
    */
  private def memberMap(df: DataFrame, idCol: String, textCol: String,
                        groups: DataFrame, carry: Seq[String] = Nil): DataFrame =
    df.select(col(idCol).as("id"), TextOps.fingerprint(col(textCol)).as("fp"))
      .join(groups.select((Seq("fp", "rep") ++ carry).map(col): _*), "fp")
      .select((Seq("id", "rep") ++ carry).map(col): _*)

  /** Expands verified representative pairs `(id_a < id_b, metrics…)` to
    * all id pairs (id_a < id_b) through the member map `members` `(id, rep,
    * carry…)`, the expansion that ends each public pair list:
    *  - a rep pair becomes every member pair across its two groups, with the
    *    rep pair's metrics (members share normalized text, hence shingle
    *    sets and signatures);
    *  - a group's own pairs come from its star edges: `(rep, m)` per star
    *    edge, plus star ⋈ star on `rep` for the pairs of two non-rep
    *    members, with the metrics `sameGroup` computes from `carry`. Only
    *    duplicate members are in a star, so the self-join is quadratic in
    *    them alone, never in the corpus-sized map.
    */
  private def expandPairs(repPairs: DataFrame, members: DataFrame,
                          sameGroup: Seq[Column]): DataFrame = {
    val metrics = repPairs.columns.filterNot(Set("id_a", "id_b")).map(col)
    val cross = repPairs
      .join(members.select(col("rep").as("id_a"), col("id").as("ma")), "id_a")
      .join(members.select(col("rep").as("id_b"), col("id").as("mb")), "id_b")
      .select(least(col("ma"), col("mb")).as("id_a") +:
        greatest(col("ma"), col("mb")).as("id_b") +: metrics: _*)
    val carry = members.columns.filterNot(Set("id", "rep"))
    val star = members.filter(col("id") =!= col("rep"))
    val fromRep = star.select(col("rep").as("id_a") +: col("id").as("id_b") +: carry.map(col): _*)
    val betweenMembers = star.as("x").join(star.as("y"),
        col("x.rep") === col("y.rep") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a") +: col("y.id").as("id_b") +:
        carry.map(c => col(s"x.$c").as(c)): _*)
    cross.unionByName(fromRep.unionByName(betweenMembers)
      .select(col("id_a") +: col("id_b") +: sameGroup: _*))
  }

  /** Ends a public pair list: persists `pairs` and materializes them with
    * one action, one query in which Spark reuses the exchanges the branches
    * share (the signature aggregate among them), then logs what `guard`
    * skipped. The returned (small, pairs-only) frame owns its cache; the
    * caller releases it with `result.unpersist()`.
    */
  private def materialize(pairs: DataFrame, guard: BucketGuard): DataFrame = {
    val result = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    result.count()
    guard.warn()
    result
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
    *     aggregate collapses duplicate clusters before the exchange.
    *     (Members of a fingerprint group share normalized text, hence
    *     identical shingles/signature/band hashes, so the band hashes and
    *     the count are grouping keys beside the fingerprint.)
    *  2. Candidate generation explodes the per-rep band hashes and joins
    *     on (band, bucket): ids + 8-byte hashes only.
    *  3. Exact-Jaccard verification re-reads text for candidate reps ONLY,
    *     via a broadcast semi-join on the candidate id set — the corpus
    *     streams map-side through the filter and just the candidates'
    *     shingle sets shuffle into the pair join.
    *  4. The verified rep pairs expand through the (id → rep) member map,
    *     and each group's own pairs (jaccard 1) come from its star edges:
    *     the factorized shape of [[dedupCorpus]]'s edge list, expanded only
    *     here, at the end, because the output is the id pairs
    *     (quadratic in group size).
    * The cost of this shape is signature work per ROW (not per rep) in
    * pass 1 and a second corpus scan in pass 3 — map-side compute traded
    * for exchange bytes, the right trade at 100 TB. Every branch reads the
    * one signature aggregate, so the pass runs once, with no cache.
    *
    * A document with fewer than `k` tokens has no shingles and is in no
    * pair, whatever the threshold: with `threshold <= 0` the result holds
    * every verified candidate pair of documents that have shingles, not
    * the jaccard-0 pairs that shingle-less documents would form.
    *
    * The returned (small, pairs-only) frame is persisted and materialized;
    * call `result.unpersist()` when done with it.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.8, k: Int = 3,
                      numHashes: Int = 64, bands: Int = 16,
                      maxBucket: Int = Int.MaxValue): DataFrame = {
    val groups = minhashRepAgg(df, idCol, textCol, k, numHashes, bands)
    val (repPairs, guard) = minhashRepPairs(df, idCol, textCol, groups, threshold, k, maxBucket)
    // a group's members are exact duplicates: jaccard 1 over its shingle count
    materialize(expandPairs(repPairs, memberMap(df, idCol, textCol, groups, Seq("nsh")),
      Seq(col("nsh").as("inter"), col("nsh").as("union"), lit(1.0).as("jaccard"))), guard)
  }

  /** Passes 2-3 of [[minhashNearDups]] over `groups`, the
    * [[minhashRepAgg]] of pass 1: the verified representative pairs
    * `(id_a < id_b, inter, union, jaccard)`, lazy, and the guard that caps
    * their candidate buckets (it logs its skips once a consumer of the
    * pairs has run). Nothing is cached: the groups, the candidates and
    * the shingle sets each have two or more readers in the consumer's one
    * query, and Spark reuses the exchange under each.
    */
  private def minhashRepPairs(df: DataFrame, idCol: String, textCol: String,
                              groups: DataFrame, threshold: Double, k: Int,
                              maxBucket: Int): (DataFrame, BucketGuard) = {
    val guard = new BucketGuard(df.sparkSession, "minhash", "minhashNearDups", maxBucket)
    // _outer: bh always holds `bands` hashes, so the rows are posexplode's,
    // but a plain posexplode lets the optimizer infer size(bh) > 0 and push
    // it below the aggregate (bh is a grouping key), where it would compute
    // the signature a second time per row
    val banded = groups.select(col("rep").as("id"),
      posexplode_outer(col("bh")).as(Seq("band", "bucket")))
    val candidates = bucketJoin(banded, guard)

    // Exact verification: fetch shingle sets for candidate reps only. A
    // repeated id on the semi-join's build side changes nothing, so the
    // candidate ids need no distinct.
    val candIds = candidates.select(explode(array(col("id_a"), col("id_b"))).as("__cid"))
    // Hash-partitioned by id: both verify joins read the sets through this
    // one exchange (the one a shuffle join needs anyway), which Spark then
    // reuses, so the candidate documents are read and shingled once.
    val sets = df.join(broadcast(candIds), col(idCol) === col("__cid"), "left_semi")
      .select(col(idCol).as("id"), array_distinct(TextOps.shingles(col(textCol), k)).as("sh"))
      .repartition(col("id"))
    (jaccardPairs(candidates, sets, threshold), guard)
  }

  /** The clustering edge list of [[dedupCorpus]]: the verified rep pairs
    * plus one star edge `(rep, id)` per other member of an exact-duplicate
    * group — g − 1 edges per group, not [[minhashNearDups]]'s g(g − 1)/2,
    * with the same components (a star through the min-id rep reaches the
    * same min id as the clique). Lazy and uncached; the hook logs the
    * bucket guard's skips once the edges are materialized.
    */
  private[graft] def minhashClusterEdges(df: DataFrame, idCol: String, textCol: String,
                                         threshold: Double, k: Int, numHashes: Int,
                                         bands: Int, maxBucket: Int): (DataFrame, () => Unit) = {
    // Both branches read the same fingerprint groups, so Spark reuses the
    // aggregate's exchange and the signature pass runs once without a cache.
    val groups = minhashRepAgg(df, idCol, textCol, k, numHashes, bands)
    val (repPairs, guard) = minhashRepPairs(df, idCol, textCol, groups, threshold, k, maxBucket)
    val star = memberMap(df, idCol, textCol, groups).filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
    (repPairs.select("id_a", "id_b").unionByName(star), () => guard.warn())
  }

  /** Map-side pass 1 + per-fingerprint collapse for [[minhashNearDups]]:
    * (fp, band hashes, distinct-shingle count, rep) per distinct document
    * with a non-empty shingle set. Members of a fingerprint group share
    * normalized text, so they share band hashes and shingle count: grouping
    * on all three gives one row per fingerprint through a hash aggregate
    * (an aggregate OVER the arrays would force a sort aggregate), with
    * `min(id)` its only aggregate, so every reader plans the same
    * aggregate. Documents with fewer than k tokens have no shingles:
    * they stay unclustered, and their band hashes would all collide only to
    * verify to jaccard 0, so they are left out before the signature pass.
    * Package-visible so plan tests can assert that no exchange in this
    * stage carries the raw text column.
    */
  private[graft] def minhashRepAgg(df: DataFrame, idCol: String, textCol: String,
                                 k: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    df.filter(size(TextOps.tokens(lower(col(textCol)))) >= k)
      .withColumn("__sh", array_distinct(TextOps.shingles(col(textCol), k)))
      // the coalesce never fires (null text has no tokens), but it tells the
      // optimizer that fp is never null, so a join on fp infers no not-null
      // filter to push below the aggregate in that branch alone
      .select(coalesce(TextOps.fingerprint(col(textCol)), lit("")).as("fp"),
        col(idCol).as("id"),
        minhashBands(col("__sh"), numHashes, bands).as("bh"),
        size(col("__sh")).as("nsh"))
      .groupBy("fp", "bh", "nsh")
      .agg(min(col("id")).as("rep"))
  }

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
    * refinement (each label is some reachable id). The pair list is
    * truncated once and its two directions cached once, hash-partitioned
    * by dst; each round is one checkpoint, and the job that stores it also
    * counts the round's changed labels, so a round costs no action of its
    * own.
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
    // executor loss. Superseded rounds are FREED as the loop advances
    // (Spark never deletes checkpoints itself — cleanCheckpoints defaults
    // off, and maxIter full label copies at 10^12-vertex scale is real
    // storage): each invocation writes under its own cc-<uuid> subdir, and
    // a superseded round is freed once the next round is materialized and
    // counted, the edge list once the last round is. The FINAL round's
    // files back the returned frame — its cc-<uuid> path is returned in
    // CcResult.checkpointPath for the caller to delete when done with the
    // labels.
    //
    // CAVEAT (inherent to Spark's API): the checkpoint directory is a
    // GLOBAL SparkContext setting. It is saved and restored around this
    // loop, but another thread calling `.checkpoint()` concurrently with
    // the loop can land its files in this invocation's cc-<uuid> dir.
    // Reliable mode assumes the session's checkpoint users are sequential
    // (the normal batch-pipeline shape); run concurrent checkpoint
    // workloads on separate sessions.
    // (If NO checkpoint dir was set before this call, Spark offers no
    // unset API, so the session keeps pointing at this invocation's subdir
    // afterwards — set your own dir before unrelated checkpoint work.)
    val prevCheckpointDir = spark.sparkContext.getCheckpointDir
    var ccPath: Option[String] = None
    // EVERYTHING after the checkpoint-dir capture runs under try/finally:
    // the redirect is a SparkContext-GLOBAL mutation, and a failure can
    // surface before the loop's first action (driver-side plan work in
    // analysis throws for bad input), so the restore must guard the
    // redirect itself, not just the iteration. On failure the cc-<uuid>
    // dir is best-effort deleted — nothing can consume a partial run's
    // round files.
    var ok = false
    var freeEdges: () => Unit = () => ()
    try {
      val (truncate, free): (DataFrame => DataFrame, DataFrame => Unit) =
        checkpointDir match {
          case Some(dir) =>
            import org.apache.hadoop.fs.Path
            val unique = s"$dir/cc-${java.util.UUID.randomUUID()}"
            ccPath = Some(unique)
            spark.sparkContext.setCheckpointDir(unique)
            val fs = new Path(unique).getFileSystem(spark.sparkContext.hadoopConfiguration)
            // eager: a lazy reliable checkpoint computes its rows twice, once
            // for the change count and once more for the write
            (_.checkpoint(eager = true), CacheUtil.freeCheckpoint(_, fs))
          case None =>
            // lazy: the first job that reads the frame stores it, so a
            // round's change count is the job that stores the round (see
            // materializeCount). Freeing superseded rounds keeps up to
            // maxIter label frames from staying pinned in executor storage
            // until RDD GC (the BpeOps freeLocalCheckpoint lesson).
            (_.localCheckpoint(eager = false), CacheUtil.freeLocalCheckpoint)
        }
      // The pairs are truncated, so the rounds read a leaf, not the plan
      // behind `pairs`, which each round would otherwise re-analyse. Both
      // directions of every pair are generated after the leaf, in the map
      // stage of the edge shuffle, so the checkpoint holds |pairs| rows,
      // not 2|pairs|. The edges are hash-partitioned by dst and cached:
      // every round joins edges on dst, so the cached partitioning
      // satisfies the join's distribution and only the (small) labels side
      // shuffles per round — one upfront edge shuffle replaces one per
      // round. (A checkpoint of an adaptive plan does not carry its
      // partitioning; a cache does.)
      // No edge distinct(): min-label propagation is IDEMPOTENT to
      // duplicate edges (min over a multiset equals min over its set), so
      // de-duplicating 2|pairs| rows would spend a full shuffle to buy
      // nothing for the unique pair lists the dedup pipelines emit.
      // Callers with heavily-duplicated pair lists should distinct first —
      // duplicates cost per-round join width, never correctness.
      val undirected = truncate(pairs.select("id_a", "id_b"))
      val edges = undirected.select(inline(array(
          struct(col("id_a").as("src"), col("id_b").as("dst")),
          struct(col("id_b").as("src"), col("id_a").as("dst")))))
        .repartition(col("dst")).persist(StorageLevel.MEMORY_AND_DISK)
      freeEdges = () => { edges.unpersist(blocking = false); free(undirected) }

      // Each round's result is checkpointed: without lineage TRUNCATION
      // the logical plan triples per iteration and Catalyst
      // analysis/optimization time grows exponentially — the classic
      // iterative-DataFrame trap (measured 41 s for a 500-vertex graph with
      // persist() alone; ~2 s with checkpointing).
      //
      // Round 1 is FUSED with initialization: with labels(id) = id, the
      // first round's neighbor-min join degenerates to min(dst) per src, so
      // one hash-aggregate over the edge list replaces a distinct-vertices
      // checkpoint PLUS the first join round. Every round carries its own
      // `chg` flag (did this vertex's label shrink?), so the convergence
      // count needs no join back against the previous round and no job of
      // its own: it is the result of the job that materializes the round's
      // checkpoint. `iterations` counts the fused round as 1.
      var labels = truncate(edges.groupBy("src").agg(min(col("dst")).as("nmin"))
        .select(col("src").as("id"),
          least(col("src"), col("nmin")).as("label"),
          (col("nmin") < col("src")).as("chg")))

      var changed = materializeCount(labels, Some("chg"))
      var iter = 1
      while (changed > 0 && iter < maxIter) {
        // every vertex is offered its own label and each neighbor's; one
        // aggregate takes the least and, from the `own` offer, the old one
        val offers = edges
          .join(labels.select(col("id").as("dst"), col("label").as("offer")), "dst")
          .select(col("src").as("id"), col("offer"), lit(false).as("own"))
          .unionByName(labels.select(col("id"), col("label").as("offer"), lit(true).as("own")))
        val updated = truncate(offers.groupBy("id")
          .agg(min(col("offer")).as("label"), min(when(col("own"), col("offer"))).as("old"))
          .select(col("id"), col("label"), (col("label") < col("old")).as("chg")))
        changed = materializeCount(updated, Some("chg"))
        free(labels) // superseded by the round just materialized
        labels = updated
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
      // the last round is materialized (or the run failed): nothing reads
      // the edges any more, on EVERY exit path
      freeEdges()
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

  /** Runs ONE job over the rows of `cp` — a checkpointed frame — and
    * returns how many there are, or with `flag` how many have that boolean
    * column true. A lazy `localCheckpoint` is stored by this very job, so
    * the count costs no action of its own. The count is the job's result,
    * taken per partition from the attempt that succeeded, over the rows the
    * checkpoint holds; it stays exact when a task is retried. (An
    * Observation on the checkpointed plan does not: a retry that finds the
    * failed attempt's stored block never re-evaluates the plan.)
    */
  private def materializeCount(cp: DataFrame, flag: Option[String] = None): Long = {
    val i = flag.fold(-1)(cp.schema.fieldIndex)
    val qe = cp.queryExecution
    // as a SQL execution, so its tasks load generated code through the
    // session's class loader like every other job of the session (a bare
    // runJob's tasks use the executor's default loader, and compile every
    // class they share with the session's jobs a second time)
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("materializeCount")) {
      val rows = qe.toRdd
      rows.sparkContext.runJob(rows, (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        var n = 0L
        it.foreach(r => if (i < 0 || (!r.isNullAt(i) && r.getBoolean(i))) n += 1)
        n
      }).sum
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
    * Nothing of the front half is cached: the edge list is one query, in
    * which Spark reuses the exchanges its branches share, and connected
    * components checkpoints it before its first round, so no round
    * re-analyses the front half's plan. Beside that query a call runs one
    * checkpoint per CC round and one for the loser set, each counted by the
    * job that stores it: 19 Spark jobs on the OpsSpec chained-groups
    * corpus, a budget its job-count case pins. With `checkpointDir` set, the
    * final round's `cc-<uuid>` files (which back the labels frame) are
    * consumed into the loser id set and then DELETED here — callers get a
    * clean survivor frame and no leaked per-invocation directory.
    *
    * Every run takes the stage sequence `pairs` (the clustering edge list)
    * → `labels` (`(id, cluster)`), kept in memory by default. With
    * `artifactDir` set the run is RESTARTABLE: each stage is written as
    * [[Commit]]-marked parquet under it and read back, and a re-run
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
      } else if (Seq("pairs", "labels").exists(st => Commit.committed(fs, new Path(s"$dir/$st")))) {
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
    // artifactDir its parquet, written once (Commit) and read back.
    def stage(name: String)(compute: => DataFrame): DataFrame = artifacts match {
      case None => compute
      case Some((dir, fs)) =>
        val path = s"$dir/$name"
        Commit.once(fs, new Path(path))(compute.write.mode("overwrite").parquet(path))
        spark.read.parquet(path) // the _-prefixed marker is not scanned
    }
    var ccDir: Option[String] = None // the final round's reliable checkpoint files
    val (losers, nLosers) = try {
      val labels = stage("labels") {
        var logSkips: () => Unit = () => ()
        val edges = stage("pairs") {
          val (e, log) = minhashClusterEdges(df, idCol, textCol, threshold, k,
            numHashes, bands, maxBucket)
          logSkips = log
          e
        }
        val cc = connectedComponentsStatus(edges, maxIter, checkpointDir)
        logSkips() // the edges are materialized, so the bucket guard has run
        ccDir = cc.checkpointPath
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
      // The loser set is materialized ONCE, by the job that also counts it.
      // That (a) detaches it from the labels, so the edges and the cc
      // checkpoint files can be released, and (b) prices the side for an
      // EXPLICIT guarded broadcast: under the limit the survivor anti-join
      // needs no corpus exchange at all — relying on AQE's runtime
      // SMJ->BHJ conversion alone still writes the corpus-side shuffle
      // files first, which at 100 TB is the whole cost.
      // Above the limit (a pathological majority-duplicate corpus) the join
      // runs un-hinted and completes as a shuffle join.
      //
      // Durability follows the caller's `checkpointDir` opt-in. Without it
      // the losers are a localCheckpoint (executor blocks, GC-freed —
      // single-box semantics). With it they go to durable parquet under
      // the caller-owned `$checkpointDir/losers-<uuid>` BEFORE any cc round
      // files are deleted, so an executor lost during the (potentially
      // hours-long) survivor anti-join cannot kill the lineage.
      checkpointDir match {
        case None =>
          val l = losersLazy.localCheckpoint(eager = false)
          (l, materializeCount(l))
        case Some(cd) =>
          val durable = s"$cd/losers-${java.util.UUID.randomUUID()}"
          losersLazy.write.mode("overwrite").parquet(durable)
          org.slf4j.LoggerFactory.getLogger("graft.dedup")
            .info(s"dedupCorpus: loser id set persisted at $durable (caller-owned retention)")
          val l = spark.read.parquet(durable)
          (l, l.count())
      }
    } finally {
      // the losers are materialized (or the run failed): nothing reads the
      // reliable cc checkpoint files any more (Spark never deletes
      // checkpoints itself)
      ccDir.foreach { p =>
        try {
          val hp = new Path(p)
          hp.getFileSystem(hadoopConf).delete(hp, true)
        } catch { case scala.util.control.NonFatal(_) => () } // best-effort
      }
    }
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
    * [[graft.ops.BloomOps.contaminationBloom]], so the bench-side
    * semantics cannot drift between the families. Applies
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
    * exchange the flagged rows need anyway — one corpus explode, one
    * exchange, no join (rows are (id, pos, 8-byte key) ≈ 24 B). The catch
    * at scale: window functions get no AQE skew splitting, so an extremely
    * hot boilerplate window concentrates on one reducer, which spills and
    * completes but serializes the stage. Flagged windows merge into
    * maximal regions per doc (variable-gap islands: regions whose coverage
    * overlaps or abuts are ONE region; per-doc window partitions are
    * bounded by the doc's own window count). With `hashed = true` (the
    * 100 TB default) windows travel as 8-byte xxhash64 keys; a collision
    * can only over-flag a span for review — the safe failure direction.
    * Within-doc repeats count toward `minCount` (text repeated twice in one
    * document is duplicated text).
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 50, minCount: Long = 2,
                     hashed: Boolean = true): DataFrame = {
    require(minCount >= 2,
      s"duplicateSpans: minCount must be >= 2 (a window trivially occurs " +
        s"once — minCount=$minCount would flag every document whole)")
    val flagged = keyedPositionedShingles(df, idCol, textCol, k, hashed)
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
                          hashed: Boolean = true): DataFrame = {
    val spans = duplicateSpans(df, idCol, textCol, k, minCount, hashed)
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
    * tokens and take the sign. One-pass typed UDF: a Catalyst tree of 64
    * per-bit sums is too wide for whole-stage codegen.
    */
  def simhash64(textCol: Column): Column = {
    val simUdf = udf { (toks: Seq[String]) =>
      val counts = new Array[Int](64)
      if (toks != null) {
        val it = toks.iterator
        while (it.hasNext) {
          val h = MinhashKernel.hash64(it.next())
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
    * pairs, each group's own pairs at hamming 0 from its star edges. The
    * shape of [[minhashNearDups]]: every branch reads the one signature
    * aggregate ([[simhashRepAgg]]), so the text is read and hashed once and
    * nothing but the result is cached; text never leaves the scan stage
    * (the verify needs just the 64-bit signatures). Hot-bucket guard as in
    * [[minhashNearDups]]. A null text is in no pair.
    *
    * The returned frame is persisted and materialized; call
    * `result.unpersist()` when done with it.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, maxBucket: Int = Int.MaxValue): DataFrame = {
    val guard = new BucketGuard(df.sparkSession, "simhash", "simhashNearDups", maxBucket)
    val groups = simhashRepAgg(df, idCol, textCol)
    val repPairs = bandedHammingPairs(groups.select(col("rep").as("id"), col("sim").as("sig")),
      nBands = 4, maxHamming, guard)
    materialize(expandPairs(repPairs, memberMap(df, idCol, textCol, groups),
      Seq(lit(0).as("hamming"))), guard)
  }

  /** Hamming-banded near-dup over PRECOMPUTED 64-bit signatures — the
    * generic core behind media perceptual hashes (text SimHash adds the
    * fingerprint collapse and expansion of [[simhashNearDups]]): `sigs`
    * carries one signature per id; the 64-bit key splits into `nBands`
    * equal slices that bucket the candidate join. Pigeonhole guarantee: a
    * pair at hamming < nBands differs in fewer bits than there are bands,
    * so at least one band is bit-equal — recall is 100% up to `nBands − 1`;
    * wider distances surface only via a luckily-equal band (raise nBands
    * for wider radii: 16 bands of 4 bits guarantee ≤ 15). Output
    * `(id_a, id_b, hamming)` with id_a < id_b.
    *
    * Scale shape: the band explode is map-side and only (id, band,
    * bucket) ≈ 20 B rows shuffle; signatures join back by id for the
    * popcount verify (8-byte values); degenerate buckets (all-black
    * thumbnails, a solid-color meme template repeated 10⁹ times) are
    * capped by `maxBucket` with the same skip-accounting warning as the
    * text paths — capped pairs may still surface via their other bands.
    * The signatures are persisted for the call: the explode and both verify
    * joins read them, and a caller's signatures are often costly to
    * recompute (image decodes) with no exchange above them to reuse.
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
    val guard = new BucketGuard(sigs.sparkSession, "hamming", "hammingNearDups", maxBucket)
    val s = sigs
      .select(col(idCol).cast("long").as("id"), col(sigCol).cast("long").as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val result = materialize(bandedHammingPairs(s, nBands, maxHamming, guard), guard)
    s.unpersist(blocking = false)
    result
  }

  /** The band-explode → bucket-join → popcount-verify core shared by
    * [[hammingNearDups]] and [[simhashNearDups]] over `s` = (id, sig) rows:
    * a lazy (id_a, id_b, hamming) frame.
    */
  private def bandedHammingPairs(s: DataFrame, nBands: Int, maxHamming: Int,
                                 guard: BucketGuard): DataFrame = {
    val width = 64 / nBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val banded = s.select(col("id"), posexplode(array(
      (0 until nBands).map(b =>
        shiftrightunsigned(col("sig"), b * width).bitwiseAND(lit(mask))): _*))
      .as(Seq("band", "bucket")))
    verifyPairs(bucketJoin(banded, guard), s,
      Seq(bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming")),
      col("hamming") <= maxHamming)
  }

  /** Map-side pass + per-fingerprint collapse for [[simhashNearDups]]:
    * (fp, simhash, rep) per distinct document. fp-equal documents share
    * normalized text, hence tokens and simhash, so the simhash is a
    * grouping key beside the fingerprint and `min(id)` the only aggregate:
    * one hash aggregate that every reader plans alike. A null text's
    * fingerprint is null; the coalesce groups it under "" (which no md5
    * equals), so a join on fp infers no not-null filter to push below the
    * aggregate in one branch alone, and the group has no member in the
    * member map, so it is in no pair. Package-visible for plan tests (no
    * text column above the exchange).
    */
  private[graft] def simhashRepAgg(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(coalesce(TextOps.fingerprint(col(textCol)), lit("")).as("fp"),
        col(idCol).as("id"), simhash64(col(textCol)).as("sim"))
      .groupBy("fp", "sim")
      .agg(min(col("id")).as("rep"))

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
  // Not Commit.once: readers list these root markers to prune batch
  // partitions, and a re-append fails rather than skips.
  private val CommittedPrefix = Commit.Marker + "_"
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
  private[graft] def bandedRows(df: DataFrame, idCol: String, textCol: String,
                                k: Int, numHashes: Int, bands: Int): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      posexplode(minhashBands(TextOps.shingles(col(textCol), k), numHashes, bands))
        .as(Seq("band", "bucket")))

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
    * corpus scale): the index rows in buckets the batch shares (a
    * broadcast join with the batch's bucket keys) are counted per (band,
    * bucket), and buckets above the cap are dropped before the candidate
    * join, same upper-bound contract as [[minhashNearDups]]. Only buckets
    * the batch meets are counted or warned about.
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
    val (cands0, logSkips) = incrementalCandidatesP(batch, idCol, textCol,
      indexDir, maxBucket, k, numHashes, bands)
    val cands = cands0.localCheckpoint(true)
    logSkips()
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
    val sets = texts.select(col(idCol).as("id"),
      array_distinct(TextOps.shingles(col(textCol), k)).as("sh"))
    jaccardPairs(cands, sets, threshold)
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
      k, numHashes, bands)._1
  }

  /** The candidate pairs, lazy, and a hook that logs the bucket guard's
    * skips (oversized index buckets the batch shares, oversized batch
    * buckets) once the pairs have been computed.
    */
  private def incrementalCandidatesP(batch: DataFrame, idCol: String,
                                     textCol: String, indexDir: String,
                                     maxBucket: Int, k: Int, numHashes: Int,
                                     bands: Int): (DataFrame, () => Unit) = {
    val spark = batch.sparkSession
    val guard = new BucketGuard(spark, "incremental", "incrementalNearDups", maxBucket)
    val newBanded = bandedRows(batch, idCol, textCol, k, numHashes, bands)
      .localCheckpoint(true)
    val indexed = guard.cross(committedBanded(spark, indexDir), newBanded)
    val crossPairs = indexed.as("o")
      .join(broadcast(newBanded.as("n")),
        col("o.band") === col("n.band") && col("o.bucket") === col("n.bucket"))
      .filter(col("o.id") =!= col("n.id"))
      .select(least(col("o.id"), col("n.id")).as("id_a"),
        greatest(col("o.id"), col("n.id")).as("id_b"))
    val batchPairs = bucketJoin(newBanded, guard)
    (crossPairs.union(batchPairs).distinct(), () => guard.warn())
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
