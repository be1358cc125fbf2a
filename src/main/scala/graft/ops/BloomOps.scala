package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-filter-pruned decontamination: the scale path for benchmark sets
  * too large to broadcast raw.
  *
  * [[DedupOps.contamination]] broadcasts the bench shingle set (guarded,
  * with a shuffle-join fallback). That fallback completes but shuffles the
  * FULL training shingle stream — at 100 TB the shuffle write is the whole
  * cost. This operator replaces it with a three-stage shape that keeps the
  * corpus map-side:
  *
  *  1. BUILD: the distinct bench k-gram keys (xxhash64) fold into a fixed
  *     `numBits`-bit Bloom bitset via `treeAggregate` — bitwise OR is
  *     associative and commutative, so the bitset is identical for every
  *     partitioning and executor count (the determinism the north rule's
  *     two-cluster-size criterion demands). A 10^9-shingle benchmark at
  *     10 bits/key is a 1.25 GB array — 80× smaller than the raw string
  *     set, inside Spark's broadcast ceiling; `treeDepth` 2 keeps driver
  *     merge fan-in bounded.
  *  2. PROBE (map-side): every train shingle tests against the broadcast
  *     bitset; negatives — the overwhelming majority of a clean corpus —
  *     are dropped BEFORE any exchange. No false negatives, so no missed
  *     contamination; false positives (rate set by bits/key) survive to
  *     stage 3.
  *  3. VERIFY (exact): the bloom-positive survivors — true hits plus the
  *     ~p·|train| false positives — equi-join the true bench key set. The
  *     join still shuffles the bench side once, but the train side is now
  *     `hits + p·shingles` rows instead of the full corpus stream; at
  *     p = 1% that is a 100× smaller shuffle on the dominant side. The
  *     result is EXACTLY [[DedupOps.contamination]]'s (bloom errors only
  *     ever ADD verify work, never change the answer).
  *
  * With `hashed = true` (the 100 TB default) the verify join carries
  * 8-byte xxhash64 keys; `hashed = false` keeps exact strings for the SQL
  * oracle — the PROBE still keys on xxhash64 of the string (the bitset is
  * always hash-indexed), so the pruning is identical and only the verify
  * key differs.
  *
  * Probe positions use the Kirsch–Mitzenmacher double-hash family
  * `h_i = h1 + i·h2` (same construction as the MinHash kernel,
  * [[graft.functions.MinhashKernel.deriveB]]) — j probes cost one
  * multiply-free add each, and two independent 64-bit mixes of one
  * xxhash64 are as good as j true hashes for Bloom FP purposes (Kirsch &
  * Mitzenmacher 2006).
  */
object BloomOps {

  /** An immutable Bloom bitset. `bits.length == ceil(numBits/64)`. */
  final case class BloomModel(bits: Array[Long], numBits: Long, numHashes: Int) {
    def contains(h: Long): Boolean = {
      val h2 = graft.functions.MinhashKernel.deriveB(h)
      var i = 0
      var cur = h
      while (i < numHashes) {
        val bit = java.lang.Long.remainderUnsigned(cur, numBits)
        if ((bits((bit >>> 6).toInt) & (1L << (bit & 63L))) == 0L) return false
        cur += h2
        i += 1
      }
      true
    }
    /** Fraction of set bits — saturation diagnostic (FP rate ≈ load^j). */
    def load: Double =
      bits.map(java.lang.Long.bitCount(_).toLong).sum.toDouble / numBits
  }

  /** FP-optimal probe count for a bitset of `numBits` over `expectedKeys`:
    * round(m/n·ln 2), clamped to [1, 32]. The single source of the j
    * formula for [[contaminationBloom]].
    */
  def hashesFor(numBits: Long, expectedKeys: Long): Int = {
    require(expectedKeys > 0, s"expectedKeys must be positive: $expectedKeys")
    math.round(numBits.toDouble / expectedKeys * math.log(2)).toInt.max(1).min(32)
  }

  /** Fold a single-LONG-column frame into a Bloom bitset. Deterministic
    * for every partitioning (OR-merge); `treeDepth = 2` bounds the
    * driver's merge fan-in to ~sqrt(partitions) partial bitsets. Driver
    * and each executor hold one `numBits/8`-byte array — size `numBits`
    * for the BENCH side (small by nature), never the corpus.
    */
  /** Largest representable bitset: word count must fit an Int (array
    * index), i.e. numBits ≤ 64·(2³¹−1) ≈ 1.37×10¹¹ bits (~16 GiB).
    */
  val MaxBits: Long = 64L * Int.MaxValue

  def buildBloom(keys: DataFrame, numBits: Long, numHashes: Int): BloomModel = {
    require(numBits >= 64 && numBits % 64 == 0,
      s"numBits must be a positive multiple of 64: $numBits")
    require(numBits <= MaxBits,
      s"numBits $numBits exceeds MaxBits $MaxBits (~16 GiB bitset — the " +
        "long-array word count must fit an Int); lower bitsPerKey or split " +
        "the benchmark")
    require(numHashes >= 1 && numHashes <= 32,
      s"numHashes must be in [1,32]: $numHashes")
    val schema = keys.schema
    require(schema.fields.length == 1 &&
        schema.fields(0).dataType == org.apache.spark.sql.types.LongType,
      s"buildBloom expects exactly one LongType column, got ${schema.simpleString}")
    val words = ((numBits + 63) / 64).toInt
    val nb = numBits
    val nh = numHashes
    import keys.sparkSession.implicits._
    val bits = keys.as[Long].rdd.treeAggregate(new Array[Long](words))(
      seqOp = (arr, h) => {
        val h2 = graft.functions.MinhashKernel.deriveB(h)
        var i = 0
        var cur = h
        while (i < nh) {
          val bit = java.lang.Long.remainderUnsigned(cur, nb)
          arr((bit >>> 6).toInt) |= 1L << (bit & 63L)
          cur += h2
          i += 1
        }
        arr
      },
      combOp = (a, b) => {
        var i = 0
        while (i < a.length) { a(i) |= b(i); i += 1 }
        a
      },
      depth = 2)
    BloomModel(bits, numBits, numHashes)
  }

  /** Map-side membership probe column over a broadcast model. A typed UDF
    * for the same reason as the MinHash kernel: a j-iteration loop indexing
    * a broadcast long array has no codegen-friendly Column form; the probe
    * is one cache line per hash and runs inside the scan stage.
    */
  private def probeCol(df: DataFrame, model: BloomModel): Column = {
    val bc = df.sparkSession.sparkContext.broadcast(model)
    udf((h: Long) => bc.value.contains(h)).apply(col("__bloomKey"))
  }

  /** [[DedupOps.contamination]] semantics — (id, n_hits) of train docs
    * sharing ≥1 word k-gram with the bench corpus — through the
    * build→probe→verify shape. `bitsPerKey` sets the FP budget
    * (10 bits/key ≈ 1% FP with the derived optimal hash count);
    * `numBitsOverride` pins the bitset size directly (tests use a
    * deliberately saturated 64-bit filter to prove verify exactness).
    */
  def contaminationBloom(train: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String,
                         k: Int = 13, hashed: Boolean = true,
                         bitsPerKey: Int = 10,
                         numBitsOverride: Long = -1L): DataFrame = {
    require(bitsPerKey >= 1 && bitsPerKey <= 64,
      s"bitsPerKey must be in [1,64]: $bitsPerKey")
    val key = if (hashed) (c: Column) => xxhash64(c) else (c: Column) => c
    // Bench distinct shingles via the builder SHARED with DedupOps'
    // decontamination family (same keying, same cache discipline — the
    // bloom build, the size count, and the verify join all read the same
    // blocks; persist not checkpoint, so lost executors recompute).
    val benchSet = DedupOps.benchShingleSet(bench, textCol, k, hashed)
    val benchRows = benchSet.count()
    if (benchRows == 0) {
      // Empty benchmark: nothing can be contaminated; skip the build
      // (hashesFor requires n > 0) and free the cache eagerly.
      benchSet.unpersist()
      return train.select(col(idCol).as("id"), lit(0L).as("n_hits")).limit(0)
    }
    val numBits =
      if (numBitsOverride > 0) {
        require(numBitsOverride % 64 == 0,
          s"numBitsOverride must be a multiple of 64: $numBitsOverride")
        numBitsOverride
      } else ((benchRows * bitsPerKey + 63) / 64) * 64
    val numHashes = hashesFor(numBits, benchRows)
    val model = buildBloom(
      benchSet.select(xxhash64(col("sh")).as("h")), numBits, numHashes)

    val trainShingles = train
      .select(col(idCol).as("id"),
        explode(array_distinct(TextOps.shingles(col(textCol), k))).as("s"))
      .select(col("id"), key(col("s")).as("sh"))
      .withColumn("__bloomKey", xxhash64(col("sh")))
    val survivors = trainShingles
      .filter(probeCol(trainShingles, model))
      .drop("__bloomKey")
    // Exact verify: bloom survivors against the true key set. Never
    // broadcast-hinted — this operator exists for the bench-too-big case;
    // AQE still converts to broadcast at runtime when the sides turn out
    // small.
    survivors.join(benchSet, "sh")
      .groupBy("id")
      .agg(count(lit(1)).as("n_hits"))
  }
}
