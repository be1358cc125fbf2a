package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._


/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>), built to survive a 100 TB corpus:
  *
  *  - ranking is a two-phase distributed top-k ([[topKPerQuery]]): bounded
  *    per-partition heaps reduce each partition to at most queries×k rows
  *    BEFORE the shuffle, and the merge groups at most partitions×k rows per
  *    query — no `row_number` window ever sends a query's full scored corpus
  *    to one reducer;
  *  - IVF cell assignment is a map-side argmax against a broadcast centroid
  *    array — the corpus is never joined against the centroid table, never
  *    shuffled, and scanned exactly once for assignment;
  *  - centroid seeding is one distributed `orderBy(hash).limit(n)` pass
  *    (TakeOrderedAndProject: per-partition top-n, driver merge) — no
  *    separate `count()` scan, and the seed set is independent of partition
  *    layout / parallelism;
  *  - the LSH variant buckets by random-hyperplane signature so each query
  *    scans only its bucket.
  */
object SimOps {
  /** Cosine similarity of two array<float/double> columns via the fused
    * native expressions (ArrayDotExpr / ArrayNorm2Expr): one pass per
    * array, no per-pair intermediate arrays, bit-identical to the former
    * `aggregate(zip_with(·,·,*))` composition (same left-to-right
    * accumulation with floats widened before each multiply — parity-tested
    * in NativeExpressionSpec and pinned by the ANN recall oracles).
    */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge.{column => c, expression => e}
    val dot = c(graft.functions.ArrayDotExpr(e(a), e(b)))
    val na = sqrt(c(graft.functions.ArrayNorm2Expr(e(a))))
    val nb = sqrt(c(graft.functions.ArrayNorm2Expr(e(b))))
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot / (na * nb))
  }

  /** Scalar cosine with the exact same zero-norm semantics as [[cosine]]
    * (used by the map-side centroid argmax so UDF and column paths agree).
    */
  private[ops] def cosineLocal(a: Array[Double], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i); val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Distributed top-k per query without a global window, built on the
    * native bounded-heap aggregate [[graft.functions.TopKByScore]]
    * (`topk_by_score`): O(k) state per group on BOTH the partial (map) and
    * final (reduce) side, so ranking N scored rows per query shuffles only
    * partitions×k pre-reduced pairs — plans as one ObjectHashAggregate
    * with a partial stage (asserted in PlanSpec), no Dataset encoder hop,
    * no `row_number` window. Ties break on the lower neighbor_id, matching
    * a `row_number` over (sim desc, neighbor_id asc).
    *
    * Input must have columns (query_id, neighbor_id: long-castable, sim:
    * double-castable). Ids are REQUIRED to be integral (byte/short/int/
    * long): a non-numeric id would cast to null and be silently dropped by
    * the null-skipping aggregate — so non-integral id types fail fast here
    * instead. This requirement flows through every public ANN entry point
    * (bruteForceTopK / lshTopK / ivfTopK).
    */
  def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    for (c <- Seq("query_id", "neighbor_id")) {
      val t = scored.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"topKPerQuery requires an integral $c column (byte/short/int/long); " +
          s"got ${t.simpleString} — non-integral ids would cast to null and be " +
          "silently dropped by the bounded-heap aggregate")
    }
    graft.functions.GraftFunctions.register(scored.sparkSession)
    scored
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("sim").cast("double"))
      .groupBy("query_id")
      .agg(expr(s"topk_by_score(sim, neighbor_id, $k)").as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"), col("t.score").as("sim"))
  }

  /** Exact brute-force cosine top-k: for each query row, the k nearest
    * corpus rows. The query side is broadcast; the corpus streams once and
    * is reduced to partitions×queries×k rows before the only shuffle.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    topKPerQuery(scored.select("query_id", "neighbor_id", "sim"), k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** Deterministic pseudo-random hyperplane signature: bit i = sign of
    * dot(v, h_i) where h_i[j] = ±1 derived from a hash of (i, j). One-pass
    * typed UDF (a `bits`-wide Catalyst expression tree falls out of
    * codegen; the UDF reads the vector once).
    */
  def lshSignature(vec: Column, bits: Int): Column = {
    val sigUdf = udf { (v: Seq[Float]) =>
      var sig = 0L
      if (v != null) {
        var i = 0
        while (i < bits) {
          var dot = 0.0
          var j = 0
          while (j < v.length) {
            // ±1 pseudo-plane component from an avalanche of (i, j)
            var x = (i.toLong << 32 | j.toLong) * 0x9e3779b97f4a7c15L
            x ^= x >>> 33
            dot += (if ((x & 1L) == 0L) v(j) else -v(j))
            j += 1
          }
          if (dot > 0) sig |= (1L << i)
          i += 1
        }
      }
      sig
    }
    sigUdf(vec)
  }

  /** Pick `nCells` deterministic seed vectors: the lowest rows by
    * (xxhash64(id), id). `orderBy().limit()` plans as
    * TakeOrderedAndProject — per-partition partial top-n merged on the
    * driver, one corpus pass, no count() and no global sort shuffle, and the
    * result does not depend on partition layout.
    */
  private def seedCentroids(c: DataFrame, nCells: Int): Array[Array[Double]] = {
    val rows = c.orderBy(xxhash64(col("neighbor_id")), col("neighbor_id"))
      .limit(nCells).collect()
    require(rows.nonEmpty, "ivfTopK: empty corpus")
    rows.map(_.getAs[scala.collection.Seq[Float]]("cv").iterator.map(_.toDouble).toArray)
  }

  /** Map-side argmax cell for one vector; ties take the lowest cell. */
  private[ops] def bestCell(centroids: Array[Array[Double]], v: Seq[Float]): Int = {
    var best = 0; var bestSim = Double.NegativeInfinity
    var i = 0
    while (i < centroids.length) {
      val s = cosineLocal(centroids(i), v)
      if (s > bestSim) { bestSim = s; best = i }
      i += 1
    }
    best
  }

  /** The `nprobe` nearest cells for a query vector (ties → lower cell). */
  private[ops] def topCells(centroids: Array[Array[Double]], v: Seq[Float], nprobe: Int): Array[Int] =
    centroids.indices
      .map(i => (cosineLocal(centroids(i), v), i))
      .sortBy { case (s, i) => (-s, i) }
      .take(nprobe).map(_._2).toArray

  /** Assign each corpus row to its nearest centroid — a pure map-side
    * projection against a broadcast centroid array: no join, no window, no
    * shuffle (asserted in PlanSpec).
    */
  def assignCells(corpus: DataFrame, centroids: Array[Array[Double]],
                  vecCol: String = "cv"): DataFrame = {
    val bc = corpus.sparkSession.sparkContext.broadcast(centroids)
    val cellUdf = udf { (v: Seq[Float]) => bestCell(bc.value, v) }
    corpus.withColumn("cell", cellUdf(col(vecCol)))
  }

  /** One k-means refinement round: map-side assignment, per-partition
    * running sums, driver-side mean (≤ partitions×cells tiny rows collected;
    * empty cells keep their previous centroid). One corpus pass per round.
    */
  private def refineCentroids(c: DataFrame, centroids: Array[Array[Double]]): Array[Array[Double]] = {
    val spark = c.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    val dims = centroids.head.length
    val nCells = centroids.length
    val partials = c.select(col("cv")).as[Seq[Float]]
      .mapPartitions { it =>
        val sums = Array.fill(nCells)(new Array[Double](dims))
        val counts = new Array[Long](nCells)
        it.foreach { v =>
          val cell = bestCell(bc.value, v)
          val s = sums(cell)
          var i = 0
          val n = math.min(dims, v.length)
          while (i < n) { s(i) += v(i); i += 1 }
          counts(cell) += 1
        }
        (0 until nCells).iterator.filter(counts(_) > 0)
          .map(cell => (cell, sums(cell).toSeq, counts(cell)))
      }.collect()
    val agg = Array.fill(nCells)(new Array[Double](dims))
    val cnt = new Array[Long](nCells)
    partials.foreach { case (cell, s, n) =>
      var i = 0
      while (i < dims) { agg(cell)(i) += s(i); i += 1 }
      cnt(cell) += n
    }
    Array.tabulate(nCells) { cell =>
      if (cnt(cell) == 0) centroids(cell)
      else agg(cell).map(_ / cnt(cell))
    }
  }

  /** A built IVF index: the coarse centroids plus the corpus with its cell
    * assignment (`neighbor_id`, `cv`, `cell`). Build once with
    * [[buildIvfIndex]], persist with [[writeIvfIndex]] (parquet partitioned
    * BY CELL, so reopened indexes serve queries with partition-pruned
    * scans), query many times with [[ivfQuery]].
    */
  final case class IvfIndex(centroids: Array[Array[Double]], assigned: DataFrame)

  /** Build the IVF index: deterministic seeds → `refineIters` k-means
    * rounds → map-side cell assignment. Corpus passes: 1 (seed) +
    * `refineIters` + 1 (assign), all shuffle-free.
    */
  def buildIvfIndex(corpus: DataFrame, nCells: Int = 16, refineIters: Int = 1,
                    idCol: String = "vec_id", vecCol: String = "embedding"): IvfIndex = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    var centroids = seedCentroids(c, nCells)
    for (_ <- 1 to refineIters) centroids = refineCentroids(c, centroids)
    IvfIndex(centroids, assignCells(c, centroids))
  }

  /** Persist an index: the assigned corpus as parquet PARTITIONED BY cell
    * (each cell is its own directory — the on-disk inverted file), the
    * centroid matrix as a small JSON sidecar.
    */
  def writeIvfIndex(index: IvfIndex, path: String): Unit = {
    index.assigned.write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    val json = index.centroids.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    val spark = index.assigned.sparkSession
    val p = new org.apache.hadoop.fs.Path(s"$path/centroids.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(json.getBytes("UTF-8"))
    out.close()
  }

  def readIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val p = new org.apache.hadoop.fs.Path(s"$path/centroids.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val centroids = json.stripPrefix("[").stripSuffix("]").split("\\],\\[")
      .map(_.replaceAll("[\\[\\]]", "").split(",").map(_.toDouble))
    IvfIndex(centroids, spark.read.parquet(s"$path/cells"))
  }

  /** Query a built index: route each query to its `nprobe` nearest cells,
    * statically prune the index to exactly those cells (an on-disk index
    * reads ONLY the probed cell partitions — `PartitionFilters` in the
    * scan), broadcast-join, bounded-heap top-k merge.
    *
    * The returned frame is LAZY (standard Spark semantics): each action
    * re-runs the join+top-k over the (materialized, checkpointed) routed
    * side — results are identical across actions (the top-k aggregate
    * breaks ties deterministically), but a caller consuming the result
    * with several actions should cache it.
    */
  def ivfQuery(index: IvfIndex, queries: DataFrame, k: Int, nprobe: Int = 4,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = index.assigned.sparkSession
    val bc = spark.sparkContext.broadcast(index.centroids)
    val probeUdf = udf { (v: Seq[Float]) => topCells(bc.value, v, nprobe) }
    // Materialize the routed query side ONCE, distributed (an eager
    // localCheckpoint, NOT a driver collect — a large query batch must
    // never serialize through the driver): the checkpointed blocks feed
    // both the probed-cell aggregate and the join, the routing UDF runs
    // once, and because the lineage is TRUNCATED a non-deterministic
    // `queries` frame cannot silently re-route to cells the pruning
    // filter dropped (a lost block fails the query instead of recomputing
    // differently). Blocks are freed when the frame is GC'd — no
    // caller-release contract, safe in a serving loop.
    val routed = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell", explode(probeUdf(col("qv"))))
      .localCheckpoint(true)

    // static partition pruning from a tiny distinct aggregate (≤ nCells
    // ints reach the driver — never query rows): an on-disk index reads
    // only the probed cell directories (PartitionFilters); harmless no-op
    // vs the equi-join for an in-memory index
    val probedCells = routed.select("cell").distinct().collect()
      .map(_.getInt(0)).toSeq
    val pruned = index.assigned.filter(col("cell").isin(probedCells: _*))

    val scored = broadcast(routed).join(pruned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    topKPerQuery(scored.select("query_id", "neighbor_id", "sim"), k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** IVF (inverted-file) approximate top-k: coarse centroids partition the
    * corpus into cells; a query scans only its `nprobe` nearest cells.
    * One-shot convenience over [[buildIvfIndex]] + [[ivfQuery]].
    *
    * Corpus passes: 1 (seed) + `refineIters` (k-means) + 1 (assign+scan) —
    * each a map-side pass with no corpus shuffle; the only shuffle in the
    * whole plan is the partitions×queries×k-row top-k merge.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCells: Int = 16, nprobe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              refineIters: Int = 1): DataFrame =
    ivfQuery(buildIvfIndex(corpus, nCells, refineIters, idCol, vecCol),
      queries, k, nprobe, idCol, vecCol)

  /** LSH-bucketed approximate top-k: join queries to corpus rows sharing
    * the same `bits`-bit hyperplane signature, rank by exact cosine within
    * the bucket (two-phase top-k — no per-query global window). Recall is
    * tunable via `bits` (fewer bits → bigger buckets → higher recall, more
    * compute).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, bits: Int = 8,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    lshQuery(buildLshIndex(corpus, bits, idCol, vecCol), queries, k, idCol, vecCol)

  /** A built LSH index: the corpus with its `bits`-bit hyperplane signature
    * (`neighbor_id`, `cv`, `sig`). Build once with [[buildLshIndex]],
    * persist with [[writeLshIndex]] (parquet partitioned BY SIGNATURE, so
    * reopened indexes serve queries with partition-pruned scans — the same
    * index-once/query-many split [[IvfIndex]] has), query many times with
    * [[lshQuery]]. Without the split, repeated-query ANN over a static
    * corpus recomputes every corpus signature per call.
    */
  final case class LshIndex(bits: Int, signed: DataFrame)

  /** Build the LSH index: one map-side pass computes each corpus row's
    * hyperplane signature — no shuffle. */
  def buildLshIndex(corpus: DataFrame, bits: Int = 8,
                    idCol: String = "vec_id", vecCol: String = "embedding"): LshIndex =
    LshIndex(bits, corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      lshSignature(col(vecCol), bits).as("sig")))

  /** Persist an LSH index: the signed corpus as parquet PARTITIONED BY sig
    * (each signature bucket is its own directory), `bits` as a tiny JSON
    * sidecar. With `bits` buckets ≤ 2^bits, keep `bits` small enough that
    * the directory count stays sane (≤ ~2^12). */
  def writeLshIndex(index: LshIndex, path: String): Unit = {
    index.signed.write.mode("overwrite").partitionBy("sig").parquet(s"$path/buckets")
    val spark = index.signed.sparkSession
    val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(s"""{"bits":${index.bits}}""".getBytes("UTF-8"))
    out.close()
  }

  def readLshIndex(spark: org.apache.spark.sql.SparkSession, path: String): LshIndex = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val bits = "\"bits\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json)
      .getOrElse(sys.error(s"malformed LSH index meta at $path: $json")).group(1).toInt
    // `sig` is a PARTITION column whose type comes back from directory-name
    // inference — IntegerType when every written signature happens to fit
    // in an int, LongType otherwise. lshQuery computes LongType signatures,
    // and pruning through an implicit cast is fragile across Spark
    // versions, so pin the partition column to long via a user-specified
    // schema (honored for partition columns — the scan stays a plain
    // long-typed attribute, and PartitionFilters still prune; a cast ON
    // TOP of the inferred column would not be guaranteed to).
    val inferred = spark.read.parquet(s"$path/buckets")
    val pinned = org.apache.spark.sql.types.StructType(inferred.schema.map(f =>
      if (f.name == "sig") f.copy(dataType = org.apache.spark.sql.types.LongType) else f))
    LshIndex(bits, spark.read.schema(pinned).parquet(s"$path/buckets"))
  }

  /** Query a built LSH index: signature each query map-side, statically
    * prune the index to exactly the probed signature buckets (an on-disk
    * index reads ONLY those bucket directories — `PartitionFilters` in the
    * scan), broadcast-join on the signature, exact-cosine rank within the
    * bucket via the bounded-heap top-k. Same routed-side discipline as
    * [[ivfQuery]]: an eager localCheckpoint (never a driver collect of query rows);
    * only the distinct signature set (≤ queries, usually ≪) reaches the
    * driver for the pruning filter.
    */
  def lshQuery(index: LshIndex, queries: DataFrame, k: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // same routed-side discipline as [[ivfQuery]]: eager localCheckpoint —
    // distributed, computed once, lineage-truncated, GC-freed
    val routed = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        lshSignature(col(vecCol), index.bits).as("sig"))
      .localCheckpoint(true)
    val probedSigs = routed.select("sig").distinct().collect().map(_.getLong(0)).toSeq
    val pruned = index.signed.filter(col("sig").isin(probedSigs: _*))

    val scored = broadcast(routed).join(pruned, Seq("sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    topKPerQuery(scored.select("query_id", "neighbor_id", "sim"), k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** SemDeDup-style semantic dedup: within each cluster, drop every row
    * whose embedding has cosine similarity above `tau` to a LOWER-id row of
    * the same cluster (first-id-wins, the [[graft.ops.DedupOps]] keeper
    * convention); rows in singleton clusters and NULL-cluster rows always
    * survive (no cluster → no comparison set). Returns the surviving rows
    * of `df` unchanged.
    *
    * `clusterCol` is caller-supplied: the SemDeDup recipe clusters by
    * k-means over the embeddings (reuse [[ivfBuild]]'s cells at scale —
    * pass its `cell` column); the oracled query uses the argmax dimension
    * (deterministic and SQL-expressible) so survivors verify exactly.
    *
    * Scale shape: the all-pairs comparison is confined WITHIN clusters —
    * the SemDeDup contract (cluster count scales with the corpus, so
    * cluster SIZE stays bounded; k-means with k ∝ N/1000 caps the per-key
    * quadratic at ~10^6 cosines). The join shuffles (id, cluster, vector)
    * rows hashed by cluster — never document text — and the loser set
    * anti-joins back on the id alone. Degenerate clusterings (one giant
    * cluster) are the caller's k-means quality problem, same contract as
    * [[DedupOps.minhashNearDups]]'s `maxBucket`.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               clusterCol: Column, tau: Double): DataFrame = {
    // normalize ONCE per row, not per pair — the per-pair work inside a
    // cluster is then a bare dot product (3x fewer flops through the
    // quadratic join). A zero-norm vector stays all-zero: its dot with
    // anything is 0, never above tau — identical to cosine's 0 contract.
    val vd = transform(col(vecCol), x => x.cast("double"))
    val nrm = sqrt(aggregate(vd, lit(0.0), (a, x) => a + x * x))
    val sides = df.select(col(idCol).cast("long").as("__sid"),
        clusterCol.as("__cl"), vd.as("__vd"), nrm.as("__n"))
      .where(col("__cl").isNotNull)
      .select(col("__sid"), col("__cl"),
        when(col("__n") === 0.0, col("__vd"))
          .otherwise(TextOps.bindOnce(col("__n"))(n =>
            transform(col("__vd"), x => x / n))).as("__v"))
    // fused native dot product (ArrayDotExpr): same left-to-right
    // accumulation as aggregate(zip_with(·,·,*)) — bit-identical results
    // (parity-tested in NativeExpressionSpec) — but one pass with no
    // per-pair intermediate array, which is what the within-cluster
    // quadratic actually spends its time on (measured 60.6 s → 11.2 s,
    // 5.4x, on the 1M-vector/10k-cluster stress)
    val dot = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.ArrayDotExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(col("a.__v")),
        org.apache.spark.sql.GraftSqlBridge.expression(col("b.__v"))))
    val losers = sides.as("a")
      .join(sides.as("b"),
        col("a.__cl") === col("b.__cl") && col("a.__sid") < col("b.__sid"))
      .filter(dot > tau)
      .select(col("b.__sid").as("__loser")).distinct()
    df.join(losers, col(idCol).cast("long") === col("__loser"), "left_anti")
  }
}
