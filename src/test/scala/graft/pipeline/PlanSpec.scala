package graft.pipeline

import graft.{SparkEntry, SparkSuite}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the properties that matter at 100 TB must be
  * visible in the plan, not assumed: no shuffle in the extraction hot path,
  * broadcast joins for small dimensions, column pruning reaching the scan.
  */
class PlanSpec extends AnyFunSuite with SparkSuite {
  override protected def conf = Map("spark.sql.warehouse.dir" ->
    java.nio.file.Files.createTempDirectory("graft_wh").toString)
  private val sfDir = "/root/testdata/sf0.001"

  private def collectPlan(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => collectPlan(a.executedPlan)
      // AQE stage wrappers are leaves whose real subtree hangs off .plan
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => collectPlan(q.plan)
      case other => Seq(other)
    }
    self ++ p.children.flatMap(collectPlan)
  }

  test("extraction pipeline plans with zero shuffles") {
    val plan = ExtractJob.extract(TranscriptGen.turns(spark, 1000, 42, 4))
      .queryExecution.executedPlan
    val shuffles = collectPlan(plan).collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty, s"extraction must not shuffle:\n$plan")
  }

  test("pdf synthesize+extract plans with zero shuffles (pure mapPartitions)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = graft.ops.PdfOps.extractText(graft.ops.PdfOps.synthesize(docs))
      .queryExecution.executedPlan
    val shuffles = collectPlan(plan).collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty, s"pdf extraction must not shuffle:\n$plan")
  }

  test("dimension join is broadcast, not shuffled") {
    val df = SparkEntry.queries("q_join_segment_sales")(spark, sfDir)
    df.collect() // let AQE finalize
    val s = df.queryExecution.executedPlan.toString() // includes query stages
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast hash join:\n$s")
    assert(!s.contains("SortMergeJoin"), s"dimension join degraded to SMJ:\n$s")
  }

  test("column pruning reaches the parquet scan") {
    val df = SparkEntry.queries("q_topk_docs")(spark, sfDir)
    val scans = df.queryExecution.executedPlan.toString()
    // only the two selected columns should be read
    assert(scans.contains("ReadSchema"), scans)
    val readSchema = scans.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("doc_id") && readSchema.contains("n_chars")
      && !readSchema.contains("text"), readSchema)
  }

  test("filter pushdown reaches the parquet scan") {
    val df = spark.read.parquet(s"$sfDir/embeddings.parquet").filter("vec_id < 25")
    val s = df.queryExecution.executedPlan.toString()
    assert(s.contains("PushedFilters") && s.contains("LessThan(vec_id,25)"), s)
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    import org.apache.spark.sql.functions._
    val turns = TranscriptGen.turns(spark, 2000, 42, 4).toDF()
    val stats = turns.groupBy("conv_id").agg(count(lit(1)).as("n"))
    turns.write.mode("overwrite").bucketBy(8, "conv_id").sortBy("conv_id")
      .saveAsTable("turns_b")
    stats.write.mode("overwrite").bucketBy(8, "conv_id").saveAsTable("stats_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1) // force non-broadcast
    try {
      val joined = spark.table("turns_b").join(spark.table("stats_b"), "conv_id")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10485760)
      spark.sql("DROP TABLE IF EXISTS turns_b")
      spark.sql("DROP TABLE IF EXISTS stats_b")
    }
  }

  test("IVF cell assignment is map-side: zero shuffles over the corpus") {
    import graft.ops.SimOps
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vec_id as neighbor_id", "embedding as cv")
    val centroids = Array.fill(4)(Array.tabulate(64)(_.toDouble / 64))
    val assigned = SimOps.assignCells(corpus, centroids)
    val shuffles = collectPlan(assigned.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty, s"IVF assignment must not shuffle:\n${assigned.queryExecution.executedPlan}")
  }

  test("ANN top-k plans contain no window (two-phase partial top-k instead)") {
    import graft.ops.SimOps
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    for (df <- Seq(
        SimOps.bruteForceTopK(e.filter(col("vec_id") < 5), e, k = 2),
        SimOps.lshTopK(e.filter(col("vec_id") < 5), e, k = 2, bits = 4),
        SimOps.ivfTopK(e.filter(col("vec_id") < 5), e, k = 2, nCells = 4, nprobe = 2))) {
      val s = df.queryExecution.executedPlan.toString()
      assert(!s.contains("Window"), s"global window in ANN plan:\n$s")
      assert(s.contains("partial_topk_by_score"),
        s"expected partial bounded-heap top-k aggregation stage:\n$s")
    }
  }

  test("near-dup rep derivation shuffles no text: every exchange is text-free") {
    import graft.ops.DedupOps
    import org.apache.spark.sql.types.StringType
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // The only string allowed across ANY exchange in the signature/collapse
    // stage is the 32-char fingerprint; the raw text column must stay
    // inside the scan stage (the round-2 design shuffled min(text) per fp).
    for (repAgg <- Seq(
        DedupOps.minhashRepAgg(docs, "doc_id", "text", k = 3, numHashes = 64, bands = 16),
        DedupOps.simhashRepAgg(docs, "doc_id", "text"))) {
      // inspect the initial physical plan (pre-AQE staging) so the
      // ShuffleExchangeExec nodes are still direct tree members
      val exchanges = collectPlan(repAgg.queryExecution.executedPlan)
        .collect { case s: ShuffleExchangeExec => s }
      assert(exchanges.nonEmpty, "expected the fp-collapse exchange")
      for (ex <- exchanges; attr <- ex.output) {
        assert(attr.name != "text" && attr.name != "t" && attr.name != "txt",
          s"text column crosses an exchange: ${ex.output.mkString(", ")}")
        if (attr.dataType == StringType)
          assert(attr.name.startsWith("fp"),
            s"unexpected string-typed column '${attr.name}' crosses an exchange " +
              s"(only the fingerprint may): ${ex.output.mkString(", ")}")
      }
    }
  }

  test("contamination plans a broadcast join: the corpus side never shuffles") {
    import graft.ops.DedupOps
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    import org.apache.spark.sql.functions.col
    val df = DedupOps.contamination(
      docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "text", k = 5)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark shingle set must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"contamination join degraded to a corpus shuffle:\n$plan")
  }

  test("AQE splits the skewed join partition on the generator's planted 100x conversation") {
    import org.apache.spark.sql.functions._
    // conv 0 carries ~half the rows of a 30k-turn block; join turns to
    // per-conversation stats with broadcast disabled so the shuffle join's
    // skewed partition is visible to AQE's skew-join rule
    // 16 shuffle partitions so the hot conversation's reducer stands alone
    // against the median (at 4, every partition carries a similar share of
    // the non-hot convs and the byte-level skew is only ~1.1x median)
    val confs = Seq(
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // ONE generator block: its single hot conversation holds half the
      // rows, so its reducer partition is ~15x the median. The
      // incompressible per-row digest keeps shuffle BYTES proportional to
      // row counts (the repetitive markup otherwise compresses ~14x inside
      // the hot partition and flattens the byte-level skew AQE measures).
      val turns = TranscriptGen.turns(spark, TranscriptGen.BlockTurns, 42, 8).toDF()
        .withColumn("pad", sha2(concat_ws("|", col("conv_id"),
          col("turn_idx"), col("text")), 512))
      // stats pre-materialized to a local table: OptimizeSkewedJoin only
      // matches Sort(ShuffleStage) join children — an aggregate between
      // sort and stage (as in the lazy groupBy lineage) defeats the rule
      val statsRows = turns.groupBy("conv_id").agg(count(lit(1)).as("n_turns"))
      val stats = spark.createDataFrame(
        java.util.Arrays.asList(statsRows.collect(): _*), statsRows.schema)
      val joined = turns.join(stats, "conv_id")
      joined.collect() // finalize AQE on THIS QueryExecution
      val s = joined.queryExecution.executedPlan.toString()
      assert(s.contains("skew=true"),
        s"AQE did not split the skewed join partition:\n$s")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("dedupCorpus survivor filter: loser side broadcast, ZERO corpus exchanges") {
    import graft.ops.DedupOps
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = DedupOps.dedupCorpus(docs, "doc_id", "text", threshold = 0.5)
    df.collect() // finalize AQE
    val nodes = collectPlan(df.queryExecution.executedPlan)
    // the loser set is counted and explicitly broadcast (guarded), so the
    // survivor anti-join is a broadcast join AND the corpus side streams
    // straight from the scan — no shuffle exchange anywhere in the plan.
    // (Relying on AQE's runtime SMJ->BHJ conversion would still write the
    // corpus-side shuffle files first — at 100 TB that IS the cost.)
    assert(nodes.exists {
      case b: BroadcastHashJoinExec => b.joinType.toString == "LeftAnti"
      case _ => false
    }, s"expected a broadcast left-anti survivor join:\n${df.queryExecution.executedPlan}")
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.isEmpty,
      s"survivor filtering must not shuffle the corpus:\n${df.queryExecution.executedPlan}")
  }

  test("dedupCorpus clusters on star edges: no within-group self-join, no cross expansion") {
    import graft.ops.DedupOps
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualTo, Expression, LessThan}
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def attrs(a: Expression, b: Expression, name: String) =
      (a, b) match {
        case (x: AttributeReference, y: AttributeReference) => x.name == name && y.name == name
        case _ => false
      }
    // the within-group clique: a self-join on rep = rep with id < id
    def withinGroupJoins(p: LogicalPlan) = p.collect {
      case j @ Join(_, _, _, Some(cond), _)
          if cond.exists { case EqualTo(a, b) => attrs(a, b, "rep"); case _ => false } &&
            cond.exists { case LessThan(a, b) => attrs(a, b, "id"); case _ => false } => j
    }
    // the rep-pair to member-pair expansion: members aliased ma / mb
    def crossAliases(p: LogicalPlan) = p.flatMap(_.expressions.flatMap(_.collect {
      case a: Alias if a.name == "ma" || a.name == "mb" => a.name
    }))
    // positive control: the public pair list takes both expansions
    val expanded = DedupOps.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
    try {
      assert(withinGroupJoins(expanded.queryExecution.analyzed).nonEmpty)
      assert(crossAliases(expanded.queryExecution.analyzed).toSet == Set("ma", "mb"))
    } finally expanded.unpersist()
    val (edges, release) = DedupOps.minhashClusterEdges(docs, "doc_id", "text",
      threshold = 0.5, k = 3, numHashes = 64, bands = 16, maxBucket = Int.MaxValue)
    try {
      val plan = edges.queryExecution.analyzed
      assert(withinGroupJoins(plan).isEmpty, s"within-group self-join on the clustering path:\n$plan")
      assert(crossAliases(plan).isEmpty, s"cross expansion on the clustering path:\n$plan")
    } finally release()
  }

  /** The shuffle exchanges of `plan` that write the signature aggregate
    * grouped on `keys` (its map side signs every row), and the reused
    * exchanges that read one of them.
    */
  private def sigAggExchanges(plan: SparkPlan, keys: Seq[String]): (Seq[SparkPlan], Seq[SparkPlan]) = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    def isSigAgg(p: SparkPlan) = p match {
      case a: HashAggregateExec =>
        a.groupingExpressions.map(_.name) == keys && a.aggregateExpressions.forall(_.mode == Partial)
      case _ => false
    }
    // the nodes of one stage: no descent past an exchange or a stage
    def inStage(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: Exchange | _: QueryStageExec => Nil
      case other => other.children.flatMap(inStage)
    })
    def writesSig(e: SparkPlan) = e.children.flatMap(inStage).exists(isSigAgg)
    val nodes = collectPlan(plan)
    (nodes.collect { case s: ShuffleExchangeExec if writesSig(s) => s },
      nodes.collect { case r: ReusedExchangeExec if writesSig(r.child) => r })
  }

  test("dedupCorpus edge list computes the signature aggregate once: its readers reuse the exchange") {
    import graft.ops.DedupOps
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val (edges, release) = DedupOps.minhashClusterEdges(docs, "doc_id", "text",
      threshold = 0.5, k = 3, numHashes = 64, bands = 16, maxBucket = Int.MaxValue)
    try {
      edges.collect() // let AQE finalize, with its stage reuse
      val plan = edges.queryExecution.executedPlan
      val (sigExchanges, reused) = sigAggExchanges(plan, Seq("fp", "bh", "nsh"))
      // a branch that plans the aggregate's input differently (a filter
      // pushed below it) gets an exchange of its own and signs every row again
      assert(sigExchanges.size == 1,
        s"${sigExchanges.size} signature-aggregate exchanges, want 1:\n$plan")
      assert(reused.nonEmpty, s"no reader reuses the signature-aggregate exchange:\n$plan")
    } finally release()
  }

  test("minhashNearDups and simhashNearDups write their signature-aggregate exchange once") {
    import graft.ops.DedupOps
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.functions.col
    // with exact copies, so that no branch of the pair list is empty (AQE
    // would drop an empty branch, and its exchange, from the final plan)
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val docs = corpus.union(corpus.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    for ((name, pairs, keys) <- Seq(
        ("minhashNearDups", () => DedupOps.minhashNearDups(docs, "doc_id", "text", threshold = 0.5),
          Seq("fp", "bh", "nsh")),
        ("simhashNearDups", () => DedupOps.simhashNearDups(docs, "doc_id", "text"),
          Seq("fp", "sim")))) {
      val result = pairs()
      try {
        // the returned frame is materialized: its plan is the one that filled the cache
        val plan = collectPlan(result.queryExecution.executedPlan)
          .collectFirst { case s: InMemoryTableScanExec => s.relation.cachedPlan }.get
        val (sigExchanges, reused) = sigAggExchanges(plan, keys)
        // one reader with a column the others prune (a group count) plans an
        // aggregate of its own, and signs every row a second time
        assert(sigExchanges.size == 1,
          s"$name: ${sigExchanges.size} signature-aggregate exchanges, want 1:\n$plan")
        assert(reused.nonEmpty, s"$name: no reader reuses the signature-aggregate exchange:\n$plan")
      } finally result.unpersist()
    }
  }

  test("dedupCorpus hands CC a checkpointed leaf: its rounds never reach the corpus") {
    import graft.ops.DedupOps
    import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    // a parquet corpus with planted near-duplicates (a one-word suffix)
    val rnd = new scala.util.Random(3)
    val bases = Vector.fill(60)(Vector.fill(30)(s"w${rnd.nextInt(2000)}").mkString(" "))
    val dir = java.nio.file.Files.createTempDirectory("graft_lineage").toString
    spark.createDataFrame(bases.indices.map(i => (i.toLong, bases(i))) ++
        (0 until 20).map(i => (100L + i, bases(i) + " tail")))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    def isMarker(qe: QueryExecution) = qe.analyzed.output.exists(_.name == "__marker")
    spark.listenerManager.register(listener)
    try {
      val survivors = DedupOps.dedupCorpus(spark.read.parquet(dir), "doc_id", "text")
      assert(survivors.count() == 60)
      // listener events arrive asynchronously but in order: once the marker
      // query's has arrived, so have those of every earlier query
      spark.range(1).toDF("__marker").collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(e => isMarker(e._2)) && System.nanoTime() < deadline)
        Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    // the edge hand-off, every CC round and the loser set, in run order
    val checkpoints = seen.asScala.toSeq.takeWhile(e => !isMarker(e._2))
      .collect { case (f, qe) if f == "localCheckpoint" => qe.analyzed.collectLeaves() }
    assert(checkpoints.head.exists(!_.isInstanceOf[LogicalRDD]), "the hand-off reads the corpus")
    // no parquet scan, no front-half cache: every leaf behind CC's rounds
    // and the loser set is a checkpoint
    checkpoints.tail.zipWithIndex.foreach { case (leaves, i) =>
      assert(leaves.forall(_.isInstanceOf[LogicalRDD]),
        s"checkpoint ${i + 1} reaches past the hand-off: ${leaves.map(_.nodeName).mkString(", ")}")
    }
    assert(checkpoints.size >= 4, s"${checkpoints.size} checkpoints: hand-off, 2+ rounds, losers")
  }

  test("composed pretrain e2e final plan: no text column crosses an exchange") {
    import org.apache.spark.sql.types.StringType
    // the three heaviest stages (dedup signatures, CC, contamination) run
    // eagerly while the query is BUILT; the returned frame is the
    // contamination broadcast + survivor anti-join + ordering — the
    // text-free-exchange property must hold there too (the upstream
    // stages have their own PlanSpec/OpsSpec pins)
    val df = SparkEntry.queries("q_pretrain_e2e")(spark, sfDir)
    val exchanges = collectPlan(df.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeExec => s }
    for (ex <- exchanges; attr <- ex.output) {
      assert(attr.name != "text",
        s"text column crosses an exchange: ${ex.output.mkString(", ")}")
      if (attr.dataType == StringType)
        assert(attr.name != "stripped_text" && !attr.name.contains("text"),
          s"unexpected text-like string column '${attr.name}' crosses an exchange")
    }
  }

  test("MinHash signature passes run native expressions: no Scala UDF, no interpreted transform") {
    import graft.ops.DedupOps
    import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, Expression, ScalaUDF}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    for (df <- Seq(
        DedupOps.minhashRepAgg(docs, "doc_id", "text", k = 3, numHashes = 64, bands = 16),
        DedupOps.bandedRows(docs, "doc_id", "text", k = 3, numHashes = 64, bands = 16))) {
      val exprs: Seq[Expression] = df.queryExecution.optimizedPlan
        .flatMap(_.expressions.flatMap(_.collect { case e => e }))
      val names = exprs.map(_.getClass.getSimpleName).toSet
      assert(names.contains("ShinglesExpr") && names.contains("MinhashBandsExpr"), names)
      val interpreted = exprs.collect { case e: ScalaUDF => e; case e: ArrayTransform => e }
      assert(interpreted.isEmpty, s"interpreted expressions in:\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("whole-stage codegen covers the text-analysis operators") {
    val df = SparkEntry.queries("q_docs_quality")(spark, sfDir)
    df.collect() // finalize AQE so codegen stages appear
    // codegen'd operators carry a *(n) stage prefix in the plan string
    val s = df.queryExecution.executedPlan.toString()
    assert(s.contains("*("), s)
  }

  test("LM scoring: count tables broadcast, text never crosses an exchange") {
    import graft.ops.LmOps
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val (bi, uni, v) = LmOps.bigramLm(docs, "text")
    val (ng, ctxT, v3) = LmOps.ngramLm(docs, "text", n = 3)
    // BOTH orders: the bigram public path and the order-n general path
    for (scored <- Seq(
        LmOps.perplexityBits(docs, "doc_id", "text", bi, uni, v),
        LmOps.perplexityBitsN(docs, "doc_id", "text", ng, ctxT, v3, n = 3))) {
      val planStr = scored.queryExecution.executedPlan.toString
      val plan = collectPlan(scored.queryExecution.executedPlan)
      // the two model joins must be broadcast (bounded clean-reference
      // contract) — a shuffle join here re-partitions the scored corpus
      val bhj = plan.collect { case b: BroadcastHashJoinExec => b }
      assert(bhj.size >= 2,
        s"expected both count-table joins broadcast:\n$planStr")
      // the only exchange is the per-document aggregation, and it carries
      // (doc_id, count, decimal sum) — never the text column
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty, "expected the per-doc aggregation exchange")
      for (e <- exchanges; attr <- e.output)
        assert(attr.name != "text",
          s"text crosses an exchange: ${e.output.mkString(", ")}\n$planStr")
    }
  }
}
