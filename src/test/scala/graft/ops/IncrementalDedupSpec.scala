package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental (batch-vs-index) near-dup: results must equal the full-run
  * pair set restricted to batch-involving pairs, multi-batch appends must
  * compose, torn (unmarked) appends must be invisible, and the scale
  * contract — the index's band rows never shuffle and no text column
  * crosses an exchange — must hold in the executed plan.
  */
class IncrementalDedupSpec extends AnyFunSuite with SparkSuite {
  /** Word soup from a per-doc seeded RNG: deterministic, and pairwise
    * organic shingle jaccard ≈ 0 (a stride-based construction instead
    * shares long token runs between docs — shifted progressions).
    */
  private def soup(i: Int): String = {
    val r = new scala.util.Random(i)
    Iterator.fill(25)(s"w${r.nextInt(100000)}").mkString(" ")
  }
  /** A near-dup of soup(i): one token changed → shingle jaccard ≥ 0.8. */
  private def nearDup(i: Int): String =
    soup(i).split(' ').dropRight(1).mkString(" ") + " zzz"

  private def toDf(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text").repartition(3)
  }

  // old corpus: 60 distinct docs + an OLD-internal dup pair (7, 107)
  private def oldCorpus(): DataFrame =
    toDf((0 until 60).map(i => (i.toLong, soup(i))) :+ (107L, nearDup(7)))
  // batch: 5 cross dups of old 10..14, one internal twin pair, one fresh doc
  private def batch(): DataFrame =
    toDf((0 until 5).map(i => (200L + i, nearDup(10 + i))) ++
      Seq((210L, soup(300) + " twinmark"), (211L, soup(300) + " twinmark"),
          (220L, soup(400))))

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

  test("incremental pairs equal the full-run restriction to batch-involving pairs") {
    val dir = tmp("graft_inc1")
    DedupOps.writeMinhashIndex(oldCorpus(), "doc_id", "text", dir,
      k = 3, numHashes = 512, bands = 64)
    val inc = pairSet(DedupOps.incrementalNearDups(batch(), "doc_id", "text",
      dir, oldCorpus(), threshold = 0.5))
    assert(inc == Set((10L, 200L), (11L, 201L), (12L, 202L), (13L, 203L),
      (14L, 204L), (210L, 211L)), inc.toString)
    // independent ground truth: the FULL pipeline over old ∪ batch,
    // restricted to pairs with a batch member — and the old-internal pair
    // (7, 107) must appear there but NOT incrementally
    val full = pairSet(DedupOps.minhashNearDups(
      oldCorpus().union(batch()), "doc_id", "text",
      threshold = 0.5, numHashes = 512, bands = 64))
    assert(full.contains((7L, 107L)) && !inc.contains((7L, 107L)))
    assert(inc == full.filter { case (a, b) => a >= 200 || b >= 200 })
  }

  test("appended batches compose: a later batch dupes against an earlier one") {
    val dir = tmp("graft_inc2")
    DedupOps.writeMinhashIndex(oldCorpus(), "doc_id", "text", dir,
      k = 3, numHashes = 512, bands = 64)
    DedupOps.appendMinhashIndex(batch(), "doc_id", "text", dir, "day1")
    // day2 carries a dup of day1's fresh doc 220 and a dup of old doc 20
    val day2 = toDf(Seq((300L, nearDup(400)), (301L, nearDup(20))))
    val inc = pairSet(DedupOps.incrementalNearDups(day2, "doc_id", "text",
      dir, oldCorpus().union(batch()), threshold = 0.5))
    assert(inc == Set((220L, 300L), (20L, 301L)), inc.toString)
    intercept[IllegalArgumentException] {
      DedupOps.appendMinhashIndex(day2, "doc_id", "text", dir, "day1")
    }
  }

  test("a torn (unmarked) append is invisible to queries") {
    val dir = tmp("graft_inc3")
    DedupOps.writeMinhashIndex(oldCorpus(), "doc_id", "text", dir,
      k = 3, numHashes = 512, bands = 64)
    val torn = toDf(Seq((500L, soup(77) + " tornmark")))
    DedupOps.appendMinhashIndex(torn, "doc_id", "text", dir, "torn")
    val marker = new org.apache.hadoop.fs.Path(dir, "_COMMITTED_torn")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(marker, false)
    // a batch that twins the torn doc finds NOTHING through the index
    val probe = toDf(Seq((600L, soup(77) + " tornmark")))
    val inc = pairSet(DedupOps.incrementalNearDups(probe, "doc_id", "text",
      dir, oldCorpus(), threshold = 0.5))
    assert(inc.isEmpty, inc.toString)
  }

  test("filterUnseen: index hits, batch-internal first-wins, null text, torn append") {
    val dir = tmp("graft_fp1")
    DedupOps.writeFingerprintIndex(oldCorpus(), "doc_id", "text", dir)
    val s = spark; import s.implicits._
    val b = Seq[(Long, String)](
      (600L, soup(3)),            // exact re-crawl of old doc 3 -> dropped
      (601L, soup(3) + " x"),     // near-but-not-exact -> kept (exact stage)
      (602L, soup(901)), (603L, soup(901)), // internal twins -> 602 kept
      (604L, null)                // null text -> kept (never "seen")
    ).toDF("doc_id", "text")
    val kept = DedupOps.filterUnseen(b, "doc_id", "text", dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(601L, 602L, 604L), kept.toString)
    // append day1, then day2 sees day1's docs; a torn day2 stays invisible
    DedupOps.appendFingerprintIndex(b, "doc_id", "text", dir, "day1")
    intercept[IllegalArgumentException] {
      DedupOps.appendFingerprintIndex(b, "doc_id", "text", dir, "day1")
    }
    val day2 = Seq((700L, soup(901)), (701L, soup(902))).toDF("doc_id", "text")
    val kept2 = DedupOps.filterUnseen(day2, "doc_id", "text", dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(701L), kept2.toString)
    DedupOps.appendFingerprintIndex(day2, "doc_id", "text", dir, "torn2")
    val m = new org.apache.hadoop.fs.Path(dir, "_COMMITTED_torn2")
    m.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(m, false)
    val probe = Seq((800L, soup(902))).toDF("doc_id", "text")
    val kept3 = DedupOps.filterUnseen(probe, "doc_id", "text", dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept3 == Set(800L), kept3.toString)
  }

  test("streaming ingest loop: foreachBatch exact-filter -> near-dup -> index append") {
    // the operational composition a daily/streaming ingest runs per
    // micro-batch: drop exact re-crawls through the fingerprint index,
    // near-dup the remainder against the band index, then append both
    // indexes — so later micro-batches dedup against earlier ones without
    // any corpus re-scan. Both indexes advance in lockstep per batch.
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fpDir = tmp("graft_ing_fp")
    val mhDir = tmp("graft_ing_mh")
    DedupOps.writeFingerprintIndex(oldCorpus(), "doc_id", "text", fpDir)
    DedupOps.writeMinhashIndex(oldCorpus(), "doc_id", "text", mhDir,
      k = 3, numHashes = 512, bands = 64)
    var corpus = oldCorpus().localCheckpoint(true)
    val ingested = scala.collection.mutable.ArrayBuffer.empty[Long]
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = input.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val fresh = DedupOps.filterUnseen(batch, "doc_id", "text", fpDir)
          .localCheckpoint(true) // two index writes + pair scan: evaluate once
        pairs ++= pairSet(DedupOps.incrementalNearDups(fresh, "doc_id", "text",
          mhDir, corpus, threshold = 0.5))
        DedupOps.appendFingerprintIndex(fresh, "doc_id", "text", fpDir, s"b$batchId")
        DedupOps.appendMinhashIndex(fresh, "doc_id", "text", mhDir, s"b$batchId")
        corpus = corpus.union(fresh.select("doc_id", "text")).localCheckpoint(true)
        ingested ++= fresh.select("doc_id").collect().map(_.getLong(0))
        ()
      }
      .start()
    // batch 0: an exact re-crawl (dropped pre-index), a near-dup of old 10,
    // and a fresh doc
    input.addData((200L, soup(5)), (201L, nearDup(10)), (202L, soup(500)))
    q.processAllAvailable()
    // batch 1: an exact re-crawl OF BATCH 0's fresh doc (the fingerprint
    // index advanced) and a near-dup of it (the band index advanced)
    input.addData((300L, soup(500)), (301L, nearDup(500)))
    q.processAllAvailable()
    q.stop()
    assert(ingested.toSet == Set(201L, 202L, 301L), ingested.toString)
    assert(pairs.toSet == Set((10L, 201L), (202L, 301L)), pairs.toString)
  }

  private def collectPlan(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => collectPlan(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => collectPlan(q.plan)
      case other => Seq(other)
    }
    self ++ p.children.flatMap(collectPlan)
  }

  /** A 32-row index in which every band of soup(900) is one 12-row bucket. */
  private def hotIndex(prefix: String): (String, DataFrame) = {
    val dir = tmp(prefix)
    val corpus = toDf((0 until 20).map(i => (i.toLong, soup(i))) ++
      (0 until 12).map(i => (500L + i, soup(900))))
    DedupOps.writeMinhashIndex(corpus, "doc_id", "text", dir, k = 3, numHashes = 64, bands = 16)
    (dir, corpus)
  }

  private def guardWarnings(batch: DataFrame, dir: String, corpus: DataFrame)
      : (Set[(Long, Long)], Seq[String]) = {
    var pairs = Set.empty[(Long, Long)]
    val warned = graft.LogCapture.messages("graft.dedup") {
      pairs = pairSet(DedupOps.incrementalNearDups(batch, "doc_id", "text", dir, corpus,
        threshold = 0.5, maxBucket = 5))
    }.filter(_.startsWith("incrementalNearDups: bucket guard"))
    (pairs, warned)
  }

  test("incremental bucket guard counts the skips of the buckets a batch meets") {
    val (dir, corpus) = hotIndex("graft_inc5")
    // one more copy of the hot text meets the index only in its 16 hot
    // buckets, each holding 12 index rows × 1 batch row
    val (pairs, warned) = guardWarnings(toDf(Seq((600L, soup(900)), (601L, soup(901)))), dir, corpus)
    assert(pairs.isEmpty, pairs.toString)
    assert(warned.size == 1, warned)
    assert(warned.head.contains("maxBucket=5") && warned.head.contains("skipped 16 buckets") &&
      warned.head.contains("up to 192 candidate pairs"), warned)
  }

  test("incremental bucket guard is quiet for a batch that misses every hot bucket") {
    val (dir, corpus) = hotIndex("graft_inc6")
    val (pairs, warned) = guardWarnings(
      toDf(Seq((600L, nearDup(3)), (601L, soup(901)), (602L, soup(902)))), dir, corpus)
    assert(pairs == Set((3L, 600L)), pairs.toString)
    assert(warned.isEmpty, warned)
  }

  test("plan: the index's band rows never shuffle and text never crosses an exchange") {
    val dir = tmp("graft_inc4")
    // un-repartitioned inputs: any exchange in this plan is the operator's
    // own doing, not the harness's repartition(3)
    val s = spark
    import s.implicits._
    val old = (0 until 60).map(i => (i.toLong, soup(i))).toDF("doc_id", "text")
    val nw = ((0 until 5).map(i => (200L + i, nearDup(10 + i))) ++
      Seq((220L, soup(400)))).toDF("doc_id", "text")
    DedupOps.writeMinhashIndex(old, "doc_id", "text", dir,
      k = 3, numHashes = 512, bands = 64)

    // candidate stage (pre-checkpoint — the public operator eagerly
    // checkpoints it, which hides this subtree from its final plan): the
    // index scan must feed a BroadcastHashJoin directly as the STREAM side
    // — the corpus-scale band rows go map-side through the candidate join
    val candStage = DedupOps.incrementalCandidates(nw, "doc_id", "text", dir)
    candStage.collect() // AQE-final plan
    val candNodes = collectPlan(candStage.queryExecution.executedPlan)
    val indexScans = candNodes.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains(dir)) => f
    }
    assert(indexScans.nonEmpty, "expected a parquet scan of the index")
    assert(candNodes.exists {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        collectPlan(b.left).exists(indexScans.contains)
      case _ => false
    }, s"index scan not the stream side of a broadcast join:\n${candStage.queryExecution.executedPlan}")

    // full operator: verification must prune the corpus to candidate ids
    // BEFORE shingling (broadcast LEFT-SEMI at the text scans — O(cands)
    // shingle work, never a full-corpus shingle pass), and shuffles may
    // carry only narrow derived rows — never band rows or document text
    val df = DedupOps.incrementalNearDups(nw, "doc_id", "text",
      dir, old, threshold = 0.5)
    df.collect() // AQE-final plan
    val nodes = collectPlan(df.queryExecution.executedPlan)
    val semiJoins = nodes.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if b.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => b
    }
    assert(semiJoins.nonEmpty,
      s"no candidate-id broadcast semi-join in:\n${df.queryExecution.executedPlan}")
    val shuffles = nodes.collect { case s: ShuffleExchangeExec => s }
    for (s <- shuffles; attr <- s.output)
      assert(attr.name != "text" && attr.name != "band" && attr.name != "bucket",
        s"wide column '${attr.name}' crosses an exchange: ${s.output.mkString(", ")}")
  }
}
