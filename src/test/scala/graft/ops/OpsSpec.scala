package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Correctness of the training-data ops: LSH recall vs brute force, cosine
  * vs manual math, simhash locality, shingles/minhash behavior, media
  * plumbing determinism.
  */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {
  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ops-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docsDf: DataFrame = {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
      "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi")
    val rows = (0 until 120).map { i =>
      val base = (0 until 40).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
      (i.toLong, base)
    }
    // plant near-dups: ids 1000+i are copies of i with one word appended
    val planted = rows.take(30).map { case (i, t) => (1000L + i, t + " omega") }
    spark.createDataFrame(rows ++ planted).toDF("doc_id", "text")
  }

  /** Seeded corpus of exact-duplicate groups chained by near-duplicates
    * (A×5 ~ B×4 ~ C×3 ~ D, each step four words apart; A and C, B and D
    * are below 0.7), an unlinked exact group E×3, four copies of a doc
    * shorter than k = 3 words (empty shingle set) plus one more short doc,
    * and 30 singletons; ids are a shuffled range.
    */
  private def chainedGroupsCorpus(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def words(n: Int) = Vector.fill(n)(s"w${rnd.nextInt(100000)}")
    def replace(doc: Vector[String], from: Int, n: Int) = doc.patch(from, words(n), n)
    val a = words(40)
    val b = replace(a, 36, 4)
    val c = replace(b, 0, 4)
    val d = replace(c, 18, 3)
    val e = words(40)
    val texts = Seq.fill(5)(a) ++ Seq.fill(4)(b) ++ Seq.fill(3)(c) ++ Seq(d) ++ Seq.fill(3)(e) ++
      Seq.fill(4)(Vector("tiny", "doc")) ++ Seq(Vector("tiny")) ++ Seq.fill(30)(words(40))
    val ids = rnd.shuffle((0 until texts.size).map(_.toLong))
    spark.createDataFrame(ids.zip(texts.map(_.mkString(" ")))).toDF("doc_id", "text")
  }

  private def labelSet(cc: DataFrame): Set[(Long, Long)] =
    cc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("dedupCorpus edge list: components equal those of the expanded minhash pairs") {
    def edgeList(docs: DataFrame, threshold: Double) = {
      val (edges, release) = DedupOps.minhashClusterEdges(docs, "doc_id", "text",
        threshold, k = 3, numHashes = 64, bands = 16, maxBucket = Int.MaxValue)
      try edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet finally release()
    }
    Seq(1, 2, 3).foreach { seed =>
      val docs = chainedGroupsCorpus(seed)
      val pairs = DedupOps.minhashNearDups(docs, "doc_id", "text", threshold = 0.7)
      val expected = labelSet(DedupOps.connectedComponents(pairs.select("id_a", "id_b")))
      pairs.unpersist()
      val edges = spark.createDataFrame(edgeList(docs, 0.7).toSeq).toDF("id_a", "id_b")
      val got = labelSet(DedupOps.connectedComponents(edges))
      assert(got == expected, s"seed $seed: missing=${expected -- got} extra=${got -- expected}")
      // the corpus has the planted shape: the A-B-C-D chain is one cluster,
      // E another, and the short docs cluster with nothing
      assert(expected.groupBy(_._2).values.map(_.size).toSeq.sorted == Seq(3, 13),
        s"seed $seed: ${expected.groupBy(_._2)}")
    }

    // one exact group of g members: g - 1 star edges, not g(g - 1)/2 pairs
    val g = 30
    val rnd = new scala.util.Random(7)
    def text() = Vector.fill(20)(s"w${rnd.nextInt(100000)}").mkString(" ")
    val footer = text()
    val docs = spark.createDataFrame((0 until g).map(i => (i.toLong * 3, footer)) ++
        (0 until 10).map(i => (1000L + i, text())))
      .toDF("doc_id", "text")
    assert(edgeList(docs, 0.8) == (1 until g).map(i => (0L, i.toLong * 3)).toSet)
    val pairs = DedupOps.minhashNearDups(docs, "doc_id", "text", threshold = 0.8)
    assert(pairs.count() == g * (g - 1) / 2)
    pairs.unpersist()
  }

  test("asofJoin: inclusive at equal ts, null before first checkpoint, whole-row fill") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)
    val left = spark.createDataFrame(Seq(
      (1L, 10L, ts(5)),   // after cp at 3 -> b
      (2L, 10L, ts(3)),   // EQUAL ts as cp at 3 -> inclusive -> b
      (3L, 10L, ts(1)),   // before any cp -> null
      (4L, 20L, ts(9)),   // other key -> its own cp
      (5L, 30L, ts(9))    // key with no cps at all -> null
    )).toDF("event_id", "user_id", "ts")
    val right = spark.createDataFrame(Seq(
      (10L, ts(2), "a", "x"), (10L, ts(3), "b", null.asInstanceOf[String]),
      (20L, ts(4), "c", "y")
    )).toDF("user_id", "ts", "v1", "v2")
    val r = JoinOps.asofJoin(left, right, "user_id", "ts", Seq("v1", "v2"))
      .collect().map(row => row.getLong(0) ->
        (Option(row.get(row.fieldIndex("v1"))), Option(row.get(row.fieldIndex("v2"))))).toMap
    assert(r(1L) == (Some("b"), None))  // whole row at ts=3 wins: v2 null NOT backfilled from ts=2
    assert(r(2L) == (Some("b"), None))  // inclusive
    assert(r(3L) == (None, None))
    assert(r(4L) == (Some("c"), Some("y")))
    assert(r(5L) == (None, None))
  }

  test("asofJoin plans without a nested-loop or cartesian join") {
    import java.sql.Timestamp
    val left = spark.createDataFrame(Seq((1L, 10L, new Timestamp(0L)))).toDF("event_id", "user_id", "ts")
    val right = spark.createDataFrame(Seq((10L, new Timestamp(0L), 1.0))).toDF("user_id", "ts", "v")
    val plan = JoinOps.asofJoin(left, right, "user_id", "ts", Seq("v"))
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"as-of join must not plan a range/NL join:\n$plan")
  }

  test("connectedComponents: chains, separate components, min-label clusters") {
    // component A: chain 1-2-3-4 (diameter 3 forces multiple rounds);
    // component B: clique-ish 10-11, 11-12, 10-12; isolated edge 20-21
    val pairs = spark.createDataFrame(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)
    )).toDF("id_a", "id_b")
    val cc = DedupOps.connectedComponents(pairs)
    val m = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cc.unpersist()
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents: reliable-checkpoint path labels identically") {
    val pairs = spark.createDataFrame(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L)
    )).toDF("id_a", "id_b")
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    val viaReliable = DedupOps.connectedComponents(pairs, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLocal = DedupOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaReliable == viaLocal)
    assert(viaReliable == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    // the reliable path actually wrote checkpoint data
    val wrote = new java.io.File(dir).listFiles()
    assert(wrote != null && wrote.nonEmpty, s"no checkpoint data under $dir")
  }

  test("connectedComponents: strict mode throws on maxIter exhaustion; status reports it") {
    // a chain of diameter 9 cannot converge in 2 rounds of min-label hops
    val chain = spark.createDataFrame((1L to 9L).map(i => (i, i + 1)))
      .toDF("id_a", "id_b")
    val r = DedupOps.connectedComponentsStatus(chain, maxIter = 2)
    assert(!r.converged && r.iterations == 2)
    intercept[IllegalArgumentException] {
      DedupOps.connectedComponents(chain, maxIter = 2, strict = true)
    }
    // converged graphs report so, and strict passes
    val ok = DedupOps.connectedComponentsStatus(chain, maxIter = 20)
    assert(ok.converged)
    assert(ok.labels.collect().forall(_.getLong(1) == 1L))
  }

  test("connectedComponents: a failing run restores the checkpoint dir and sweeps its cc files") {
    val prev = java.nio.file.Files.createTempDirectory("graft_prev_ckpt").toString
    spark.sparkContext.setCheckpointDir(prev)
    val prevSet = spark.sparkContext.getCheckpointDir.get
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_fail").toString
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new RuntimeException("planted failure"); x
    }.asNondeterministic() // keep the throw at execution, not constant folding
    val pairs = spark.createDataFrame(Seq((1L, 2L), (2L, 3L))).toDF("id_a", "id_b")
      .withColumn("id_a", boom(col("id_a")))
    intercept[Exception] {
      DedupOps.connectedComponentsStatus(pairs, checkpointDir = Some(dir))
    }
    // the session checkpoint dir must NOT stay pointed at the cc-<uuid>
    // subdir: it must be back under the caller's tree (setCheckpointDir
    // appends a fresh UUID level, so assert on the prefix)
    assert(spark.sparkContext.getCheckpointDir.exists(_.startsWith(prevSet)),
      s"checkpoint dir left at ${spark.sparkContext.getCheckpointDir}")
    val left = new java.io.File(dir).listFiles()
    assert(left == null || left.isEmpty,
      s"failed cc run left files: ${Option(left).toSeq.flatten.mkString(", ")}")
  }

  test("dedupCorpus: reliable checkpoint consumed; losers durable; cc files deleted") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dc_ckpt").toString
    val survivors = DedupOps.dedupCorpus(docsDf, "doc_id", "text", threshold = 0.7,
        checkpointDir = Some(dir))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == (0L until 120L).toSet)
    // the cc-<uuid> round files are deleted; what remains is exactly the
    // durable loser id set (parquet under the caller-owned dir — with a
    // reliable-checkpoint intent, an executor lost during the survivor
    // anti-join must not be able to kill the loser lineage)
    val left = Option(new java.io.File(dir).listFiles()).toSeq.flatten.map(_.getName)
    assert(left.forall(_.startsWith("losers-")),
      s"unexpected leftover checkpoint files: ${left.mkString(", ")}")
    assert(left.size == 1, s"expected exactly the durable loser set: $left")
    val loserIds = spark.read.parquet(s"$dir/${left.head}")
      .collect().map(_.getLong(0)).toSet
    assert(loserIds == (0 until 30).map(i => 1000L + i).toSet)
  }

  test("dedupCorpus keepBy: all-null keep keys fall back to min-id instead of keeping everyone") {
    // clusters: {1,2} both null scores -> min-id keeper 1; {10,11} mixed ->
    // the non-null score wins; {20} untouched
    val df = spark.createDataFrame(Seq(
      (1L, "aa bb cc dd ee", null.asInstanceOf[java.lang.Long]),
      (2L, "aa bb cc dd ee", null.asInstanceOf[java.lang.Long]),
      (10L, "ff gg hh ii jj", null.asInstanceOf[java.lang.Long]),
      (11L, "ff gg hh ii jj", java.lang.Long.valueOf(7L)),
      (20L, "zz unrelated doc here", java.lang.Long.valueOf(1L))))
      .toDF("doc_id", "text", "score")
    val survivors = DedupOps.dedupCorpus(df, "doc_id", "text", threshold = 0.8,
        keepBy = Some(col("score")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 11L, 20L), survivors.toString)
  }

  test("dedupCorpus keepBy: generic string-id path applies the identical policy") {
    // every id type takes the same two-aggregate policy; same clusters as
    // the numeric tests: {a1,a2} both null -> min-id keeper a1; {b1,b2}
    // mixed -> non-null score wins (b2); {c1} untouched; {d5,d9} tie on
    // score -> min id d5
    val byString = spark.createDataFrame(Seq(
      ("a1", "aa bb cc dd ee", null.asInstanceOf[java.lang.Long]),
      ("a2", "aa bb cc dd ee", null.asInstanceOf[java.lang.Long]),
      ("b1", "ff gg hh ii jj", null.asInstanceOf[java.lang.Long]),
      ("b2", "ff gg hh ii jj", java.lang.Long.valueOf(7L)),
      ("c1", "zz unrelated doc here", java.lang.Long.valueOf(1L)),
      ("d5", "kk ll mm nn oo", java.lang.Long.valueOf(3L)),
      ("d9", "kk ll mm nn oo", java.lang.Long.valueOf(3L))))
      .toDF("doc_id", "text", "score")
    def survivors(df: DataFrame) = DedupOps.dedupCorpus(df, "doc_id", "text", threshold = 0.8,
        keepBy = Some(col("score")))
      .select(col("doc_id").cast("string")).collect().map(_.getString(0)).toSet
    assert(survivors(byString) == Set("a1", "b2", "c1", "d5"))
    // fractional ids (a1 -> 1.5, b2 -> 12.5, ...): a keeper derived through
    // a long cast would match no member and drop whole clusters
    val fractional = expr("(ascii(doc_id) - 97) * 10 + cast(substr(doc_id, 2) as int) + 0.5")
    Seq("double", "decimal(10,1)").foreach { t =>
      assert(survivors(byString.withColumn("doc_id", fractional.cast(t))) ==
        Set("1.5", "12.5", "21.5", "35.5"), t)
    }
  }

  test("dedupCorpus artifactDir: stages commit, resume consumes them, partials are repaired") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_dc_art").toString
    def survivors() = DedupOps.dedupCorpus(docsDf, "doc_id", "text", threshold = 0.7,
        artifactDir = Some(dir))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val full = survivors()
    assert(full == (0L until 120L).toSet)
    assert(Files.exists(Paths.get(dir, "pairs", "_COMMITTED")))
    assert(Files.exists(Paths.get(dir, "labels", "_COMMITTED")))

    // die-after-pairs resume: drop the labels stage, REPLACE the committed
    // pair artifact with an empty pair list — if the resume really reads
    // the committed pairs (instead of recomputing signatures), every doc
    // survives
    def rmTree(p: String): Unit = {
      val f = new java.io.File(p)
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(c => rmTree(c.getPath))
      f.delete()
    }
    rmTree(s"$dir/labels")
    val emptyPairs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id_a", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("id_b", org.apache.spark.sql.types.LongType))))
    emptyPairs.write.mode("overwrite").parquet(s"$dir/pairs")
    new java.io.File(s"$dir/pairs/_COMMITTED").createNewFile()
    assert(survivors() == (0L until 120L).toSet ++ (0 until 30).map(i => 1000L + i),
      "resume must consume the committed (tampered-empty) pair stage")

    // an UNMARKED pairs stage is a partial write: it must be recomputed,
    // restoring the true survivor set
    rmTree(s"$dir/labels")
    new java.io.File(s"$dir/pairs/_COMMITTED").delete()
    assert(survivors() == full, "unmarked pair stage must be recomputed, not trusted")

    // resuming committed stages under DIFFERENT parameters must fail fast
    // (silently reusing them would return stale results)
    val ex = intercept[IllegalArgumentException] {
      DedupOps.dedupCorpus(docsDf, "doc_id", "text", threshold = 0.9,
        artifactDir = Some(dir))
    }
    assert(ex.getMessage.contains("different parameters"), ex.getMessage)
    // ... but a different KEEPER POLICY legitimately reuses them (the
    // stages are policy-independent)
    val byLen = DedupOps.dedupCorpus(docsDf, "doc_id", "text", threshold = 0.7,
        artifactDir = Some(dir), keepBy = Some(length(col("text"))))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(byLen == (30L until 120L).toSet ++ (0 until 30).map(i => 1000L + i))

    // a committed pairs stage in the older format — every expanded id pair,
    // within exact groups too — has the same components: its resume returns
    // the fresh run's survivors
    val grouped = chainedGroupsCorpus(4)
    val oldDir = Files.createTempDirectory("graft_dc_art_old").toString
    def groupedSurvivors(art: Option[String]) = DedupOps.dedupCorpus(grouped, "doc_id", "text",
        threshold = 0.7, artifactDir = art)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val fresh = groupedSurvivors(None)
    assert(groupedSurvivors(Some(oldDir)) == fresh)
    rmTree(s"$oldDir/labels")
    val expanded = DedupOps.minhashNearDups(grouped, "doc_id", "text", threshold = 0.7)
    assert(expanded.count() > spark.read.parquet(s"$oldDir/pairs").count())
    expanded.select("id_a", "id_b").write.mode("overwrite").parquet(s"$oldDir/pairs")
    expanded.unpersist()
    new java.io.File(s"$oldDir/pairs/_COMMITTED").createNewFile()
    assert(groupedSurvivors(Some(oldDir)) == fresh, "expanded-pairs stage must resume identically")
  }

  test("dedupCorpus keepBy: longest member survives per cluster, min id on ties") {
    // planted 1000+i is i's text plus one word — strictly longer, so the
    // length policy keeps the COPY and drops the original (the min-id
    // default keeps the original: the policies must genuinely differ here)
    val survivors = DedupOps.dedupCorpus(docsDf, "doc_id", "text", threshold = 0.7,
        keepBy = Some(length(col("text"))))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = (30L until 120L).toSet ++ (0 until 30).map(i => 1000L + i)
    assert(survivors == expected,
      s"missing=${expected -- survivors} extra=${survivors -- expected}")
    // exact ties on the keep key fall back to the min id — deterministic
    val tie = spark.createDataFrame(Seq(
      (9L, "aa bb cc dd ee"), (5L, "aa bb cc dd ee"), (7L, "zz unrelated doc")))
      .toDF("doc_id", "text")
    val tied = DedupOps.dedupCorpus(tie, "doc_id", "text", threshold = 0.8,
        keepBy = Some(length(col("text"))))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tied == Set(5L, 7L))
  }

  test("dedupCorpus: keepers are cluster min-ids; untouched docs survive") {
    // planted 1000+i duplicate i (i < 30): clusters {i, 1000+i} keep i;
    // docs 30..119 are in no pair and must all survive untouched
    val survivors = DedupOps.dedupCorpus(docsDf, "doc_id", "text", threshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == (0L until 120L).toSet,
      s"unexpected survivor set: missing=${(0L until 120L).toSet -- survivors} " +
        s"extra=${survivors -- (0L until 120L).toSet}")
    // at threshold 0 every candidate verifies, empty shingle sets included
    intercept[IllegalArgumentException](DedupOps.dedupCorpus(docsDf, "doc_id", "text", threshold = 0))
  }

  test("contamination: guard falls back to a shuffle join with identical results") {
    val bench = docsDf.filter(col("doc_id") < 30)
    val train = docsDf.filter(col("doc_id") >= 1000)
    val viaBroadcast = DedupOps.contamination(train, bench, "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaShuffle = DedupOps.contamination(train, bench, "doc_id", "text", k = 5,
        benchBroadcastLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaBroadcast == viaShuffle)
    assert(viaShuffle.nonEmpty)
  }

  test("contaminationSpans: exact positions and shingles of each hit") {
    val train = spark.createDataFrame(Seq(
      (1L, "aa bb cc dd ee ff"), // hits at pos 0 (aa bb cc) and pos 3 (dd ee ff)
      (2L, "zz yy xx ww vv")     // no hits
    )).toDF("doc_id", "text")
    val bench = spark.createDataFrame(Seq(
      (10L, "aa bb cc qq dd ee ff")
    )).toDF("doc_id", "text")
    val spans = DedupOps.contaminationSpans(train, bench, "doc_id", "text",
        k = 3, hashed = false)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("pos"), r.getAs[String]("sh")))
      .toSet
    assert(spans == Set((1L, 0, "aa bb cc"), (1L, 3, "dd ee ff")))
    // hashed variant flags the same (doc, pos) hits
    val hashedSpans = DedupOps.contaminationSpans(train, bench, "doc_id", "text",
        k = 3, hashed = true)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("pos"))).toSet
    assert(hashedSpans == Set((1L, 0), (1L, 3)))
  }

  test("exactDupReps: linear form agrees with the windowed ranks, plans no window") {
    val df = spark.createDataFrame(Seq(
      (1L, "same text here"), (5L, "same  TEXT  here "), (3L, "same text here"),
      (2L, "unique one"), (9L, "another unique"))).toDF("doc_id", "text")
    // normalization folds 1, 5, 3 into one group (rep 1); others singleton
    val reps = DedupOps.exactDupReps(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(reps == Map(
      1L -> ((1L, 3L, true)), 3L -> ((1L, 3L, false)), 5L -> ((1L, 3L, false)),
      2L -> ((2L, 1L, true)), 9L -> ((9L, 1L, true))))
    // agreement with the windowed form: rank 1 <=> is_keeper, sizes equal
    val ranks = DedupOps.exactDupRanks(df, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("dup_rank"), r.getAs[Long]("group_size")))).toMap
    ranks.foreach { case (id, (rank, size)) =>
      assert((rank == 1) == reps(id)._3 && size == reps(id)._2, s"doc $id")
    }
    // the linear form must not plan a window (that is its whole point)
    val wins = DedupOps.exactDupReps(df, "text", "doc_id").queryExecution.optimizedPlan
      .collect { case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(wins.isEmpty, "exactDupReps must be window-free")
    // null-text docs must not vanish through the null-hostile equi-join:
    // they form their own group (one keeper), like the windowed form's
    // null partition
    val withNulls = spark.createDataFrame(Seq(
      (1L, "x"), (7L, null.asInstanceOf[String]), (8L, null.asInstanceOf[String])))
      .toDF("doc_id", "text")
    val nr = DedupOps.exactDupReps(withNulls, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(nr == Map(1L -> ((1L, 1L, true)), 7L -> ((7L, 2L, true)), 8L -> ((7L, 2L, false))))
  }

  test("contaminationSpans: hashed (the 100 TB default) == string-keyed on the planted corpus") {
    // the counting operator has this equality pinned; the spans operator's
    // hashed path must agree with the string-keyed oracle form on exact
    // (id, pos) hit sets too — planted copies guarantee dense hits
    val bench = docsDf.filter(col("doc_id") < 30)
    val train = docsDf.filter(col("doc_id") >= 1000)
    val exact = DedupOps.contaminationSpans(train, bench, "doc_id", "text",
        k = 5, hashed = false)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("pos"))).toSet
    val hashed = DedupOps.contaminationSpans(train, bench, "doc_id", "text",
        k = 5, hashed = true)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("pos"))).toSet
    assert(exact == hashed,
      s"only-exact=${(exact -- hashed).take(5)} only-hashed=${(hashed -- exact).take(5)}")
    // every planted copy hits at many positions (its source is in bench)
    (0 until 30).foreach { i =>
      assert(exact.count(_._1 == 1000L + i) > 20, s"planted ${1000 + i} under-flagged")
    }
  }

  test("LSH index build/write/read/query: reopened index answers identically with partition-pruned scans") {
    val rnd = new scala.util.Random(29)
    val vecs = (0 until 150).map { i =>
      val c = i % 6
      val center = Array.tabulate(8)(d => math.sin(c * 11 + d).toFloat * 2f)
      (i.toLong, center.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f).toSeq)
    }
    val corpus = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 6)

    val direct = SimOps.lshTopK(queries, corpus, k = 2, bits = 5)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap

    val dir = java.nio.file.Files.createTempDirectory("graft_lsh").toString
    val index = SimOps.buildLshIndex(corpus, bits = 5)
    SimOps.writeLshIndex(index, dir)
    val reopened = SimOps.readLshIndex(spark, dir)
    assert(reopened.bits == 5)
    // the sig partition column must come back LONG (as written), not the
    // directory-name-inferred int — pruning must not ride on implicit casts
    assert(reopened.signed.schema("sig").dataType ==
      org.apache.spark.sql.types.LongType, reopened.signed.schema.treeString)

    val result = SimOps.lshQuery(reopened, queries, k = 2)
    val viaDisk = result.collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    assert(viaDisk == direct)

    // the on-disk index must serve queries via partition-pruned scans of
    // only the probed signature buckets (non-empty PartitionFilters on sig)
    val plan = result.queryExecution.executedPlan.toString()
    assert("PartitionFilters: \\[[^\\]]*sig".r.findFirstIn(plan).isDefined,
      s"expected a non-empty sig partition filter in the index scan:\n$plan")
  }

  test("ivfQuery routes queries through checkpointed distributed blocks, not the driver") {
    // the routed side must reach the join via its localCheckpoint blocks
    // (a Scan ExistingRDD over the truncated lineage), never as a
    // driver-rebuilt LocalTableScan of query rows — the shape that would
    // serialize a large query batch through the driver. The corpus fixture
    // is itself a local relation, so assert on the routed columns
    // specifically: no LocalTableScan carrying the routed (cell, qv) side.
    val rnd = new scala.util.Random(31)
    val vecs = (0 until 120).map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat() - 0.5f)))
    val corpus = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val index = SimOps.buildIvfIndex(corpus, nCells = 6)
    val queries = corpus.filter(col("vec_id") < 5)
    val result = SimOps.ivfQuery(index, queries, k = 2, nprobe = 2)
    val plan = result.queryExecution.executedPlan.toString()
    assert(plan.contains("ExistingRDD"),
      s"routed query side must come from checkpointed distributed blocks:\n$plan")
    assert(!"LocalTableScan.*\\bqv\\b".r.unanchored.matches(plan),
      s"routed query rows must not round-trip through the driver:\n$plan")
    assert(result.count() == 10)
  }

  test("stableSplit: deterministic, partition-independent, percentages honored") {
    val rnd = new scala.util.Random(5)
    val texts = (0 until 2000).map(i => (i.toLong, s"doc ${rnd.nextInt(1000000)} body $i"))
    def run(parts: Int) = spark.createDataFrame(texts).toDF("id", "t").repartition(parts)
      .select(col("id"), TextOps.stableSplit(col("t")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = run(2)
    assert(a == run(13)) // content-only assignment: layout cannot change it
    val frac = a.values.groupBy(identity).view.mapValues(_.size / 2000.0).toMap
    assert(math.abs(frac("train") - 0.90) < 0.03, frac.toString)
    assert(math.abs(frac.getOrElse("val", 0.0) - 0.05) < 0.02, frac.toString)
    assert(math.abs(frac.getOrElse("test", 0.0) - 0.05) < 0.02, frac.toString)
    // same content -> same split, always
    val dup = spark.createDataFrame(Seq((1L, "same text"), (2L, "same text"))).toDF("id", "t")
      .select(TextOps.stableSplit(col("t"))).collect().map(_.getString(0)).toSet
    assert(dup.size == 1)
  }

  test("duplicateSpans: maximal merged regions, within-doc repeats, true gaps, hashed==string") {
    // docs 1 and 2 share "p q r s t u v" (7 tokens -> five 3-gram windows
    // at pos 2..6 of doc 1 -> span [2, 8]); doc 3 repeats its own phrase
    // back to back (abutting coverage merges into ONE region); doc 4
    // clean; docs 5+6 share two snippets separated by a REAL gap (> k
    // uncovered tokens) -> two disjoint spans
    val df = spark.createDataFrame(Seq(
      (1L, "a b p q r s t u v c d"),
      (2L, "x p q r s t u v y z w"),
      (3L, "m n o e f m n o e f g"),
      (4L, "one two three four five six seven eight"),
      (5L, "s1 s2 s3 gapa gapb gapc gapd gape t1 t2 t3"),
      (6L, "s1 s2 s3 xgapa xgapb xgapc xgapd xgape t1 t2 t3"))).toDF("doc_id", "text")
    val spans = DedupOps.duplicateSpans(df, "doc_id", "text", k = 3, minCount = 2,
        hashed = false)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(spans.contains((1L, 2, 8)), spans.toString)
    assert(spans.contains((2L, 1, 7)), spans.toString)
    // doc3: windows at 0,1,2 and 5,6,7 — coverage [0,4] and [5,9] abuts
    // (gap 5-2 == k), so ONE maximal region [0,9], not two overlapping-
    // or-adjacent rows
    assert(spans.contains((3L, 0, 9)), spans.toString)
    assert(spans.count(_._1 == 3L) == 1, spans.toString)
    assert(!spans.exists(_._1 == 4L), spans.toString)
    // docs 5/6: "s1 s2 s3" at pos 0, "t1 t2 t3" at pos 8 — gap 8 > k,
    // stays TWO disjoint spans; no overlapping rows anywhere
    assert(spans.contains((5L, 0, 2)) && spans.contains((5L, 8, 10)), spans.toString)
    val byDoc = spans.groupBy(_._1)
    byDoc.values.foreach { ss =>
      val sorted = ss.toSeq.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(b._2 > a._3, s"overlapping spans: $a $b")
        case _ =>
      }
    }
    // hashed variant flags identical spans on this corpus
    val hashed = DedupOps.duplicateSpans(df, "doc_id", "text", k = 3, minCount = 2,
        hashed = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(hashed == spans)
    intercept[IllegalArgumentException] {
      DedupOps.duplicateSpans(df, "doc_id", "text", k = 3, minCount = 1)
    }
  }

  test("duplicateSpans skewSafe: identical detections and strips under both plans") {
    // the skew-safe (agg+join-back) plan must be a pure plan change: same
    // spans, same stripped text, for both key representations
    val df = spark.createDataFrame(Seq(
      (1L, "a b p q r s t u v c d"),
      (2L, "x p q r s t u v y z w"),
      (3L, "m n o e f m n o e f g"),
      (4L, "one two three four five six seven eight"),
      (5L, "s1 s2 s3 gapa gapb gapc gapd gape t1 t2 t3"),
      (6L, "s1 s2 s3 xgapa xgapb xgapc xgapd xgape t1 t2 t3"))).toDF("doc_id", "text")
    for (h <- Seq(false, true)) {
      val spansDefault = DedupOps.duplicateSpans(df, "doc_id", "text", k = 3,
          minCount = 2, hashed = h, skewSafe = false)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      val spansSafe = DedupOps.duplicateSpans(df, "doc_id", "text", k = 3,
          minCount = 2, hashed = h, skewSafe = true)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      assert(spansSafe == spansDefault, s"hashed=$h")
      val stripDefault = DedupOps.stripDuplicateSpans(df, "doc_id", "text", k = 3,
          minCount = 2, hashed = h, skewSafe = false)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
      val stripSafe = DedupOps.stripDuplicateSpans(df, "doc_id", "text", k = 3,
          minCount = 2, hashed = h, skewSafe = true)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
      assert(stripSafe == stripDefault, s"hashed=$h")
    }
  }

  test("stripDuplicateSpans: flagged regions scrubbed everywhere, clean docs untouched, counts exact") {
    val df = spark.createDataFrame(Seq(
      (1L, "a b p q r s t u v c d"),
      (2L, "x p q r s t u v y z w"),
      (3L, "m n o e f m n o e f g"),
      (4L, "one two three four five six seven eight"))).toDF("doc_id", "text")
    val r = DedupOps.stripDuplicateSpans(df, "doc_id", "text", k = 3, minCount = 2,
        hashed = false)
      .collect().map(row => row.getLong(0) ->
        ((row.getString(1), row.getInt(2), row.getInt(3)))).toMap
    assert(r(1L) == (("a b c d", 11, 7)))       // span [2,8] removed
    assert(r(2L) == (("x y z w", 11, 7)))       // span [1,7] removed
    assert(r(3L) == (("g", 11, 10)))            // merged span [0,9] removed
    assert(r(4L) == (("one two three four five six seven eight", 8, 0)))
  }

  test("dedupLines: first occurrence kept, order preserved, non-adjacent repeats removed") {
    val df = spark.createDataFrame(Seq(
      (1L, "nav\nbody one\nnav\nbody two\nbody one\nfooter"),
      (2L, "only\none\nof\neach"),
      (3L, "same\nsame\nsame"),
      (4L, "single"))).toDF("id", "t")
    val r = df.select(col("id"), TextOps.dedupLines(col("t")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(r(1L) == "nav\nbody one\nbody two\nfooter")
    assert(r(2L) == "only\none\nof\neach")
    assert(r(3L) == "same")
    assert(r(4L) == "single")
  }

  test("canonicalizeUrl: each rule and their composition") {
    val cases = Seq(
      // fragment drop + host lowercase + www strip
      "HTTP://WWW.ExAmple.CoM/Path#frag" -> "http://example.com/Path",
      // default ports strip, non-default kept
      "http://a.com:80/x" -> "http://a.com/x",
      "https://a.com:443/x" -> "https://a.com/x",
      "http://a.com:8080/x" -> "http://a.com:8080/x",
      "https://a.com:80/x" -> "https://a.com:80/x", // :80 is NOT https default
      "http://a.com:80:80/x" -> "http://a.com:80:80/x", // malformed: no partial peel
      // utm params dropped; fully-utm query loses the '?'
      "http://a.com/p?utm_source=x&id=5&utm_c=2" -> "http://a.com/p?id=5",
      "http://a.com/p?utm_only=1" -> "http://a.com/p",
      // trailing path slashes stripped, path case preserved
      "http://a.com/Some/Path///" -> "http://a.com/Some/Path",
      // bare host
      "http://a.com" -> "http://a.com",
      // query with trailing-slash path
      "http://a.com/p/?id=3" -> "http://a.com/p?id=3")
    val df = spark.createDataFrame(cases.zipWithIndex.map { case ((u, _), i) => (i, u) })
      .toDF("i", "u")
    val got = df.select(col("i"), TextOps.canonicalizeUrl(col("u")).as("c"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((u, want), i) =>
      assert(got(i) == want, s"$u -> ${got(i)} (want $want)")
    }
  }

  test("canonicalizeUrl and dedupLines: never throw and are idempotent on adversarial input") {
    val rnd = new scala.util.Random(73)
    val weird = Seq("", "   ", "#", "?", "http://", "://x", "a//b//", "?utm_=&&",
      "HTTP://a.com/redirect=http://b.com?utm_a=1#x#y", "http://a.com:80:80/x",
      "\nhttp://x\n", "utm_source=1", "https://:443", "http://a.com/?",
      "http://a.com?utm_a=1", "a b", "🎉://emoji.path/☃?utm_☃=1")
    val fuzz = (0 until 200).map { _ =>
      (0 until rnd.nextInt(40)).map(_ =>
        "ab:/?#&=._%\\\n\tXY №".charAt(rnd.nextInt(18))).mkString
    }
    val rows = (weird ++ fuzz).zipWithIndex.map { case (u, i) => (i.toLong, u) }
    val df = spark.createDataFrame(rows).toDF("id", "u")
    // one pass (must not throw), then a second pass over the output: the
    // canonical form must be a fixed point, and line-dedup likewise
    val once = df.select(col("id"), TextOps.canonicalizeUrl(col("u")).as("c"),
        TextOps.dedupLines(col("u")).as("d"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    val again = spark.createDataFrame(once.toSeq.map { case (i, (c, d)) => (i, c, d) })
      .toDF("id", "c", "d")
      .select(col("id"), TextOps.canonicalizeUrl(col("c")).as("c2"),
        TextOps.dedupLines(col("d")).as("d2"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    once.foreach { case (i, (c, d)) =>
      assert(again(i)._1 == c, s"canonicalizeUrl not idempotent on ${rows(i.toInt)._2}: '$c' -> '${again(i)._1}'")
      assert(again(i)._2 == d, s"dedupLines not idempotent on ${rows(i.toInt)._2}")
    }
  }

  test("packChunks: every doc in one bin, budgets respected, greedy order, determinism") {
    val rnd = new scala.util.Random(17)
    val docs = (0 until 500).map(i => (i.toLong, 10 + rnd.nextInt(90)))
    val df = spark.createDataFrame(docs).toDF("doc_id", "n_tok")
    def run(parts: Int) = PackOps.packChunks(df.repartition(parts), "doc_id", "n_tok",
        budget = 128, groupSize = 50)
      .collect().map(p => p.doc_id -> ((p.grp, p.bin, p.cum_tok))).toMap
    val got = run(3)
    assert(got == run(11)) // layout-independent
    assert(got.keySet == docs.map(_._1).toSet) // total: every doc exactly once
    // replay the greedy fold per group and compare exactly
    docs.groupBy(_._1 / 50).foreach { case (grp, members) =>
      var bin = 0; var cum = 0
      members.sortBy(_._1).zipWithIndex.foreach { case ((id, tok), i) =>
        if (i == 0) cum = tok
        else if (cum + tok > 128) { bin += 1; cum = tok }
        else cum += tok
        assert(got(id) == ((grp, bin, cum)), s"doc $id")
      }
    }
    // an oversized single doc occupies its own bin rather than vanishing
    val big = spark.createDataFrame(Seq((0L, 50), (1L, 999), (2L, 50))).toDF("doc_id", "n_tok")
    val packed = PackOps.packChunks(big, "doc_id", "n_tok", budget = 100, groupSize = 10)
      .collect().map(p => p.doc_id -> p.bin).toMap
    assert(packed == Map(0L -> 0, 1L -> 1, 2L -> 2))
  }

  test("pii signals and redaction: counts, order of redaction, no false hits") {
    val df = spark.createDataFrame(Seq(
      (1L, "mail me at a.b+c@test.org or see https://x.test/path?id=12345678 code 99887766"),
      (2L, "no pii here just words"),
      (3L, "short 123 number and user@host") // no TLD match, short digits
    )).toDF("id", "t")
    val r = df.select(
        col("id") +: TextOps.piiSignals(col("t")).map { case (n, c) => c.as(n) } :+
          TextOps.redactPii(col("t")).as("red"): _*)
      .collect().map(row => row.getLong(0) ->
        (row.getInt(1), row.getInt(2), row.getInt(3), row.getString(4))).toMap
    // counts run on the RAW text: the url's 8-digit id also counts as a
    // long digit run (2 total with the trailing code)
    assert(r(1L)._1 == 1 && r(1L)._2 == 1 && r(1L)._3 == 2)
    // url redacted whole (digits inside swallowed by <URL>), then free digits -> <NUM>
    assert(r(1L)._4 == "mail me at <EMAIL> or see <URL> code <NUM>")
    assert(r(2L) == ((0, 0, 0, "no pii here just words")))
    assert(r(3L)._1 == 0 && r(3L)._3 == 0)
  }

  test("IVF index build/write/read/query: reopened index answers identically with partition-pruned scans") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 200).map(i => (i.toLong, Seq.fill(16)(rnd.nextFloat() - 0.5f)))
    val corpus = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 8)

    val direct = SimOps.ivfTopK(queries, corpus, k = 3, nCells = 8, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap

    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    val index = SimOps.buildIvfIndex(corpus, nCells = 8)
    SimOps.writeIvfIndex(index, dir)
    val reopened = SimOps.readIvfIndex(spark, dir)
    assert(reopened.centroids.length == index.centroids.length)
    assert(reopened.centroids.flatten.toSeq == index.centroids.flatten.toSeq)

    val result = SimOps.ivfQuery(reopened, queries, k = 3, nprobe = 3)
    val viaDisk = result.collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    assert(viaDisk == direct)

    // the on-disk index must serve the query with partition-pruned scans:
    // only the probed cell directories are read — a NON-EMPTY
    // PartitionFilters list naming cell (the bare `PartitionFilters: []`
    // that every file scan prints must not satisfy this)
    val plan = result.queryExecution.executedPlan.toString()
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"expected a non-empty cell partition filter in the index scan:\n$plan")
  }

  test("contamination: hashed and string-keyed variants agree; planted overlap found") {
    // planted docs (1000+i copies of i with one word appended) share
    // nearly all 5-grams with their originals: put originals in "bench"
    val bench = docsDf.filter(col("doc_id") < 30)
    val train = docsDf.filter(col("doc_id") >= 1000)
    val exact = DedupOps.contamination(train, bench, "doc_id", "text", k = 5, hashed = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hashed = DedupOps.contamination(train, bench, "doc_id", "text", k = 5, hashed = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact == hashed)
    // every planted copy of a bench doc must be flagged with many hits
    (0 until 30).foreach { i =>
      assert(exact.getOrElse(1000L + i, 0L) > 20, s"planted ${1000 + i} not flagged")
    }
  }

  test("shingles: k-grams, short docs yield empty array") {
    val df = spark.createDataFrame(Seq((1L, "a b c d"), (2L, "a b"), (3L, ""))).toDF("id", "t")
    val r = df.select(col("id"), TextOps.shingles(col("t"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(r(1L) == Seq("a b c", "b c d"))
    assert(r(2L).isEmpty)
    assert(r(3L).isEmpty)
  }

  test("minhash LSH finds all planted near-dups (recall) with verified jaccard") {
    val pairs = DedupOps.minhashNearDups(docsDf, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 30).map(i => (i.toLong, 1000L + i)).toSet
    assert(expected.subsetOf(pairs), s"missing: ${expected -- pairs}")
    // and no wildly-false positives: every reported pair really has j>=0.7
    val verified = DedupOps.jaccardVerify(
      DedupOps.minhashCandidates(docsDf, "doc_id", "text"), docsDf, "doc_id", "text")
      .filter(col("jaccard") >= 0.7).count()
    assert(verified == pairs.size)
  }

  test("simhash: planted near-dups collide with small hamming distance") {
    val pairs = DedupOps.simhashNearDups(docsDf, "doc_id", "text", maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 30).map(i => (i.toLong, 1000L + i)).toSet
    val found = expected.intersect(pairs)
    assert(found.size >= 25, s"simhash recall too low: ${found.size}/30")
  }

  test("cosine matches manual computation") {
    val df = spark.createDataFrame(Seq(
      (1L, Seq(1.0f, 0.0f, 2.0f), Seq(2.0f, 1.0f, 0.0f)))).toDF("id", "a", "b")
    val sim = df.select(SimOps.cosine(col("a"), col("b"))).head().getDouble(0)
    val expected = 2.0 / (math.sqrt(5.0) * math.sqrt(5.0))
    assert(math.abs(sim - expected) < 1e-12)
  }

  test("brute-force top-k agrees with driver-side exact computation") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 60).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f)))
    val df = spark.createDataFrame(vecs.map { case (i, v) => (i, v.toSeq) }).toDF("vec_id", "embedding")
    val topk = SimOps.bruteForceTopK(df.filter(col("vec_id") < 5), df, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap

    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    for (q <- 0 until 5) {
      val qv = vecs(q)._2
      val expected = vecs.filter(_._1 != q)
        .map { case (i, v) => (i, cos(qv, v)) }
        .sortBy { case (i, s) => (-s, i) }.take(3).map(_._1)
      val actual = (1 to 3).map(r => topk((q.toLong, r)))
      assert(actual == expected, s"query $q")
    }
  }

  test("LSH top-k returns true neighbors from the same bucket (sanity + recall bound)") {
    val rnd = new scala.util.Random(3)
    // clustered vectors: 10 clusters of 12, so bucket-mates are near
    val vecs = (0 until 120).map { i =>
      val c = i % 10
      val center = Array.tabulate(8)(d => math.sin(c * 8 + d).toFloat * 2f)
      (i.toLong, center.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f).toSeq)
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val res = SimOps.lshTopK(df.filter(col("vec_id") < 10), df, k = 1, bits = 4)
      .collect()
    // every query found a neighbor, and it's from the query's own cluster
    assert(res.length == 10)
    res.foreach { r =>
      assert(r.getLong(0) % 10 == r.getLong(1) % 10,
        s"query ${r.getLong(0)} got cross-cluster neighbor ${r.getLong(1)}")
    }
  }

  test("media pipeline: deterministic features, frames, kinds") {
    val docs = spark.createDataFrame(Seq((0L, "abc"), (1L, "defg"), (2L, "hi"))).toDF("doc_id", "text")
    val feats1 = MediaOps.extractFeatures(MediaOps.synthesize(docs)).collect().sortBy(_.media_id)
    val feats2 = MediaOps.extractFeatures(MediaOps.synthesize(docs)).collect().sortBy(_.media_id)
    assert(feats1.map(_.features.toSeq).toSeq == feats2.map(_.features.toSeq).toSeq)
    assert(feats1.map(_.kind).toSeq == Seq("image", "audio", "video"))
    assert(feats1.forall(_.n_bytes > 0))
    val frames = MediaOps.sampleFrames(MediaOps.synthesize(docs)).collect()
    assert(frames.nonEmpty)
  }

  test("IVF top-k finds same-cluster neighbors with bounded cell scans") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 160).map { i =>
      val c = i % 8
      val center = Array.tabulate(8)(d => math.cos(c * 8 + d).toFloat * 2f)
      (i.toLong, center.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f).toSeq)
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val res = SimOps.ivfTopK(df.filter(col("vec_id") < 8), df, k = 3, nCells = 8, nprobe = 3)
      .collect()
    assert(res.length == 8 * 3)
    // top-1 neighbor must be from the query's own cluster
    res.filter(_.getInt(2) == 1).foreach { r =>
      assert(r.getLong(0) % 8 == r.getLong(1) % 8,
        s"query ${r.getLong(0)} top-1 from wrong cluster: ${r.getLong(1)}")
    }
  }

  test("image resize stub: metadata updated, payload scaled, deterministic") {
    val docs = spark.createDataFrame(
      Seq((0L, "x" * 300), (3L, "y" * 90), (1L, "z" * 50))).toDF("doc_id", "text")
    val media = MediaOps.synthesize(docs) // doc_id 0,3 -> image
    val resized = MediaOps.resizeImages(media, 32, 32).collect().sortBy(_.media_id)
    val orig = media.collect().sortBy(_.media_id)
    resized.zip(orig).foreach { case (r, o) =>
      if (o.kind == "image") {
        assert(r.width == 32 && r.height == 32)
        assert(r.payload.length <= o.payload.length && r.payload.length > 0)
      } else {
        assert(r.payload.sameElements(o.payload))
      }
    }
    val again = MediaOps.resizeImages(media, 32, 32).collect().sortBy(_.media_id)
    assert(resized.map(_.payload.toSeq).toSeq == again.map(_.payload.toSeq).toSeq)
  }

  test("langIdNgram separates languages incl. unsegmented-ish text") {
    val df = spark.createDataFrame(Seq(
      (1L, "the thing and the other thing is going to be for the win"),
      (2L, "der hund und die katze sind nicht schlecht und das ist einfach"),
      (3L, "le chat et la chose que nous pouvons faire pour une ion"),
      (4L, "qqqq wwww rrrr"))).toDF("id", "text")
    val r = df.select(col("id"), TextOps.langIdNgram(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(r(1L) == "en"); assert(r(2L) == "de"); assert(r(3L) == "fr"); assert(r(4L) == "und")
  }

  test("dedup-first: 2000 identical docs never reach the band join; planted near-dups survive") {
    val boiler = (0 until 2000).map(i => (10000L + i, "the same boilerplate page body " * 8))
    val all = docsDf.union(spark.createDataFrame(boiler).toDF("doc_id", "text"))
    val t0 = System.nanoTime()
    val pairs = DedupOps.minhashNearDups(all, "doc_id", "text", threshold = 0.7, maxBucket = 500)
    val planted = (0 until 30).map(i => (i.toLong, 1000L + i)).toSet
    val got = pairs.filter(col("id_a") < 10000).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.subsetOf(got), s"missing planted: ${planted -- got}")
    // within-group expansion yields exactly C(2000,2) exact-dup pairs at jaccard 1
    val dupPairs = pairs.filter(col("id_a") >= 10000).count()
    assert(dupPairs == 2000L * 1999 / 2, s"dup pairs: $dupPairs")
    assert(pairs.filter(col("id_a") >= 10000 && col("jaccard") =!= 1.0).count() == 0)
    pairs.unpersist()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 120, s"dedup-first run took ${sec}s — band join likely exploded")
  }

  test("bucket guard accounting: tripping the guard in minhashNearDups completes and logs") {
    // 40 near-identical (NOT fingerprint-equal) docs form residual hot
    // buckets that survive dedup-first; a tiny cap must trip the skipped-
    // pair accounting path without crashing (regression: the sum used to
    // come back as a Double and blow up toString.toLong)
    val hot = (0 until 40).map(i => (5000L + i, s"the same boilerplate sentence repeated $i"))
    val df = docsDf.union(spark.createDataFrame(hot).toDF("doc_id", "text"))
    val pairs = DedupOps.minhashNearDups(df, "doc_id", "text", threshold = 0.7, maxBucket = 5)
    pairs.count() // must not throw
    pairs.unpersist()
  }

  test("bucket guard drops oversized residual buckets, keeps small ones") {
    // 40 docs with the same single shingle-ish text land in one hot bucket
    val hot = (0 until 40).map(i => (5000L + i, s"common phrase here unique$i"))
    val df = docsDf.union(spark.createDataFrame(hot).toDF("doc_id", "text"))
    val capped = DedupOps.minhashCandidates(df, "doc_id", "text", maxBucket = 8).count()
    val uncapped = DedupOps.minhashCandidates(df, "doc_id", "text").count()
    assert(capped <= uncapped)
  }

  test("topKPerQuery matches a window top-k exactly incl. ties") {
    import org.apache.spark.sql.expressions.Window
    val rows = for (q <- 0L until 4L; n <- 0L until 50L)
      yield (q, n, math.floor(math.sin(q * 50 + n) * 5) / 5.0) // many exact ties
    val scored = spark.createDataFrame(rows).toDF("query_id", "neighbor_id", "sim")
      .repartition(7)
    val got = SimOps.topKPerQuery(scored, 5)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> (r.getLong(1), r.getDouble(3))).toMap
    val want = scored.withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= 5)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == want)
  }

  test("IVF with k-means refinement: recall@1 >= 0.9 vs brute force on clustered corpus") {
    val rnd = new scala.util.Random(19)
    val vecs = (0 until 200).map { i =>
      val c = i % 10
      val center = Array.tabulate(8)(d => math.sin(c * 13 + d).toFloat * 2f)
      (i.toLong, center.map(x => x + (rnd.nextFloat() - 0.5f) * 0.2f).toSeq)
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 20)
    val exact = SimOps.bruteForceTopK(queries, df, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = SimOps.ivfTopK(queries, df, k = 1, nCells = 10, nprobe = 2, refineIters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = exact.count { case (q, n) => approx.get(q).contains(n) }
    assert(hits >= 18, s"recall@1 too low: $hits/20")
  }

  test("ivfTopK is deterministic across parallelism / partition layouts") {
    val rnd = new scala.util.Random(23)
    val vecs = (0 until 150).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f).toSeq))
    def run(parts: Int): Seq[(Long, Long, Int)] = {
      val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding").repartition(parts)
      SimOps.ivfTopK(df.filter(col("vec_id") < 10), df, k = 3, nCells = 8, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    }
    assert(run(2) == run(11))
  }

  test("langId separates languages on running text") {
    val df = spark.createDataFrame(Seq(
      (1L, "the cat sat of the mat and it is a good day for all"),
      (2L, "der hund ist nicht mit der katze und das ist zu viel den"),
      (3L, "le chat est dans la maison et les oiseaux pour que des"),
      (4L, "xyzzy qwerty plugh"))).toDF("id", "text")
    val r = df.select(col("id"), TextOps.langId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(r(1L) == "en"); assert(r(2L) == "de"); assert(r(3L) == "fr"); assert(r(4L) == "und")
  }
}
