package graft.streaming

import java.sql.Timestamp

import graft.SparkSuite
import graft.core.TagAttributes
import graft.pipeline.{ExtractJob, TranscriptGen, Turn}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Streaming path equality: the stream must produce exactly the batch
  * results per turn; stateful conversation tracking must accumulate across
  * micro-batches.
  */
class StreamingSpec extends AnyFunSuite with SparkSuite {
  override protected def cores: Int = 2

  private def turnsData(from: Long, until: Long): Seq[Turn] =
    (from until until).map(g => TranscriptGen.turnAt(g, 42))

  test("streaming extraction equals batch extraction per turn") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingExtract.extractStream(input.toDS())
      .writeStream.format("memory").queryName("stream_out")
      .outputMode(OutputMode.Append()).start()

    input.addData(turnsData(0, 300): _*)
    q.processAllAvailable()
    input.addData(turnsData(300, 600): _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("stream_out")
      .select("conv_id", "turn_idx", "plain_text", "html").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getString(2), r.getString(3)))).toMap
    assert(streamed.size == 600)
    turnsData(0, 600).foreach { t =>
      val e = ExtractJob.extractTurn(t, TagAttributes.bbcodeCanonical)
      assert(streamed((t.conv_id, t.turn_idx)) == ((e.plain_text, e.html)), s"${t.conv_id}/${t.turn_idx}")
    }
  }

  test("streaming main-content extraction equals the pure core per turn") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingExtract.mainContentStream(input.toDS())
      .writeStream.format("memory").queryName("mc_stream_out")
      .outputMode(OutputMode.Append()).start()

    val pages = (0 until 200).map { i =>
      val body = s"the main body of page $i " * 8
      Turn(s"c${i % 10}", i / 10, "user",
        s"""<html><body><header>Hdr</header><article>$body</article><footer>Ftr</footer></body></html>""",
        "none", new java.sql.Timestamp(1700000000000L + i))
    }
    input.addData(pages: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("mc_stream_out")
      .select("conv_id", "turn_idx", "main_text", "parse_error").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getString(2), r.getString(3)))).toMap
    assert(streamed.size == 200)
    pages.foreach { t =>
      val expected = graft.core.ContentExtract.mainContent(t.text)
      assert(streamed((t.conv_id, t.turn_idx)) == ((expected, null)), s"${t.conv_id}/${t.turn_idx}")
      assert(!expected.contains("Hdr"))
    }
  }

  /** With ProcessingTimeTimeout active the engine keeps scheduling batches
    * to fire pending timeouts, so `processAllAvailable` never settles —
    * poll the sink with a deadline instead.
    */
  private def waitFor(what: String)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis + 60000
    while (!cond && System.currentTimeMillis < deadline) Thread.sleep(100)
    assert(cond, s"timed out waiting for: $what")
  }

  test("stateful conversation tracking accumulates across micro-batches") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingExtract.conversationState(input.toDS())
      .writeStream.format("memory").queryName("conv_state")
      .outputMode(OutputMode.Update()).start()
    try {
      val conv = "convA"
      def t(i: Int, text: String) = Turn(conv, i, "user", text, "", new Timestamp(1700000000000L + i))
      input.addData(t(0, "ab"), t(1, "cde"))
      waitFor("first batch")(spark.table("conv_state").count() >= 1)
      input.addData(t(2, "f"))
      waitFor("accumulated state") {
        spark.table("conv_state").collect()
          .exists(r => r.getString(0) == conv && r.getLong(1) == 3L)
      }
      val last = spark.table("conv_state").collect()
        .filter(_.getString(0) == conv).maxBy(_.getLong(1))
      assert(last.getLong(1) == 3L)    // turns
      assert(last.getLong(2) == 6L)    // chars 2+3+1
      assert(last.getInt(3) == 2)      // last idx
    } finally q.stop()
  }

  test("idle conversations are evicted from the state store (closed row emitted)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingExtract.conversationState(input.toDS(), idleTimeout = "1 second")
      .writeStream.format("memory").queryName("conv_timeout")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(Turn("convIdle", 0, "user", "hi", "", new Timestamp(1700000000000L)))
      // the idle timeout fires on an engine-scheduled batch — no new data needed
      waitFor("eviction row") {
        spark.table("conv_timeout").collect()
          .exists(r => r.getString(0) == "convIdle" && r.getBoolean(4))
      }
      val closed = spark.table("conv_timeout").collect()
        .filter(r => r.getString(0) == "convIdle" && r.getBoolean(4))
      assert(closed.head.getLong(1) == 1L)
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingExtract.windowedConvStats(input.toDS(), "1 minute", "10 seconds")
      .writeStream.format("memory").queryName("late_out")
      .outputMode(OutputMode.Update()).start()

    val base = 1700000000000L
    def t(conv: String, offMs: Long) = Turn(conv, 0, "user", "x", "", new Timestamp(base + offMs))
    input.addData(t("on1", 0), t("on2", 5000))
    q.processAllAvailable() // watermark advances to max(ts) - 10s
    // 10 minutes older than the watermark: must be dropped, not aggregated
    input.addData(t("late", -600000))
    q.processAllAvailable()
    // new on-time row still lands
    input.addData(t("on3", 8000))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("late_out").collect()
    assert(!rows.exists(_.getString(1) == "late"),
      s"late row leaked past the watermark: ${rows.mkString(";")}")
    assert(rows.map(_.getAs[Long]("n_turns")).max >= 1L)
  }

  test("streaming dedup drops same-fingerprint turns across micro-batches") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingExtract.dedupStream(input.toDS(), lateness = "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      def t(conv: String, i: Int, text: String, off: Long) =
        Turn(conv, i, "user", text, "", new Timestamp(1700000000000L + off))
      input.addData(t("c1", 0, "Hello  World", 0), t("c2", 0, "unique one", 1000))
      q.processAllAvailable()
      // same normalized content (case/whitespace differences) in a later
      // batch within the watermark: must be dropped
      input.addData(t("c3", 0, "hello world", 2000), t("c4", 0, "another new", 3000))
      q.processAllAvailable()
      q.stop()
      val texts = spark.table("dedup_out").collect().map(_.getAs[String]("text")).sorted
      assert(texts.toSeq == Seq("Hello  World", "another new", "unique one"), texts.mkString("|"))
    } finally if (q.isActive) q.stop()
  }

  test("streaming dedup keeps distinct null-text turns (null keys must not collapse)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingExtract.dedupStream(input.toDS())
      .writeStream.format("memory").queryName("dedup_null_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Turn("c1", 0, "user", null, "", new Timestamp(1700000000000L)),
        Turn("c2", 0, "user", null, "", new Timestamp(1700000001000L)))
      q.processAllAvailable()
      q.stop()
      assert(spark.table("dedup_null_out").count() == 2)
    } finally if (q.isActive) q.stop()
  }

  test("streaming near-dup: planted pairs across micro-batches are found, state bounded") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
      "theta", "iota", "kappa", "lambda", "mu")
    val base = (0 until 20).map { i =>
      (i.toLong, (0 until 30).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    def t(off: Long) = new Timestamp(1700000000000L + off)

    val q = StreamingExtract.nearDupStream(
        input.toDF().toDF("doc_id", "text", "ts"), threshold = 0.8)
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: originals
      input.addData(base.map { case (i, txt) => (i, txt, t(i)) }: _*)
      q.processAllAvailable()
      // batch 2: near-copies of the first 8 docs (one word appended) plus
      // fresh unrelated docs — pairs must be detected ACROSS batches
      val copies = base.take(8).map { case (i, txt) => (1000L + i, txt + " omega", t(100 + i)) }
      val fresh = (50L until 55L).map(i =>
        (i, (0 until 30).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "), t(200 + i)))
      input.addData(copies ++ fresh: _*)
      q.processAllAvailable()
      q.stop()

      val hits = spark.table("neardup_out").collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      val expected = (0 until 8).map(i => (i.toLong, 1000L + i)).toSet
      assert(expected.subsetOf(hits), s"missing planted pairs: ${expected -- hits}")
      // word-soup docs must not collide at threshold 0.8
      val falsePos = hits -- expected
      assert(falsePos.isEmpty, s"false positives: $falsePos")
    } finally if (q.isActive) q.stop()
  }

  test("streaming near-dup: bucket-state eviction past the watermark horizon") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val text = "the exact same body of text repeated verbatim every time here"
    def t(off: Long) = new Timestamp(1700000000000L + off)
    // 1-second horizon: a dup arriving long after the original's bucket
    // was evicted must NOT pair with it
    val q = StreamingExtract.nearDupStream(
        input.toDF().toDF("doc_id", "text", "ts"), threshold = 0.8, latenessMs = 1000L)
      .writeStream.format("memory").queryName("neardup_evict")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, text, t(0)))
      q.processAllAvailable()
      // advance the watermark far past the horizon with an unrelated doc
      input.addData((2L, "completely different words in this one", t(10000000)))
      q.processAllAvailable()
      // the copy of doc 1 arrives after eviction (its event time is ahead
      // of the watermark so it is NOT dropped as late — but doc 1's bucket
      // state is gone, so no pair can be emitted)
      input.addData((3L, text, t(10000001)))
      q.processAllAvailable()
      q.stop()
      val hits = spark.table("neardup_evict").collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      assert(!hits.contains((1L, 3L)),
        s"pair (1,3) spans an evicted bucket and must not surface: $hits")
    } finally if (q.isActive) q.stop()
  }

  test("nearDupPairsStream: exactly one row per pair across bands and micro-batches") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val text = "identical content that matches in every single band of the signature scheme"
    def t(off: Long) = new Timestamp(1700000000000L + off)

    // raw band stream first: identical docs match in ALL 16 bands, so the
    // multi-band duplicate emission is real (the convenience must have
    // something to dedup — non-vacuous)
    val rawInput = MemoryStream[(Long, String, Timestamp)]
    val rawQ = StreamingExtract.nearDupStream(
        rawInput.toDF().toDF("doc_id", "text", "ts"), threshold = 0.8)
      .writeStream.format("memory").queryName("neardup_raw_bands")
      .outputMode(OutputMode.Append()).start()
    try {
      rawInput.addData((1L, text, t(0)))
      rawQ.processAllAvailable()
      rawInput.addData((2L, text, t(1000)))
      rawQ.processAllAvailable()
      rawQ.stop()
      val raw = spark.table("neardup_raw_bands").collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      assert(raw.count(_ == ((1L, 2L))) == 16,
        s"expected one hit per band (16): ${raw.length}")
    } finally if (rawQ.isActive) rawQ.stop()

    // pair stream: the same scenario plus a third copy in a later batch —
    // each unordered pair must surface EXACTLY once
    val input = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingExtract.nearDupPairsStream(
        input.toDF().toDF("doc_id", "text", "ts"), threshold = 0.8)
      .writeStream.format("memory").queryName("neardup_pairs")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, text, t(0)))
      q.processAllAvailable()
      input.addData((2L, text, t(1000)))
      q.processAllAvailable()
      input.addData((3L, text, t(2000)))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("neardup_pairs").collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      assert(rows.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)), rows.mkString(","))
      assert(rows.length == 3, s"pairs must be exactly-once: ${rows.mkString(",")}")
    } finally if (q.isActive) q.stop()
  }

  test("bloom stream probe key equals Spark's xxhash64(xxhash64(s)) exactly") {
    val samples = Seq("a b c d e", "", "émoji 😀 unicode", "the quick brown fox",
      "x" * 500, "tab\tand\nnewline")
    val fromSpark = spark.createDataFrame(samples.map(Tuple1(_))).toDF("s")
      .select(col("s"), xxhash64(xxhash64(col("s"))).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    samples.foreach { s =>
      assert(StreamingExtract.sparkShingleKey(s) == fromSpark(s),
        s"key mismatch for '$s'")
    }
  }

  test("bloom streaming decontamination: drops contaminated, keeps clean, works past the broadcast guard") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench = spark.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"))).toDF("bid", "text")
    // the exact filter REFUSES at this (deliberately tiny) guard — the
    // bloom variant is the path that still works
    intercept[IllegalArgumentException] {
      StreamingExtract.decontaminateStream(
        spark.readStream.format("rate").load().selectExpr(
          "cast(value as string) as conv_id", "0 as turn_idx",
          "'u' as role", "'t' as text", "'' as tool", "timestamp as ts").as[Turn],
        bench, "text", k = 5, maxBenchShingles = 2)
    }
    val input = MemoryStream[Turn]
    val q = StreamingExtract
      .decontaminateStreamBloom(input.toDS(), bench, "text", k = 5, bitsPerKey = 20)
      .writeStream.format("memory").queryName("decon_bloom_out")
      .outputMode(OutputMode.Append()).start()
    try {
      def t(conv: String, text: String, off: Long) =
        Turn(conv, 0, "user", text, "", new Timestamp(1700000000000L + off))
      input.addData(
        t("dirty", "prefix words then the quick brown fox jumps over more text", 0),
        t("clean", "completely unrelated sentence with no benchmark overlap at all", 1),
        t("clean2", "another clean one here definitely fine", 2))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("decon_bloom_out").collect()
        .map(_.getAs[String]("conv_id")).toSet
      assert(got == Set("clean", "clean2"), got.mkString(","))
    } finally if (q.isActive) q.stop()
  }

  test("streaming decontamination drops bench-overlapping turns, keeps clean ones") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench = spark.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"))).toDF("bid", "text")
    val input = MemoryStream[Turn]
    val q = StreamingExtract.decontaminateStream(input.toDS(), bench, "text", k = 5)
      .writeStream.format("memory").queryName("decon_out")
      .outputMode(OutputMode.Append()).start()
    try {
      def t(conv: String, text: String, off: Long) =
        Turn(conv, 0, "user", text, "", new Timestamp(1700000000000L + off))
      input.addData(
        t("dirty", "prefix words then the quick brown fox jumps over more text", 0),
        t("clean", "completely unrelated sentence with no benchmark overlap at all", 1))
      q.processAllAvailable()
      input.addData(t("clean2", "another clean one here definitely fine", 2))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("decon_out").collect().map(_.getAs[String]("conv_id")).toSet
      assert(got == Set("clean", "clean2"), got.mkString(","))
    } finally if (q.isActive) q.stop()
  }

  test("streaming LM filter drops gibberish, keeps fluent and evidence-free turns") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ref = spark.createDataFrame((0 until 30).map(i =>
        (i.toLong, "the cat sat on the mat and the dog ran to the cat")))
      .toDF("id", "text")
    val (bi, uni, v) = graft.ops.LmOps.bigramLm(ref, "text")
    val input = MemoryStream[Turn]
    val q = StreamingExtract
      // vocab is 9 words, so the add-one floor for an unseen context is
      // -log2(1/9) ≈ 3.17 bits; fluent in-domain text scores ≈ 1.0
      .perplexityFilterStream(input.toDS(), bi, uni, v, maxBits = 2.0)
      .writeStream.format("memory").queryName("lmfilter_out")
      .outputMode(OutputMode.Append()).start()
    try {
      def t(conv: String, text: String, off: Long) =
        Turn(conv, 0, "user", text, "", new Timestamp(1700000000000L + off))
      input.addData(
        t("fluent", "the cat sat on the mat", 0),
        t("gibberish", "zq xv qqj wmpf zzt yyr qwe asd", 1))
      q.processAllAvailable()
      input.addData(
        t("fluent2", "the dog ran to the cat", 2),
        t("oneword", "hi", 3)) // no bigram evidence -> kept (NULL contract)
      q.processAllAvailable()
      q.stop()
      val got = spark.table("lmfilter_out").collect()
        .map(_.getAs[String]("conv_id")).toSet
      assert(got == Set("fluent", "fluent2", "oneword"), got.mkString(","))
    } finally if (q.isActive) q.stop()
  }

  test("streaming decontamination fails fast on an over-limit bench set") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench = spark.createDataFrame(Seq(
      (1L, "one two three four five six seven eight nine ten"))).toDF("bid", "text")
    val input = MemoryStream[Turn]
    intercept[IllegalArgumentException] {
      StreamingExtract.decontaminateStream(input.toDS(), bench, "text", k = 3,
        maxBenchShingles = 2)
    }
  }

  test("watermarked windowed aggregation produces per-conversation counts") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingExtract.windowedConvStats(input.toDS(), "1 minute", "1 minute")
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Update()).start()

    input.addData(turnsData(0, 100): _*)
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("win_out").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_turns")).sum == 100L)
  }
}
