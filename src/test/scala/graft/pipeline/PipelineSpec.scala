package graft.pipeline

import java.nio.file.Files

import graft.SparkSuite
import graft.core.TagAttributes
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Inverse of TranscriptGen's (global id → conv, turn) mapping, for tests. */
object TranscriptGenTestHelper {
  def findGlobalId(convId: String, turnIdx: Int): Long = {
    val convIdx = convId.stripPrefix("conv").toLong
    val block = convIdx / 100
    val base = block * TranscriptGen.BlockTurns
    if (convIdx % 100 == 0) base + turnIdx
    else base + 100L * TranscriptGen.BaseLen + (convIdx % 100 - 1) * TranscriptGen.BaseLen + turnIdx
  }
}

/** Spark-level pipeline verification: the distributed
  * scan→shuffle→mapPartitions→write path must reproduce the pure-core
  * per-turn results exactly, under any partitioning, with working
  * bucket-level resume.
  */
class PipelineSpec extends AnyFunSuite with SparkSuite {
  test("distributed extract equals pure-core extract per turn (stable ordering)") {
    val n = 4000
    val out = ExtractJob.extract(TranscriptGen.turns(spark, n, seed = 42, partitions = 16))
      .collect()
      .map(o => (o.conv_id, o.turn_idx) -> ((o.plain_text, o.html, o.n_tags, o.parse_error)))
      .toMap

    assert(out.size == n)
    var checked = 0
    (0L until n.toLong).foreach { g =>
      val t = TranscriptGen.turnAt(g, 42)
      val e = ExtractJob.extractTurn(t, TagAttributes.bbcodeCanonical)
      val a = out((t.conv_id, t.turn_idx))
      assert(a == ((e.plain_text, e.html, e.n_tags, e.parse_error)),
        s"mismatch at g=$g conv=${t.conv_id} idx=${t.turn_idx}")
      checked += 1
    }
    assert(checked == n)
  }

  test("extract output is identical across parallelism levels") {
    def run(parts: Int): Seq[(String, Int, String, String)] =
      ExtractJob.extract(TranscriptGen.turns(spark, 2000, seed = 7, partitions = parts))
        .collect()
        .map(o => (o.conv_id, o.turn_idx, o.plain_text, o.html))
        .sortBy(r => (r._1, r._2)).toSeq

    assert(run(2) == run(17))
  }

  test("metrics accumulators count rows and errors") {
    val stats = ExtractJob.newStats(spark)
    val ds = ExtractJob.extract(TranscriptGen.turns(spark, 1000, seed = 42, partitions = 4),
      stats = Some(stats))
    ds.count()
    ds.count() // the same partitions again: each replaces its record
    val recs = ExtractJob.records(stats)
    assert(recs.map(_.rows).sum == 1000L)
    assert(recs.map(_.parse_errors).sum == 0L)
    assert(recs.forall(r => r.rows > 0 && r.nanos > 0L), recs)
    // a named one would copy all records into every task-end event
    assert(stats.name.isEmpty)
  }

  test("per-partition lineage rows cover all input") {
    val stats = ExtractJob.newStats(spark)
    ExtractJob.extract(TranscriptGen.turns(spark, 1000, seed = 42, partitions = 8),
      stats = Some(stats)).count()
    val recs = ExtractJob.records(stats)
    assert(recs.map(_.partition_id) == (0 until 8))
    assert(recs.map(_.rows).sum == 1000L)
    assert(recs.map(_.parse_errors).sum == 0L)
  }

  test("resumable run: interrupted output completes idempotently") {
    val dir = Files.createTempDirectory("graft_resume").toString
    val turns = TranscriptGen.turns(spark, 3000, seed = 42, partitions = 8)

    // full run as reference
    val refDir = Files.createTempDirectory("graft_ref").toString
    ExtractJob.runResumable(spark, turns, refDir, buckets = 8)
    val expected = spark.read.parquet(refDir)
      .select("conv_id", "turn_idx", "plain_text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).sortBy(x => (x._1, x._2))

    // partial run: write everything, then delete two buckets to simulate a crash
    ExtractJob.runResumable(spark, turns, dir, buckets = 8)
    val fs = new java.io.File(dir)
    fs.listFiles().filter(f => f.getName == "bucket=2" || f.getName == "bucket=5")
      .foreach(f => { f.listFiles().foreach(_.delete()); f.delete() })
    assert(ExtractJob.completedBuckets(spark, dir).size == 6)

    // resume completes only the missing buckets
    val done = ExtractJob.runResumable(spark, turns, dir, buckets = 8)
    assert(done.size == 8)
    val actual = spark.read.parquet(dir)
      .select("conv_id", "turn_idx", "plain_text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).sortBy(x => (x._1, x._2))
    assert(actual.toSeq == expected.toSeq)
  }

  test("a relaunch over complete output reads no input: zero Spark jobs") {
    val dir = Files.createTempDirectory("graft_relaunch").toString
    val turns = TranscriptGen.turns(spark, 3000, seed = 42, partitions = 8)
    assert(ExtractJob.runResumable(spark, turns, dir, buckets = 8) == (0 until 8).toSet)
    var done = Set.empty[Int]
    assert(jobsOf { done = ExtractJob.runResumable(spark, turns, dir, buckets = 8) } == 0)
    assert(done == (0 until 8).toSet)
  }

  test("resume repairs a partially-written bucket (unmarked dir is not trusted)") {
    val dir = Files.createTempDirectory("graft_partial").toString
    val turns = TranscriptGen.turns(spark, 3000, seed = 42, partitions = 8)
    val expected = {
      val refDir = Files.createTempDirectory("graft_partial_ref").toString
      ExtractJob.runResumable(spark, turns, refDir, buckets = 8)
      spark.read.parquet(refDir)
        .select("conv_id", "turn_idx", "plain_text", "html").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
        .sortBy(x => (x._1, x._2)).toSeq
    }

    ExtractJob.runResumable(spark, turns, dir, buckets = 8)
    // simulate a crash mid-write of bucket 3: some part files are gone and
    // the commit marker was never written — but the DIRECTORY still exists
    val b3 = new java.io.File(dir, "bucket=3")
    assert(b3.isDirectory)
    new java.io.File(b3, "_COMMITTED").delete()
    val parts = b3.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.headOption.foreach(_.delete()) // truncate the bucket's data
    assert(ExtractJob.completedBuckets(spark, dir) == Set(0, 1, 2, 4, 5, 6, 7))

    // resume must regenerate bucket 3, not skip the half-written dir
    val done = ExtractJob.runResumable(spark, turns, dir, buckets = 8)
    assert(done.size == 8)
    val actual = spark.read.parquet(dir)
      .select("conv_id", "turn_idx", "plain_text", "html").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(actual == expected)
  }

  test("HTML markup gets HTML defaults, not BBCode policies (cfg per dialect)") {
    import org.apache.spark.sql.Encoders
    // <code> is preformatted under the BBCode canonical map but NOT in HTML
    // defaults; <br> is a void element only under HTML defaults.
    val t = Turn("c0", 0, "user", "a<br>b and <code>x<em>y</em>z</code>", "none",
      new java.sql.Timestamp(0))
    val ds = spark.createDataset(Seq(t))(Encoders.product[Turn])
    val out = ExtractJob.extract(ds, markup = ExtractJob.Html).collect().head
    assert(out.parse_error == null)
    // void <br> stripped; <code> body parsed (em recognized), not preformatted
    assert(out.plain_text == "ab and xyz", out.plain_text)
  }

  test("offsets column maps input positions to output shifts exactly") {
    import graft.core._
    val out = ExtractJob.extract(TranscriptGen.turns(spark, 300, seed = 42, partitions = 4))
      .collect()
    var checkedShifted = 0
    out.foreach { o =>
      // recompute the escape offsets with the pure core and compare the packed column
      val t = TranscriptGen.turnAt(TranscriptGenTestHelper.findGlobalId(o.conv_id, o.turn_idx), 42)
      val doc = BBCodeParser.parse(t.text, TagAttributes.bbcodeCanonical)
      val offs = new Offsets
      Render.renderEscaped(doc, BBCodeToHtml.renderers, offs, TagAttributes.bbcodeCanonical)
      assert(o.offsets.toSeq == offs.set.packedArray.toSeq, s"${o.conv_id}/${o.turn_idx}")
      if (o.offsets.nonEmpty) checkedShifted += 1
      // every packed entry: pos within input, amount in the escape-shift set
      o.offsets.foreach { p =>
        val pos = (p >>> 32).toInt
        val amount = (p & 0xffffffffL).toInt
        assert(pos >= 0 && pos < t.text.length)
        assert(Set(2, 3, 4, 5).contains(amount), s"unexpected shift amount $amount")
      }
    }
    assert(checkedShifted > 50, "expected many turns with escape shifts")
  }

  test("HTML-mode extraction strips boilerplate per turn (matches pure core)") {
    val turns = TranscriptGen.turns(spark, 500, seed = 42, partitions = 4)
      .map(t => t.copy(text = s"""<div class="m"><b>${t.turn_idx}</b> body</div>"""))(
        org.apache.spark.sql.Encoders.product[Turn])
    val out = ExtractJob.extract(turns, markup = ExtractJob.Html).collect()
    assert(out.length == 500)
    out.foreach { o =>
      assert(o.plain_text == s"${o.turn_idx} body", o.plain_text)
      assert(o.parse_error == null)
      assert(o.n_tags == 2) // div + b
    }
  }

  test("salted conversation assembly equals single-shuffle assembly") {
    val turns = ExtractJob.extract(TranscriptGen.turns(spark, 4000, seed = 42, partitions = 8)).toDF()
    def collectMap(df: org.apache.spark.sql.DataFrame) =
      df.select("conv_id", "n_turns", "conv_text").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val naive = collectMap(ConvAssembly.assemble(turns))
    val salted = collectMap(ConvAssembly.assembleSalted(turns, chunk = 64))
    assert(naive.keySet == salted.keySet)
    naive.foreach { case (k, v) => assert(salted(k) == v, s"conv $k") }
    // the skewed conversation (conv 0 of each block) must span multiple chunks
    val big = naive.keys.min
    assert(naive(big)._1 > 64, "skewed conversation spans chunks")
  }

  test("turn rank window is dense and ordered") {
    val turns = TranscriptGen.turns(spark, 2000, seed = 42, partitions = 8).toDF()
    val ranked = ConvAssembly.withTurnRank(turns)
      .select("conv_id", "turn_idx", "turn_rank").collect()
      .groupBy(_.getString(0))
    ranked.values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.zipWithIndex.forall { case (r, i) => r.getInt(2) == i + 1 })
    }
  }

  test("SparkEntry.entry (driver smoke contract) returns rows") {
    val df = graft.SparkEntry.entry(spark)
    assert(df.count() == 2000)
    assert(df.columns.toSeq == Seq("conv_id", "turn_idx", "role", "plain_text", "html", "n_tags"))
  }

  test("generator is deterministic and skewed") {
    val a = TranscriptGen.turns(spark, 1000, seed = 42, partitions = 4).collect()
    val b = TranscriptGen.turns(spark, 1000, seed = 42, partitions = 9).collect()
    assert(a.sortBy(t => (t.conv_id, t.turn_idx)).toSeq == b.sortBy(t => (t.conv_id, t.turn_idx)).toSeq)

    val sizes = a.groupBy(_.conv_id).view.mapValues(_.length).values.toSeq
    assert(sizes.max > 50 * 8, "skewed conversation present") // conv 0 has 100x base
  }

  test("main-content resumable run: bucket resume works and per-turn output matches pure core") {
    val dir = Files.createTempDirectory("graft_mc").toString
    // HTML pages around the generator-free deterministic doc ids: even rows
    // have a boilerplate-heavy page with an article, odd rows a bare page
    val turns = (0 until 400).map { i =>
      val body = s"main body text $i " * 10
      val page =
        if (i % 2 == 0)
          s"""<html><body><header>Site</header><div class="m"><a href="/a">Home page link</a><a href="/b">About us page link</a><a href="/c">Contact page link</a></div><article>$body</article><footer>Legal</footer></body></html>"""
        else s"<p>$body</p><script>var x=1;</script>"
      Turn(s"conv${i % 20}", i / 20, "user", page, "none",
        new java.sql.Timestamp(1700000000000L + i))
    }
    val ds = spark.createDataset(turns)(
      org.apache.spark.sql.Encoders.product[Turn]).repartition(4)

    ExtractJob.runResumableMainContent(spark, ds, dir, buckets = 8)
    // crash simulation: drop one bucket, resume completes exactly it
    val fs = new java.io.File(dir)
    fs.listFiles().filter(_.getName == "bucket=4")
      .foreach(f => { f.listFiles().foreach(_.delete()); f.delete() })
    assert(ExtractJob.completedBuckets(spark, dir).size == 7)
    val done = ExtractJob.runResumableMainContent(spark, ds, dir, buckets = 8)
    assert(done.size == 8)

    val actual = spark.read.parquet(dir)
      .select("conv_id", "turn_idx", "main_text", "parse_error").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
      .sortBy(x => (x._1, x._2))
    assert(actual.length == 400)
    assert(actual.forall(_._4 == null))
    // distributed output equals the pure core per turn
    val byKey = turns.map(t => (t.conv_id, t.turn_idx) -> t.text).toMap
    actual.foreach { case (c, i, main, _) =>
      assert(main == graft.core.ContentExtract.mainContent(byKey((c, i))), s"($c,$i)")
    }
    // boilerplate must actually be gone from the article pages
    assert(actual.forall { case (_, _, m, _) => !m.contains("Home page link") && !m.contains("var x=1") })
  }
}
