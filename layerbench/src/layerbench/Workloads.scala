package layerbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.DedupMain
import graft.ops.DedupOps
import graft.pipeline.{ExtractJob, TranscriptGen, Turn, TurnOut}
import graft.sources.TranscriptSource
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a workload needs from the running benchmark. */
final class Ctx(val spark: SparkSession, val cores: Int, val seed: Long, val work: File) {
  /** Off for timed runs, on for the traced window. */
  var tracer: Tracer = new Tracer(false)
  def sc: org.apache.spark.SparkContext = spark.sparkContext
  def dir(name: String): File = new File(work, name)
}

/** One timed step (a pass or a resume): wall and process CPU seconds of
  * the measured part, and counts for the traced run.
  */
final case class Step(wallS: Double, cpuS: Double, counts: Map[String, Double] = Map.empty)

object Step {
  def timed(body: => Unit): Step = { val (w, c) = Clock.timed(body); Step(w, c) }
}

/** One output check: rows checked and rows that failed it. */
final case class Check(what: String, rows: Long, failed: Long, detail: String)

object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  /** (wall s, process CPU s) of `body`. */
  def timed(body: => Unit): (Double, Double) = {
    val w = System.nanoTime()
    val c = cpuNs
    body
    ((System.nanoTime() - w) / 1e9, (cpuNs - c) / 1e9)
  }
}

object Dirs {
  def delete(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(delete)
    f.delete()
  }
  /** Data files under `dir`: markers (`_*`) and checksums (`.*`) excluded. */
  def dataFiles(dir: File): Seq[java.nio.file.Path] =
    if (!dir.exists) Nil
    else Files.walk(dir.toPath).iterator.asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
    }.toList
  def dataBytes(dir: File): Long = dataFiles(dir).map(p => Files.size(p)).sum
}

abstract class Workload(val name: String) {
  /** Builds the inputs in memory from the seed. */
  def generate(seed: Long): InputInfo
  /** Writes the in-memory inputs to parquet under `dir` and reads from there on. */
  def materialize(ctx: Ctx, dir: File): Unit
  def rows: Long
  /** One timed pass over the inputs. */
  def pass(ctx: Ctx): Step
  /** The set-up's warm-up pass: the same call as [[pass]], with a check of
    * its output where the committed run takes another path.
    */
  def warmUp(ctx: Ctx): Seq[Check] = { pass(ctx); Nil }
  /** The full committed run of the inputs. It is the set-up's warm-up run:
    * it calls the same public function as a pass, and its output is what
    * [[resume]] resumes and [[check]] checks.
    */
  def commit(ctx: Ctx): Unit
  /** Takes the commit markers from part of the committed output and runs
    * again; only the resumed run is timed.
    */
  def resume(ctx: Ctx): Step
  /** Bytes of the committed output. */
  def committedBytes(ctx: Ctx): Long
  /** Checks the committed output. */
  def check(ctx: Ctx): Seq[Check]
  /** Extra traced calls whose figures a pass does not give. */
  def probe(ctx: Ctx): Map[String, Double] = Map.empty
  /** Rows for the Spark-free core harness. */
  def coreRows: Option[Array[Turn]] = None
  /** Drops the in-memory inputs. */
  def release(): Unit
}

/** Output row fields the extract check compares. */
final case class OutRow(conv_id: String, turn_idx: Int, plain_text: String, html: String,
                        offsets: Seq[Long], n_tags: Int, parse_error: String)

object OutRow {
  def hash(conv: String, idx: Int, plain: String, html: String, offsets: Iterable[Long],
           nTags: Int): Long = {
    val d = new Digest().add(conv).addLong(idx).add(plain).add(html).addLong(offsets.size)
    offsets.foreach(d.addLong)
    d.addLong(nTags).value
  }
  def hash(o: TurnOut): Long =
    hash(o.conv_id, o.turn_idx, o.plain_text, o.html, o.offsets, o.n_tags)
}

/** Chat turns: parquet scan, BBCode extract, noop sink. The committed run
  * sends the same rows through `runResumable` (32 buckets); a resume takes
  * the markers from buckets, in a seeded order, until they hold a quarter
  * of the committed bytes, so the resumed work is about the same for every
  * seed.
  */
class ChatBBCode(n: Int, name: String = "chat_bbcode") extends Workload(name) {
  protected var turns: Array[Turn] = _
  protected var inDir: String = _
  private var expected: Array[Long] = _
  def rows: Long = turns.length
  override def coreRows: Option[Array[Turn]] = Some(turns)
  private def out(ctx: Ctx) = ctx.dir("out/chat")

  def generate(seed: Long): InputInfo = {
    turns = Array.tabulate(n)(i => TranscriptGen.turnAt(i, seed))
    InputInfo.ofTurns(turns)
  }

  def materialize(ctx: Ctx, dir: File): Unit = {
    import ctx.spark.implicits._
    ctx.sc.parallelize(turns.toSeq, ctx.cores * 2).toDS().write.mode("overwrite").parquet(dir.getPath)
    inDir = dir.getPath
  }
  protected def read(ctx: Ctx) =
    TranscriptSource.read(ctx.spark, TranscriptSource.Config(location = inDir))
  private def resumable(ctx: Ctx) = ExtractJob.runResumable(ctx.spark, read(ctx), out(ctx).getPath)

  def pass(ctx: Ctx): Step = Step.timed {
    ctx.tracer.call(ctx.sc, "extract") {
      ExtractJob.extract(read(ctx)).write.format("noop").mode("overwrite").save()
    }
  }

  def commit(ctx: Ctx): Unit = { Dirs.delete(out(ctx)); resumable(ctx) }

  def resume(ctx: Ctx): Step = {
    val r = new Rng(ctx.seed ^ 0x5eedL)
    val buckets = out(ctx).listFiles().filter(_.getName.startsWith("bucket=")).toSeq
      .map(b => (r.nextLong(), b)).sortBy(_._1).map { case (_, b) => b -> Dirs.dataBytes(b) }
    val quarter = buckets.map(_._2).sum / 4
    var sum = 0L
    val pending = buckets.takeWhile { case (_, n) => val before = sum; sum += n; before < quarter }.map(_._1)
    pending.foreach(b => new File(b, "_COMMITTED").delete())
    val step = Step.timed(ctx.tracer.call(ctx.sc, "runResumable")(resumable(ctx)))
    step.copy(counts = Map("pipeline.write.files_written" -> pending.map(b => Dirs.dataFiles(b).size).sum.toDouble))
  }

  def committedBytes(ctx: Ctx): Long = Dirs.dataBytes(out(ctx))

  def release(): Unit = { turns = null; expected = null }

  /** Compares each committed row with a Spark-free recompute through
    * `ExtractJob.extractTurn` on the same input row. A row fails if it is
    * missing, duplicated, differs, or has a parse error.
    */
  def check(ctx: Ctx): Seq[Check] = {
    import ctx.spark.implicits._
    if (expected == null) {
      val cfg = ExtractJob.defaultCfg(ExtractJob.BBCode)
      val h = new Array[Long](turns.length)
      java.util.stream.IntStream.range(0, turns.length).parallel()
        .forEach((i: Int) => h(i) = OutRow.hash(ExtractJob.extractTurn(turns(i), cfg)))
      expected = h
    }
    val actual = ctx.spark.read.parquet(out(ctx).getPath)
      .select("conv_id", "turn_idx", "plain_text", "html", "offsets", "n_tags", "parse_error").as[OutRow]
      .map(r => (r.conv_id, r.turn_idx,
        OutRow.hash(r.conv_id, r.turn_idx, r.plain_text, r.html, r.offsets, r.n_tags),
        r.parse_error != null))
      .collect()
    val want = mutable.HashMap[(String, Int), Long]()
    turns.indices.foreach(i => want((turns(i).conv_id, turns(i).turn_idx)) = expected(i))
    val seen = mutable.HashMap[(String, Int), Int]()
    var failed = 0L
    actual.foreach { case (c, i, h, err) =>
      val n = seen.getOrElse((c, i), 0) + 1
      seen((c, i)) = n
      if (err || n > 1 || !want.get((c, i)).contains(h)) failed += 1
    }
    failed += want.keysIterator.count(k => !seen.contains(k))
    Seq(Check("committed", turns.length, failed,
      f"digest expected=${expected.sum}%016x actual=${actual.map(_._3).sum}%016x rows=${actual.length}"))
  }
}

/** A chat workload whose every pass throws inside a Spark task, to show
  * that a throwing run counts all its rows as failed.
  */
final class PlantedThrow extends ChatBBCode(4000, "planted_throw") {
  override def pass(ctx: Ctx): Step = {
    import ctx.spark.implicits._
    Step.timed {
      ExtractJob.extract(read(ctx))
        .map(o => if (o.turn_idx >= 0) throw new IllegalStateException("planted failure") else o.conv_id)
        .write.format("noop").mode("overwrite").save()
    }
  }
}

/** Prose documents with planted duplicates: `dedupCorpus` at the
  * `DedupMain` defaults, noop sink. The committed run is `DedupMain.run`
  * with an artifact directory; a resume takes the markers from the output
  * and the label stage and runs it again, from the committed pair stage.
  */
final class CorpusDedup(unique: Int, twins: Int, groups: Int, largest: Int)
    extends Workload("corpus_dedup") {
  private var corpus: Corpus = _
  private var inDir: String = _
  def rows: Long = corpus.docs.length

  def generate(seed: Long): InputInfo = {
    corpus = CorpusGen.corpus(unique, twins, groups, largest, seed)
    InputInfo.ofDocs(corpus.docs)
  }
  def materialize(ctx: Ctx, dir: File): Unit = {
    import ctx.spark.implicits._
    ctx.sc.parallelize(corpus.docs.toSeq, ctx.cores * 2).toDS().write.mode("overwrite").parquet(dir.getPath)
    inDir = dir.getPath
  }
  private def docs(ctx: Ctx) = ctx.spark.read.parquet(inDir)

  def pass(ctx: Ctx): Step = Step.timed {
    ctx.tracer.call(ctx.sc, "dedupCorpus") {
      DedupOps.dedupCorpus(docs(ctx), "doc_id", "text").write.format("noop").mode("overwrite").save()
    }
  }

  private def launch(ctx: Ctx) = DedupMain.run(ctx.spark, Map("in" -> inDir,
    "out" -> ctx.dir("out/dedup").getPath, "artifact-dir" -> ctx.dir("out/dedup-artifacts").getPath))

  def commit(ctx: Ctx): Unit = {
    Dirs.delete(ctx.dir("out/dedup"))
    Dirs.delete(ctx.dir("out/dedup-artifacts"))
    launch(ctx)
  }

  def resume(ctx: Ctx): Step = {
    new File(ctx.dir("out/dedup"), "_COMMITTED").delete()
    new File(ctx.dir("out/dedup-artifacts"), "labels/_COMMITTED").delete()
    Step.timed(ctx.tracer.call(ctx.sc, "DedupMain.run")(launch(ctx)))
  }

  def committedBytes(ctx: Ctx): Long = Dirs.dataBytes(ctx.dir("out/dedup"))

  /** Each exact group keeps exactly its min id, each planted near-duplicate
    * pair keeps its smaller id, and no unplanted document is dropped.
    */
  private def checkIds(ctx: Ctx, ids: DataFrame, what: String): Check = {
    import ctx.spark.implicits._
    val got = ids.select("doc_id").as[Long].collect()
    val gotSet = got.toSet
    val wrong = gotSet.count(id => !corpus.survivors(id)) +
      corpus.survivors.count(id => !gotSet(id)) + (got.length - gotSet.size)
    val unplantedDropped = corpus.docs.count(d => !corpus.planted(d.doc_id) && !gotSet(d.doc_id))
    Check(what, corpus.docs.length, wrong,
      s"survivors expected=${corpus.survivors.size} actual=${got.length} unplanted_dropped=$unplantedDropped")
  }

  def check(ctx: Ctx): Seq[Check] =
    Seq(checkIds(ctx, ctx.spark.read.parquet(ctx.dir("out/dedup").getPath), "committed"))

  /** The committed run labels through its artifact directory; a pass does
    * not, so the warm-up pass collects its survivors for the same check.
    */
  override def warmUp(ctx: Ctx): Seq[Check] =
    Seq(checkIds(ctx, DedupOps.dedupCorpus(docs(ctx), "doc_id", "text"), "warm-up pass"))

  override def probe(ctx: Ctx): Map[String, Double] = {
    var pairs: DataFrame = null
    val (mh, _) = Clock.timed {
      pairs = ctx.tracer.call(ctx.sc, "minhashNearDups")(DedupOps.minhashNearDups(docs(ctx), "doc_id", "text"))
    }
    val pairsOut = pairs.count()
    var cc: DedupOps.CcResult = null
    val (ccS, _) = Clock.timed {
      cc = ctx.tracer.call(ctx.sc, "connectedComponentsStatus")(
        DedupOps.connectedComponentsStatus(pairs.select("id_a", "id_b")))
    }
    pairs.unpersist()
    Map("ops.minhash.s" -> mh, "ops.minhash.pairs_out" -> pairsOut.toDouble, "ops.cc.s" -> ccS,
      "ops.cc.iterations" -> cc.iterations.toDouble, "ops.cc.converged" -> (if (cc.converged) 1.0 else 0.0))
  }

  def release(): Unit = corpus = null
}
