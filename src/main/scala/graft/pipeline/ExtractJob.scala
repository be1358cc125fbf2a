package graft.pipeline

import graft.core._
import graft.ops.Commit
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

import scala.jdk.CollectionConverters._

/** The flagship extraction pipeline: scan transcripts → `mapPartitions`
  * parse+strip+escape+render → ordered, resumable write, with one
  * [[PartitionStat]] record per partition taken from the pass that runs.
  *
  * Scale design notes:
  *  - Parse/transform is strictly per-turn, so the hot stage runs on
  *    natural input splits with NO shuffle at all (a single conversation
  *    never has to be colocated for extraction); skew-salted conversation
  *    assembly lives in `ConvAssembly.assembleSalted`.
  *  - One parser/renderer "instance" per partition: the core is
  *    allocation-light (offset-only AST on the shared char[]) and carries
  *    no per-call state, so mapPartitions batches avoid per-row object
  *    churn beyond the AST itself.
  *  - Resume is per output bucket: output is hash-partitioned by `bucket`
  *    (pmod(hash(conv_id), B)); a completed bucket is skipped on re-run by
  *    listing the output tree — idempotent, no driver-side bookkeeping.
  */
object ExtractJob {

  /** Input markup dialect of the transcript text column. */
  sealed trait Markup
  case object BBCode extends Markup
  case object Html extends Markup

  /** Dialect-correct default parse config: the canonical BBCode policy map
    * for BBCode, and an EMPTY map for HTML so `HtmlParser`'s built-in
    * defaults (void elements, raw-text script/style, svg) apply unmodified —
    * BBCode policies must not leak into HTML parsing.
    */
  def defaultCfg(markup: Markup): Map[String, TagAttributes] = markup match {
    case BBCode => TagAttributes.bbcodeCanonical
    case Html   => Map.empty
  }

  /** Core per-turn transform — pure, reused by the pipeline, `graft.Probe`
    * and tests as the single source of extraction semantics.
    *
    * BBCode mode: `plain_text` = tag strip, `html` = BBCode→HTML render
    * with escape/`<br>` transform. HTML mode (boilerplate strip):
    * `plain_text` = tag strip, `html` = strip with HTML re-escape (the
    * "escapable text" form of the extracted content).
    */
  def extractTurn(t: Turn, cfg: Map[String, TagAttributes],
                  markup: Markup = BBCode): TurnOut = {
    try {
      val offsets = new Offsets
      val doc = markup match {
        case BBCode => BBCodeParser.parse(t.text, cfg)
        case Html   => HtmlParser.parse(t.text, cfg)
      }
      val plain = Transform.textTransform(doc)
      val html = markup match {
        case BBCode => Render.renderEscaped(doc, BBCodeToHtml.renderers, offsets, cfg)
        case Html => Transform.textTransform(doc, fn = Transform.htmlEscape(offsets,
          TagAttributes.htmlDefaults ++ cfg))
      }
      val packed = offsets.set.packedArray
      TurnOut(t.conv_id, t.turn_idx, t.role, t.tool, t.ts,
        plain, html, packed, doc.tagCount, t.text.length, null)
    } catch {
      case e: Throwable =>
        TurnOut(t.conv_id, t.turn_idx, t.role, t.tool, t.ts,
          null, null, Array.emptyLongArray, 0,
          if (t.text == null) 0 else t.text.length,
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** The per-partition records of one extract pass ([[newStats]]; give
    * each pass its own). A re-executed partition adds its record again;
    * [[records]] keeps one per `partition_id`, so its sums stay exact under
    * task retry.
    */
  type PartitionStats = CollectionAccumulator[PartitionStat]

  def newStats(spark: SparkSession): PartitionStats = {
    // unnamed: the scheduler copies a named accumulator's whole value into
    // every task-end event (UI, event log), O(partitions²) records a pass
    val acc = new CollectionAccumulator[PartitionStat]
    spark.sparkContext.register(acc)
    acc
  }

  /** One record per partition, in `partition_id` order. */
  def records(stats: PartitionStats): Seq[PartitionStat] =
    stats.value.asScala.groupMapReduce(_.partition_id)(identity)((_, last) => last)
      .values.toSeq.sortBy(_.partition_id)

  /** The extraction stage: typed Dataset map over partitions. `cfg = null`
    * (the default) resolves to [[defaultCfg]] for the given markup dialect.
    * With `stats`, each partition adds its record when its iterator ends.
    */
  def extract(turns: Dataset[Turn],
              cfg: Map[String, TagAttributes] = null,
              stats: Option[PartitionStats] = None,
              markup: Markup = BBCode): Dataset[TurnOut] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val resolvedCfg = if (cfg != null) cfg else defaultCfg(markup)
    turns.mapPartitions { iter =>
      val t0 = System.nanoTime()
      var n = 0L
      var errs = 0L
      val out = iter.map { t =>
        val r = extractTurn(t, resolvedCfg, markup)
        n += 1
        if (r.parse_error != null) errs += 1
        r
      }
      new Iterator[TurnOut] {
        private var reported = false
        def hasNext: Boolean = {
          val h = out.hasNext
          if (!h && !reported) {
            reported = true
            stats.foreach(_.add(PartitionStat(TaskContext.getPartitionId(), n, errs,
              System.nanoTime() - t0)))
          }
          h
        }
        def next(): TurnOut = out.next()
      }
    }
  }

  private def bucketDirs(fs: org.apache.hadoop.fs.FileSystem, path: Path): Seq[Path] =
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .map(_.getPath).toSeq

  /** List COMMITTED output buckets (`bucket=N` dirs carrying the marker). */
  def completedBuckets(spark: SparkSession, outDir: String): Set[Int] = {
    val path = new Path(outDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    bucketDirs(fs, path)
      .filter(Commit.committed(fs, _))
      .map(_.getName.stripPrefix("bucket=").toInt)
      .toSet
  }

  /** Resumable run: hash-bucket by conversation, skip buckets whose commit
    * marker is present, delete (repair) partially-written unmarked bucket
    * dirs, write the rest partitioned by bucket, then mark them committed.
    * Re-running after any partial failure completes exactly the missing
    * work; a bucket is either fully present and marked, or rewritten.
    * `turns` is evaluated only when some bucket is pending.
    */
  def runResumable(spark: SparkSession, turns: => Dataset[Turn], outDir: String,
                   buckets: Int = 32,
                   cfg: Map[String, TagAttributes] = null,
                   stats: Option[PartitionStats] = None,
                   markup: Markup = BBCode): Set[Int] =
    resumable(spark, turns, outDir, buckets) { pending =>
      extract(pending, cfg, stats, markup).toDF()
    }

  /** Main-content variant of the resumable run (`--mode main-content`):
    * identical bucket-commit/repair machinery, but the per-turn stage is
    * the DOM-heuristic main-content extraction over HTML turns.
    */
  def runResumableMainContent(spark: SparkSession, turns: => Dataset[Turn], outDir: String,
                              buckets: Int = 32,
                              cfg: Map[String, TagAttributes] = null,
                              stats: Option[PartitionStats] = None): Set[Int] =
    resumable(spark, turns, outDir, buckets) { pending =>
      extractMainContent(pending, cfg, stats).toDF()
    }

  /** Core per-turn main-content transform — pure; a failure becomes the
    * row's `parse_error` (same contract as [[extractTurn]]).
    */
  private def mainContentTurn(t: Turn, cfg: Map[String, TagAttributes]): MainContentOut =
    try MainContentOut(t.conv_id, t.turn_idx, t.role, t.tool, t.ts,
      ContentExtract.mainContent(t.text, cfg),
      if (t.text == null) 0 else t.text.length, null)
    catch {
      case e: Throwable =>
        MainContentOut(t.conv_id, t.turn_idx, t.role, t.tool, t.ts,
          null, if (t.text == null) 0 else t.text.length,
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** Main-content extraction stage: per-turn `ContentExtract.mainContent`
    * inside `mapPartitions` — same zero-shuffle hot-stage shape and
    * per-partition record as [[extract]].
    */
  def extractMainContent(turns: Dataset[Turn],
                         cfg: Map[String, TagAttributes] = null,
                         stats: Option[PartitionStats] = None): Dataset[MainContentOut] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val resolvedCfg = if (cfg != null) cfg else defaultCfg(Html)
    turns.mapPartitions { iter =>
      val t0 = System.nanoTime()
      var n = 0L
      var errs = 0L
      val out = iter.map { t =>
        val r = mainContentTurn(t, resolvedCfg)
        n += 1
        if (r.parse_error != null) errs += 1
        r
      }
      new Iterator[MainContentOut] {
        private var reported = false
        def hasNext: Boolean = {
          val h = out.hasNext
          if (!h && !reported) {
            reported = true
            stats.foreach(_.add(PartitionStat(TaskContext.getPartitionId(), n, errs,
              System.nanoTime() - t0)))
          }
          h
        }
        def next(): MainContentOut = out.next()
      }
    }
  }

  /** Shared resumable-bucket machinery: list committed buckets, repair
    * unmarked partials, run `stage` over the pending turns only, write
    * partitioned by bucket, mark new buckets committed. When every bucket
    * in `0 until buckets` is already committed, it returns them without
    * evaluating `turns` (by-name, so not even the input's schema is read):
    * a relaunch over complete output starts no Spark job. A bucket no
    * conversation hashes into gets no directory and so is never committed;
    * an output with such a bucket is rescanned on each relaunch (and
    * writes nothing).
    */
  private def resumable(spark: SparkSession, turns: => Dataset[Turn], outDir: String,
                        buckets: Int)(stage: Dataset[Turn] => org.apache.spark.sql.DataFrame): Set[Int] = {
    import spark.implicits._
    val path = new Path(outDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val done = completedBuckets(spark, outDir)
    if ((0 until buckets).forall(done.contains)) return done

    // repair: an unmarked bucket dir is a partial write — remove it so the
    // re-run regenerates it instead of silently skipping half a bucket
    bucketDirs(fs, path)
      .filter(!Commit.committed(fs, _))
      .foreach(p => fs.delete(p, true))

    val withBucket = turns.withColumn("bucket", pmod(hash(col("conv_id")), lit(buckets)))
    val remaining = if (done.isEmpty) withBucket
      else withBucket.filter(!col("bucket").isin(done.toSeq: _*))

    val pending = remaining.select("conv_id", "turn_idx", "role", "text", "tool", "ts").as[Turn]
    val out = stage(pending)
      .withColumn("bucket", pmod(hash(col("conv_id")), lit(buckets)))

    out.write.mode(SaveMode.Append).partitionBy("bucket").parquet(outDir)

    // the write job succeeded: commit every bucket dir it produced
    bucketDirs(fs, path)
      .filter(!Commit.committed(fs, _))
      .foreach(Commit.mark(fs, _))
    completedBuckets(spark, outDir)
  }
}
