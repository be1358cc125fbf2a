package graft

import graft.ops.Commit
import graft.pipeline.{ExtractJob, SpanLineage}
import graft.sources.TranscriptSource
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Production launch entry for the extraction pipeline, run via
  * spark-submit on a real cluster:
  *
  * {{{
  * spark-submit --class graft.ExtractMain <jar> \
  *   --in <path-or-table> --out <dir> \
  *   [--mode extract|main-content] [--format parquet|iceberg] \
  *   [--markup bbcode|html] [--buckets N] \
  *   [--date-from YYYY-MM-DD] [--date-to YYYY-MM-DD] \
  *   [--lineage <dir>] [--spans <dir>]
  * }}}
  *
  * `--mode main-content` runs the DOM-heuristic boilerplate-removal stage
  * (ContentExtract) over HTML turns instead of strip+render, with the same
  * resumable bucket machinery.
  *
  * Behavior: resumable bucket-committed write (re-running after any
  * partial failure completes exactly the missing buckets; each `bucket=N`
  * dir follows [[graft.ops.Commit]]'s marker protocol), optional
  * per-partition lineage table (the pass's
  * [[graft.pipeline.PartitionStat]] records, written from the driver: it
  * sums to the line's `rows`) and span-lineage table (written once: a
  * committed `--spans` dir is not rewritten). Flag parsing, the
  * session and the JSON line come from [[Launch]]; the line's fields:
  * rows, parse errors, wall seconds, turns/sec, completed buckets, out.
  * Master/executors come from spark-submit — the job itself sets only
  * job-shape configuration.
  */
object ExtractMain {
  /** `wallSec` times the extract phase: the bucket listing and repair, and
    * when a bucket is pending the input's schema resolution and the extract
    * write. The optional span sink is a separate full pass, outside it; a
    * relaunch over committed spans skips it.
    */
  final case class Stats(rows: Long, parseErrors: Long, wallSec: Double,
                         completedBuckets: Int, out: String)

  private val KnownFlags = Set("in", "out", "mode", "format", "markup",
    "buckets", "date-from", "date-to", "lineage", "spans")

  def run(spark: SparkSession, a: Map[String, String]): Stats = {
    Launch.checkFlags(a, KnownFlags)
    val in = a.getOrElse("in", sys.error("--in <path-or-table> is required"))
    val out = a.getOrElse("out", sys.error("--out <dir> is required"))
    val markup = a.getOrElse("markup", "bbcode").toLowerCase match {
      case "html"   => ExtractJob.Html
      case "bbcode" => ExtractJob.BBCode
      case other    => sys.error(s"--markup must be bbcode or html, got '$other'")
    }
    val buckets = a.getOrElse("buckets", "256").toInt
    // the bucket count is the pmod divisor of every turn's bucket
    require(buckets > 0, s"--buckets must be positive, got $buckets")

    // resolving a parquet input's schema is a Spark job, so the input is
    // read only if a bucket is pending
    lazy val turns = TranscriptSource.read(spark, TranscriptSource.Config(
      format = a.getOrElse("format", "parquet"),
      location = in,
      dateFrom = a.get("date-from"),
      dateTo = a.get("date-to")))

    val stats = ExtractJob.newStats(spark)
    val t0 = System.nanoTime()
    val done = a.getOrElse("mode", "extract").toLowerCase match {
      case "extract" =>
        ExtractJob.runResumable(spark, turns, out, buckets = buckets,
          cfg = ExtractJob.defaultCfg(markup), stats = Some(stats), markup = markup)
      case "main-content" =>
        // the lineage/span sinks describe the strip/render pipeline, not
        // the main-content output — silently writing them here would emit
        // plausible-looking but meaningless tables
        require(a.get("lineage").isEmpty && a.get("spans").isEmpty,
          "--lineage/--spans apply to --mode extract only")
        // main-content always runs the HTML ContentExtract config; a
        // --markup flag here would be silently ignored — reject it like
        // --lineage/--spans instead of letting the user believe it applied
        require(a.get("markup").isEmpty,
          "--markup applies to --mode extract only (main-content is HTML-only)")
        ExtractJob.runResumableMainContent(spark, turns, out, buckets = buckets,
          stats = Some(stats))
      case other => sys.error(s"--mode must be extract or main-content, got '$other'")
    }
    val sec = (System.nanoTime() - t0) / 1e9

    val records = ExtractJob.records(stats)
    a.get("lineage").foreach { dir =>
      import spark.implicits._
      spark.createDataset(records).coalesce(1).write.mode("overwrite").parquet(dir)
    }
    a.get("spans").foreach { dir =>
      val p = new Path(dir)
      Commit.once(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p) {
        SpanLineage.spanTable(turns, markup = markup)
          .write.mode("overwrite").parquet(dir)
      }
    }
    Stats(records.map(_.rows).sum, records.map(_.parse_errors).sum, sec, done.size, out)
  }

  def fields(s: Stats, launchSec: Double): Seq[(String, Any)] = Seq(
    "rows" -> s.rows, "parse_errors" -> s.parseErrors, "wall_sec" -> s.wallSec,
    "turns_per_sec" -> (if (s.wallSec > 0) s.rows / s.wallSec else 0.0),
    "completed_buckets" -> s.completedBuckets, "out" -> s.out)

  def main(args: Array[String]): Unit = Launch.main("graft-extract", args)(run)(fields)
}
