package graft

import graft.ops.{Commit, DedupOps}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Production launch entry for the corpus dedup pipeline, run via
  * spark-submit on a real cluster:
  *
  * {{{
  * spark-submit --class graft.DedupMain <jar> \
  *   --in <documents parquet> --out <survivor dir> \
  *   [--id-col doc_id] [--text-col text] \
  *   [--threshold 0.8] [--hashes 64] [--bands 16] [--max-bucket N] \
  *   [--max-iter 20] [--keep-by min-id|longest|col:<numeric-col>] \
  *   [--artifact-dir <dir>] [--checkpoint-dir <dir>]
  * }}}
  *
  * Resumable TWICE over: `--artifact-dir` makes the expensive stages
  * restartable (commit-marked `pairs` = clustering edges, then `labels` —
  * a run that dies in clustering resumes from pairs, see
  * [[DedupOps.dedupCorpus]]), and the final survivor write itself is
  * written once through [[graft.ops.Commit]], so a re-launch after success
  * is a no-op that just reports. `--checkpoint-dir` selects reliable
  * (HDFS/object-store) checkpoints for the label-propagation rounds so a
  * 1000-executor cluster recovers rounds on executor loss. Flag parsing,
  * the session and the JSON line come from [[Launch]]; the line's fields:
  * docs in, survivors, dropped, skipped, wall sec.
  */
object DedupMain {
  final case class Stats(docsIn: Long, survivors: Long, dropped: Long,
                         skipped: Boolean)

  private val KnownFlags = Set("in", "out", "id-col", "text-col", "threshold",
    "hashes", "bands", "max-bucket", "max-iter", "keep-by", "artifact-dir",
    "checkpoint-dir")

  /** The launchable body, separated from `main` so tests drive it with
    * their own session and tmp dirs.
    */
  def run(spark: SparkSession, a: Map[String, String]): Stats = {
    Launch.checkFlags(a, KnownFlags)
    val in = a.getOrElse("in", sys.error("--in <documents parquet> is required"))
    val out = a.getOrElse("out", sys.error("--out <dir> is required"))
    val idCol = a.getOrElse("id-col", "doc_id")
    val textCol = a.getOrElse("text-col", "text")
    val keepBy = a.getOrElse("keep-by", "min-id") match {
      case "min-id"                    => None
      case "longest"                   => Some(length(col(textCol)))
      case s if s.startsWith("col:")   => Some(col(s.stripPrefix("col:")))
      case other => sys.error(s"--keep-by must be min-id, longest, or col:<name>, got '$other'")
    }

    val dir = new Path(out)
    val written = Commit.once(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir) {
      val docs = spark.read.parquet(in)
      val docsIn = docs.count()
      DedupOps.dedupCorpus(docs, idCol, textCol,
        threshold = a.getOrElse("threshold", "0.8").toDouble,
        numHashes = a.getOrElse("hashes", "64").toInt,
        bands = a.getOrElse("bands", "16").toInt,
        maxBucket = a.get("max-bucket").map(_.toInt).getOrElse(Int.MaxValue),
        maxIter = a.getOrElse("max-iter", "20").toInt,
        checkpointDir = a.get("checkpoint-dir"),
        keepBy = keepBy,
        artifactDir = a.get("artifact-dir"))
        .write.mode("overwrite").parquet(out)
      docsIn
    }
    val nOut = spark.read.parquet(out).count() // count what was WRITTEN
    // a completed run: re-launching is a reporting no-op, never a rewrite
    written.fold(Stats(docsIn = -1L, survivors = nOut, dropped = -1L, skipped = true))(
      docsIn => Stats(docsIn, nOut, docsIn - nOut, skipped = false))
  }

  def fields(s: Stats, wallSec: Double): Seq[(String, Any)] = Seq(
    "docs_in" -> s.docsIn, "survivors" -> s.survivors, "dropped" -> s.dropped,
    "skipped" -> s.skipped, "wall_sec" -> wallSec)

  def main(args: Array[String]): Unit = Launch.main("graft-dedup", args)(run)(fields)
}
