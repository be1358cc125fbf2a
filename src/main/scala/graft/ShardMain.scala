package graft

import graft.ops.{Commit, ShuffleOps, TextOps}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Production launch entry for the training-shard writer, run via
  * spark-submit on a real cluster: deterministic global shuffle →
  * contiguous shard assignment → shard-partitioned parquet, the layout a
  * training loader consumes directly.
  *
  * {{{
  * spark-submit --class graft.ShardMain <jar> \
  *   --in <documents parquet> --out <shard dir> \
  *   [--id-col doc_id] [--seed s42] [--shards 64] [--partitions N] \
  *   [--sample-mille 1000] [--sample-col text]
  * }}}
  *
  * `--sample-mille` (per-mille keep rate, default 1000 = keep all)
  * down-samples FIRST with the salted content-hash decision
  * ([[TextOps.sampleKeep]] machinery): reproducible across runs and
  * layouts, and monotone in the rate (a 200‰ sample is a subset of the
  * 600‰ one — nested samples for scaling-law runs). The shuffle order is
  * decided by md5(seed:id), so re-running with the same seed reproduces
  * the exact same shards byte-for-byte.
  *
  * The output write goes through [[graft.ops.Commit]]'s write-once: a
  * re-launch after success is a reporting no-op, and a torn write (no
  * marker) is overwritten whole. Flag parsing, the session and the JSON
  * line come from [[Launch]]; the line's fields: docs in, docs kept,
  * shards, skipped, wall sec.
  */
object ShardMain {
  final case class Stats(docsIn: Long, docsKept: Long, shards: Int,
                         skipped: Boolean)

  private val KnownFlags = Set("in", "out", "id-col", "seed", "shards",
    "partitions", "sample-mille", "sample-col")

  def run(spark: SparkSession, a: Map[String, String]): Stats = {
    Launch.checkFlags(a, KnownFlags)
    val in = a.getOrElse("in", sys.error("--in <documents parquet> is required"))
    val out = a.getOrElse("out", sys.error("--out <dir> is required"))
    val idCol = a.getOrElse("id-col", "doc_id")
    val seed = a.getOrElse("seed", "s42")
    val nShards = a.getOrElse("shards", "64").toInt
    val sampleMille = a.getOrElse("sample-mille", "1000").toInt
    require(sampleMille >= 0 && sampleMille <= 1000,
      s"--sample-mille must be in [0, 1000], got $sampleMille")

    val dir = new Path(out)
    // Some((docsIn, empty)): written now, `empty` when no doc was kept
    val written = Commit.once(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir) {
      val docs = spark.read.parquet(in)
      val docsIn = docs.count()
      val kept =
        if (sampleMille >= 1000) docs
        else {
          val sampleCol = a.getOrElse("sample-col", "text")
          docs.filter(TextOps.sampleKeep(col(sampleCol), lit("all"), seed,
            Map("all" -> sampleMille)))
        }
      // attach (shard, pos): ONE corpus shuffle on the id (the join back),
      // then cluster by shard for the partitioned write — each shard dir's
      // file is pos-ordered, which is what a sequential loader streams
      val placed = ShuffleOps.globalShuffle(kept, idCol, seed, nShards,
        partitions = a.get("partitions").map(_.toInt).getOrElse(0))
      val sharded = kept.join(placed, idCol)
        .repartition(nShards, col("shard"))
        .sortWithinPartitions("shard", "pos")
      val empty = sharded.isEmpty
      // an empty keep set (tiny corpus × aggressive --sample-mille) must
      // not poison the output: partitionBy would write NO parquet files
      // (only _SUCCESS), the marker would commit, and every relaunch would
      // die in schema inference. Write the empty frame UNpartitioned —
      // parquet keeps the schema, reads back as 0 rows — and report it.
      if (empty) sharded.write.mode("overwrite").parquet(out)
      else sharded.write.mode("overwrite").partitionBy("shard").parquet(out)
      (docsIn, empty)
    }
    written match {
      case Some((docsIn, true)) => Stats(docsIn, 0L, 0, skipped = false)
      case _ =>
        val w = spark.read.parquet(out)
        Stats(docsIn = written.fold(-1L)(_._1), docsKept = w.count(),
          shards = w.select("shard").distinct().count().toInt, skipped = written.isEmpty)
    }
  }

  def fields(s: Stats, wallSec: Double): Seq[(String, Any)] = Seq(
    "docs_in" -> s.docsIn, "docs_kept" -> s.docsKept, "shards" -> s.shards,
    "skipped" -> s.skipped, "wall_sec" -> wallSec)

  def main(args: Array[String]): Unit = Launch.main("graft-shard", args)(run)(fields)
}
