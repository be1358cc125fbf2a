package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

/** Shared cache/lineage plumbing for iterative operators. */
private[graft] object CacheUtil {
  /** Release a localCheckpoint'd frame's executor blocks NOW: the blocks
    * live on the checkpointed internal RDD (Dataset.unpersist does not
    * touch them; without this they are only freed when the RDD is GC'd —
    * an iterative loop would retain every superseded round's full frame
    * in executor storage).
    */
  def freeLocalCheckpoint(ds: Dataset[_]): Unit =
    checkpointedRdds(ds).foreach(_.unpersist(false))

  /** Delete a reliably checkpointed frame's files under `fs` NOW (Spark
    * never deletes checkpoint files itself).
    */
  def freeCheckpoint(ds: Dataset[_], fs: FileSystem): Unit =
    checkpointedRdds(ds).foreach(_.getCheckpointFile.foreach(f => fs.delete(new Path(f), true)))

  /** The RDDs a checkpointed frame reads: its plan's LogicalRDD leaves. */
  private def checkpointedRdds(ds: Dataset[_]): Seq[RDD[_]] =
    ds.queryExecution.analyzed.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
}
