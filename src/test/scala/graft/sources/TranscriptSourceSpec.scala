package graft.sources

import java.nio.file.Files

import graft.SparkSuite
import graft.pipeline.TranscriptGen
import org.apache.spark.sql.functions.{col, date_format}
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink round-trip + the scan-side properties that matter at scale:
  * partition pruning on the date layout and column pruning through the
  * typed boundary.
  */
class TranscriptSourceSpec extends AnyFunSuite with SparkSuite {
  test("partitioned write + filtered read: round trip, pruning reaches the scan") {
    val dir = Files.createTempDirectory("graft_src").toString
    val turns = TranscriptGen.turns(spark, 3000, seed = 42, partitions = 8)
    // the Iceberg-like layout the reader prunes: one directory per event date
    turns.withColumn("ts_date", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("ts_date").parquet(dir)

    // partition layout exists
    val dates = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("ts_date="))
    assert(dates.length > 1, s"expected multiple date partitions, got ${dates.toSeq}")

    // full round trip preserves every turn
    val all = TranscriptSource.read(spark, TranscriptSource.Config(location = dir))
    assert(all.count() == 3000)

    // date-bounded read prunes partitions (visible in the plan)
    val someDate = dates.head.stripPrefix("ts_date=")
    val bounded = TranscriptSource.read(spark,
      TranscriptSource.Config(location = dir, dateFrom = Some(someDate), dateTo = Some(someDate)))
    val plan = bounded.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") && plan.contains("ts_date"), plan)
    assert(bounded.count() > 0)

    // conv_id filter pushes to the data scan
    val conv = all.head().conv_id
    val one = TranscriptSource.read(spark,
      TranscriptSource.Config(location = dir, convFilter = Some(conv)))
    val plan2 = one.queryExecution.executedPlan.toString()
    assert(plan2.contains("PushedFilters") && plan2.contains("conv_id"), plan2)
    assert(one.collect().forall(_.conv_id == conv))
  }
}
