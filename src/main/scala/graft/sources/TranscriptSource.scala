package graft.sources

import graft.pipeline.Turn
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Pluggable transcript-table source.
  *
  * The production target is an Iceberg catalog table; this sandbox ships no
  * Iceberg jar, so the reader takes the format as configuration: the same
  * job runs `format = "iceberg"` (table identifier) or `format = "parquet"`
  * (path with a date-partitioned layout emulating Iceberg's partition
  * spec). Either way, Catalyst partition pruning + column pruning reach the
  * scan — asserted in tests, since that is what keeps a 10^12-turn scan
  * from reading 10^12 turns.
  */
object TranscriptSource {
  final case class Config(
      format: String = "parquet",   // "parquet" | "iceberg" | any DataSourceV2
      location: String,             // path (file formats) or table identifier
      convFilter: Option[String] = None,  // pushed-down conv_id predicate
      dateFrom: Option[String] = None,    // partition-pruned ts_date lower bound
      dateTo: Option[String] = None)

  private val turnCols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")

  /** Read turns with filters expressed BEFORE the typed boundary so they
    * push into the scan (partition pruning on ts_date, data filters on
    * conv_id).
    */
  def read(spark: SparkSession, cfg: Config): Dataset[Turn] = {
    import spark.implicits._
    val reader = spark.read.format(cfg.format)
    var df: DataFrame =
      if (cfg.format == "parquet") reader.load(cfg.location)
      else reader.load(cfg.location) // iceberg: identifier-as-path via catalog
    cfg.dateFrom.foreach(d => df = df.filter(col("ts_date") >= lit(d)))
    cfg.dateTo.foreach(d => df = df.filter(col("ts_date") <= lit(d)))
    cfg.convFilter.foreach(c => df = df.filter(col("conv_id") === lit(c)))
    df.select(turnCols.map(col): _*).as[Turn]
  }
}
