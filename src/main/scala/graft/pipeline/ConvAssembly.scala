package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-conversation assembly: gather a conversation's turns in stable
  * (conv_id, turn_idx) order and concatenate extracted text.
  *
  * Two plans are provided:
  *  - [[assemble]] — the straightforward single-shuffle plan: fine when
  *    conversation sizes are bounded.
  *  - [[assembleSalted]] — the skew-safe plan for heavy-tailed conversation
  *    lengths (the generator plants a 100× top-1%): phase 1 groups by
  *    (conv_id, salt = turn_idx / chunk) so a monster conversation splits
  *    across `chunk`-sized pieces that different reducers handle; phase 2
  *    merges the per-chunk pieces in chunk order. Phase-1 sort/collect
  *    state is bounded by `chunk` turns per reducer; the phase-2 concat is
  *    necessarily bounded by the conversation's TOTAL text size — the
  *    output contract is one `conv_text` row, so a 10^6-turn conversation
  *    still yields one giant string on one reducer. What salting removes is
  *    the per-turn sort/collect hot spot, not the inherent output size.
  *
  * Both produce identical results (asserted in tests); stable ordering
  * comes from sorting the collected (turn_idx, text) structs, never from
  * partition luck.
  */
object ConvAssembly {

  /** Single-shuffle assembly: collect+sort per conversation. */
  def assemble(turns: DataFrame, textCol: String = "plain_text"): DataFrame =
    turns.groupBy("conv_id")
      .agg(count(lit(1)).as("n_turns"),
        array_join(transform(array_sort(collect_list(struct(col("turn_idx"), col(textCol).as("t")))),
          s => s.getField("t")), "\n").as("conv_text"))

  /** Skew-salted two-phase assembly. */
  def assembleSalted(turns: DataFrame, textCol: String = "plain_text",
                     chunk: Int = 256): DataFrame = {
    val phase1 = turns
      .withColumn("salt", (col("turn_idx") / chunk).cast("int"))
      .groupBy("conv_id", "salt")
      .agg(count(lit(1)).as("n_turns"),
        array_join(transform(array_sort(collect_list(struct(col("turn_idx"), col(textCol).as("t")))),
          s => s.getField("t")), "\n").as("chunk_text"))
    phase1.groupBy("conv_id")
      .agg(sum(col("n_turns")).as("n_turns"),
        array_join(transform(array_sort(collect_list(struct(col("salt"), col("chunk_text").as("t")))),
          s => s.getField("t")), "\n").as("conv_text"))
  }

  /** Stable per-turn ordering as a window: dense position of each turn
    * within its conversation (for alignment joins against fixtures).
    */
  def withTurnRank(turns: DataFrame): DataFrame =
    turns.withColumn("turn_rank",
      row_number().over(Window.partitionBy("conv_id").orderBy("turn_idx")))
}
