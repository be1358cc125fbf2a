package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Conversation-level quality operators over transcript turn tables
  * (conv_id, turn_idx, role, text, tool): per-conversation stats, the
  * quality gate built on them, and the chat-template render that turns a
  * surviving conversation into one training document.
  *
  * Scale shape: every aggregate is a hash `groupBy(conv_id)` with map-side
  * partial combine (a hot conversation collapses before the exchange).
  * Role-alternation violations deliberately avoid the
  * `lag() OVER (PARTITION BY conv_id)` window — a 10⁹-turn conversation
  * would land on ONE reducer with no AQE skew split (windows are exempt).
  * Instead each turn equi-joins its successor on (conv_id, turn_idx+1):
  * the join key is near-unique, so the work is uniformly distributed no
  * matter how heavy one conversation is, and AQE can still split residual
  * skew because it IS a join.
  */
object ConvOps {

  /** Per-conversation quality statistics. Counts only (bit-exact across
    * engines): turns, per-role turns, tool calls, empty turns, total text
    * chars, and adjacent same-role violations.
    */
  def convStats(turns: DataFrame): DataFrame = {
    val base = turns.groupBy("conv_id").agg(
      count(lit(1)).as("n_turns"),
      sum(when(col("role") === "user", 1L).otherwise(0L)).as("n_user"),
      sum(when(col("role") === "assistant", 1L).otherwise(0L)).as("n_assistant"),
      sum(when(col("role") === "tool", 1L).otherwise(0L)).as("n_tool_role"),
      sum(when(col("tool") =!= "none" && col("tool") =!= "", 1L).otherwise(0L)).as("n_tool_calls"),
      sum(when(length(col("text")) === 0, 1L).otherwise(0L)).as("n_empty"),
      sum(length(col("text")).cast("long")).as("total_chars"))
    base.join(violations(turns), Seq("conv_id"), "left")
      .na.fill(0L, Seq("n_violations"))
  }

  /** Adjacent same-role pairs per conversation via the successor
    * equi-join (see scaladoc above for why not a window).
    */
  private def violations(turns: DataFrame): DataFrame = {
    val k = turns.select(col("conv_id"), col("turn_idx"), col("role"))
    val succ = k.select(col("conv_id"), (col("turn_idx") - 1).as("turn_idx"),
      col("role").as("next_role"))
    k.join(succ, Seq("conv_id", "turn_idx"))
      .filter(col("role") === col("next_role"))
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_violations"))
  }

  /** Conversation-level quality gate: enough turns, clean role
    * alternation (≤ `maxViolations`), and a bounded empty-turn share
    * (`n_empty * 100 ≤ maxEmptyPct * n_turns` — integer arithmetic, no
    * float thresholds). Returns surviving conversations with the deciding
    * stats attached.
    */
  def convFilter(turns: DataFrame, minTurns: Int = 3, maxViolations: Int = 0,
                 maxEmptyPct: Int = 25): DataFrame =
    convStats(turns).filter(
      col("n_turns") >= minTurns &&
        col("n_violations") <= maxViolations &&
        col("n_empty") * 100 <= col("n_turns") * maxEmptyPct)

  /** Content fingerprint of every conversation: md5 over the md5s of its
    * turns in stable order — `(conv_id, n_turns, conv_fp)`. Two
    * conversations match iff their ordered turn-content sequences match;
    * absolute `turn_idx` VALUES don't matter, order does (a re-indexed
    * copy is still a duplicate). NULL text hashes like empty text (the
    * render contract: a null must not nullify the aggregate).
    *
    * Scale shape: each turn collapses to a 32-char hash MAP-SIDE, so the
    * per-conversation aggregation state and the conv_id exchange carry
    * 32 bytes per turn — never the text (a monster transcript shuffles
    * kilobytes, not its gigabyte of content). Ties on duplicate turn_idx
    * sort by the hash, keeping the fingerprint deterministic.
    */
  def convFingerprints(turns: DataFrame, textCol: String = "text"): DataFrame =
    turns
      .select(col("conv_id"), col("turn_idx"),
        md5(coalesce(col(textCol), lit(""))).as("tfp"))
      .groupBy("conv_id").agg(
        count(lit(1)).as("n_turns"),
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("turn_idx"), col("tfp")))),
            s => s.getField("tfp")),
          "")).as("conv_fp"))

  /** Exact conversation dedup: keep only the turns of the first
    * (min-conv_id) conversation per content fingerprint — the transcript
    * analogue of [[graft.ops.DedupOps.exactDupReps]]. Returns the
    * surviving rows of `turns` unchanged. The keeper derivation works on
    * (conv_id, fp) rows only; the turn rows rejoin by conv_id (AQE
    * broadcasts the keeper set when it fits, shuffle-joins otherwise).
    */
  def dedupConversations(turns: DataFrame, textCol: String = "text"): DataFrame = {
    val keepers = convFingerprints(turns, textCol)
      .groupBy("conv_fp").agg(min("conv_id").as("conv_id"))
      .select("conv_id")
    turns.join(keepers, Seq("conv_id"), "left_semi")
  }

  /** Near-duplicate conversation pairs by turn-content overlap:
    * `(id_a, id_b, inter, union)` where Jaccard over the conversations'
    * DISTINCT turn-fingerprint sets ≥ `threshold` and id_a < id_b —
    * re-orderings, partial edits, and re-indexed copies all surface (the
    * review-thread / retry-storm shape exact dedup misses). Output stays
    * integer-exact; the threshold test is `inter ≥ threshold·union`.
    *
    * This is the EXACT path, not a sketch: a conversation has 10–10⁴
    * turns, so the per-conv set is tiny and the fp equi-join is the right
    * scale shape (contrast [[graft.ops.DedupOps.minhashNearDups]], where
    * document shingle sets force MinHash). Only (conv_id, 32-char fp)
    * rows ever shuffle. `maxTurnDf` drops turn fingerprints appearing in
    * more conversations than the cap before the self-join — the viral
    * boilerplate turn ("ok", empty) whose bucket would otherwise go
    * quadratic, same contract as minhash's `maxBucket`.
    */
  def convNearDups(turns: DataFrame, textCol: String = "text",
                   threshold: Double = 0.5,
                   maxTurnDf: Int = Int.MaxValue): DataFrame = {
    val tf = turns.select(col("conv_id"),
      md5(coalesce(col(textCol), lit(""))).as("tfp")).distinct()
    val kept =
      if (maxTurnDf == Int.MaxValue) tf
      else {
        val dfc = tf.groupBy("tfp").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxTurnDf)
        tf.join(dfc, Seq("tfp")).drop("df")
      }
    val sizes = kept.groupBy("conv_id").agg(count(lit(1)).as("n"))
    val inter = kept.as("a")
      .join(kept.as("b"),
        col("a.tfp") === col("b.tfp") && col("a.conv_id") < col("b.conv_id"))
      .groupBy(col("a.conv_id").as("id_a"), col("b.conv_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("conv_id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("conv_id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .withColumn("union", col("na") + col("nb") - col("inter"))
      .filter(col("inter") >= lit(threshold) * col("union"))
      .select("id_a", "id_b", "inter", "union")
  }

  /** Render each conversation into one role-tagged training document:
    * turns in stable (conv_id, turn_idx) order, each prefixed
    * `<|role|>`, joined with newlines. Sorting happens inside the
    * collected array (never by partition luck); the one-row-per-conv
    * output bound is inherent to the contract, as with
    * [[ConvAssembly.assemble]] — use [[ConvAssembly.assembleSalted]]'s
    * two-phase shape when turn-count skew is heavy.
    */
  def renderChatTemplate(turns: DataFrame, textCol: String = "text"): DataFrame =
    turns.groupBy("conv_id").agg(
      count(lit(1)).as("n_turns"),
      array_join(
        transform(
          array_sort(collect_list(struct(col("turn_idx"),
            // null text/role coalesce to "": a null would nullify the
            // concat and array_join would then silently DROP the turn,
            // desynchronizing the render from the turn count
            concat(lit("<|"), coalesce(col("role"), lit("")), lit("|>"),
              coalesce(col(textCol), lit(""))).as("t")))),
          s => s.getField("t")),
        "\n").as("training_text"))
}
