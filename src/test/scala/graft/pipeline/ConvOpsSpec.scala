package graft.pipeline

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Conversation-level quality operators: the skew-safe successor-join
  * violation count must equal the window-lag reference exactly (including
  * on a planted monster conversation and on gappy turn indices), the gate
  * must apply its documented thresholds, the render must be order-stable,
  * and the stats plan must contain NO window operator (the scale
  * property the successor join exists for).
  */
class ConvOpsSpec extends AnyFunSuite with SparkSuite {
  /** Deterministic corpus: 30 conversations with role cycles of different
    * periods (so some alternate cleanly and some repeat), a planted
    * 2,000-turn monster conversation, empty turns, and one conversation
    * with GAPPY turn indices (0, 2, 4, …) — adjacent-by-index semantics
    * must follow turn_idx arithmetic, exactly like the production
    * operator's contract.
    */
  private def corpus(): DataFrame = {
    val s = spark
    import s.implicits._
    val roles = Vector("user", "assistant", "assistant", "tool")
    val rows = (0 until 3000).map { i =>
      val conv = if (i < 2000) "cBIG" else "c%02d".format(i % 30)
      val turn = if (i < 2000) i else i / 30
      val role = roles((turn * (1 + i % 2)) % 4)
      val text = if (i % 7 == 0) "" else s"turn text $i"
      val tool = if (role == "tool") "search" else "none"
      (conv, turn, role, text, tool)
    } ++ Seq(
      ("cGAP", 0, "user", "a", "none"), ("cGAP", 2, "user", "b", "none"),
      ("cGAP", 3, "assistant", "c", "none"))
    rows.toDF("conv_id", "turn_idx", "role", "text", "tool")
  }

  test("violation count equals the window-lag reference on every conversation") {
    val t = corpus()
    val ref = t
      .withColumn("prev_role",
        lag(col("role"), 1).over(Window.partitionBy("conv_id").orderBy("turn_idx")))
      .withColumn("prev_idx",
        lag(col("turn_idx"), 1).over(Window.partitionBy("conv_id").orderBy("turn_idx")))
      .filter(col("prev_role") === col("role") && col("prev_idx") === col("turn_idx") - 1)
      .groupBy("conv_id").agg(count(lit(1)).as("ref_violations"))
    val got = ConvOps.convStats(t).select("conv_id", "n_violations")
    val joined = got.join(ref, Seq("conv_id"), "full")
      .na.fill(0L, Seq("n_violations", "ref_violations"))
      .filter(col("n_violations") =!= col("ref_violations"))
    assert(joined.count() == 0, joined.collect().mkString("; "))
    // gappy conversation: turns 0 and 2 share a role but are NOT adjacent
    // by index — must not count; 2 and 3 differ in role — must not count
    val gap = got.filter(col("conv_id") === "cGAP").collect()
    assert(gap.length == 1 && gap.head.getLong(1) == 0L, gap.mkString)
  }

  test("stats add up on the monster conversation") {
    val row = ConvOps.convStats(corpus()).filter(col("conv_id") === "cBIG").collect().head
    assert(row.getAs[Long]("n_turns") == 2000)
    assert(row.getAs[Long]("n_user") + row.getAs[Long]("n_assistant") +
      row.getAs[Long]("n_tool_role") == 2000)
    assert(row.getAs[Long]("n_tool_calls") == row.getAs[Long]("n_tool_role"))
    assert(row.getAs[Long]("n_empty") > 0)
  }

  test("convFilter applies its documented thresholds exactly") {
    val stats = ConvOps.convStats(corpus()).collect()
      .map(r => r.getAs[String]("conv_id") ->
        (r.getAs[Long]("n_turns"), r.getAs[Long]("n_violations"), r.getAs[Long]("n_empty")))
      .toMap
    val kept = ConvOps.convFilter(corpus(), minTurns = 3, maxViolations = 0, maxEmptyPct = 25)
      .select("conv_id").collect().map(_.getString(0)).toSet
    val expected = stats.collect {
      case (c, (n, v, e)) if n >= 3 && v == 0 && e * 100 <= n * 25 => c
    }.toSet
    assert(kept == expected, s"kept=$kept expected=$expected")
    assert(kept.nonEmpty && kept.size < stats.size, "gate must be non-trivial on this corpus")
  }

  test("renderChatTemplate is order-stable and role-tagged") {
    val s = spark
    import s.implicits._
    // feed turns deliberately out of order and badly partitioned
    val t = Seq(
      ("c1", 2, "user", "third", "none"),
      ("c1", 0, "user", "first", "none"),
      ("c1", 1, "assistant", "second", "none"))
      .toDF("conv_id", "turn_idx", "role", "text", "tool")
      .repartition(4)
    val got = ConvOps.renderChatTemplate(t).collect().head
    assert(got.getAs[String]("training_text") ==
      "<|user|>first\n<|assistant|>second\n<|user|>third")
    assert(got.getAs[Long]("n_turns") == 3)
  }

  test("renderChatTemplate keeps null-text turns instead of dropping them") {
    val s = spark
    import s.implicits._
    val t = Seq(
      ("c1", 0, "user", Option("hi"), "none"),
      ("c1", 1, "assistant", None, "none"),
      ("c1", 2, "user", Option("bye"), "none"))
      .toDF("conv_id", "turn_idx", "role", "text", "tool")
    val got = ConvOps.renderChatTemplate(t).collect().head
    // a null text must render as an empty turn, not vanish (array_join
    // silently drops null elements)
    assert(got.getAs[String]("training_text") ==
      "<|user|>hi\n<|assistant|>\n<|user|>bye")
    assert(got.getAs[Long]("n_turns") == 3)
  }

  test("plan: convStats contains no Window operator (skew-safe shape)") {
    val plan = ConvOps.convStats(corpus()).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"expected window-free plan:\n$plan")
  }

  private def convRows(rows: Seq[(String, Int, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (c, i, t) => (c, i, "user", t, "none") }
      .toDF("conv_id", "turn_idx", "role", "text", "tool")
  }

  test("convFingerprints: order-sensitive, index-value-insensitive, null==empty") {
    val fps = ConvOps.convFingerprints(convRows(Seq(
        ("a", 0, "x"), ("a", 1, "y"),
        ("b", 5, "x"), ("b", 9, "y"),   // re-indexed copy of a — same fp
        ("c", 0, "y"), ("c", 1, "x"),   // same turns, swapped order — differs
        ("d", 0, ""), ("e", 0, ""))))   // empty matches empty
      .collect().map(r => (r.getString(0), r.getString(2))).toMap
    assert(fps("a") === fps("b"))
    assert(fps("a") !== fps("c"))
    assert(fps("d") === fps("e"))
    val s = spark
    import s.implicits._
    val withNull = Seq(("f", 0, "user", Option.empty[String], "none"))
      .toDF("conv_id", "turn_idx", "role", "text", "tool")
    val fNull = ConvOps.convFingerprints(withNull).collect().head.getString(2)
    assert(fNull === fps("d"), "null text must fingerprint like empty text")
  }

  test("dedupConversations: first conv_id wins; distinct content survives") {
    val t = convRows(Seq(
      ("a", 0, "x"), ("a", 1, "y"),
      ("b", 0, "x"), ("b", 1, "y"),   // dup of a — drops
      ("c", 0, "x")))                 // distinct — survives
    val kept = ConvOps.dedupConversations(t)
      .select("conv_id").distinct().collect().map(_.getString(0)).toSet
    assert(kept === Set("a", "c"))
  }

  test("convNearDups: hand-computed jaccard, threshold, and df-cut") {
    // a={x,y,z,w}, b={x,y,z,q}: inter 3, union 5, j=0.6 -> pair at 0.5
    // c={x}: j(a,c)=0.25 — below threshold
    val t = convRows(Seq(
      ("a", 0, "x"), ("a", 1, "y"), ("a", 2, "z"), ("a", 3, "w"),
      ("b", 0, "x"), ("b", 1, "y"), ("b", 2, "z"), ("b", 3, "q"),
      ("c", 0, "x")))
    val got = ConvOps.convNearDups(t, threshold = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(("a", "b", 3L, 5L)))
    // df-cut: "x" appears in 3 convs; cap 2 removes it everywhere ->
    // inter(a,b) drops to 2 of union 4, still 0.5; j(a,c) becomes 0/…
    val cut = ConvOps.convNearDups(t, threshold = 0.5, maxTurnDf = 2)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3)))
    assert(cut.toSeq === Seq(("a", "b", 2L, 4L)))
  }

  test("convNearDups: duplicate turns collapse to the distinct fp set") {
    // repeated identical turns count once per conversation (set semantics)
    val t = convRows(Seq(
      ("a", 0, "x"), ("a", 1, "x"), ("a", 2, "y"),
      ("b", 0, "x"), ("b", 1, "y"), ("b", 2, "y")))
    val got = ConvOps.convNearDups(t, threshold = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(("a", "b", 2L, 2L))) // both sets are {x,y}
  }

  test("plan: conv fingerprint/near-dup exchanges never carry text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = {
      def walk(n: SparkPlan): Seq[SparkPlan] = {
        val self = n match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case other => Seq(other)
        }
        self ++ n.children.flatMap(walk)
      }
      walk(p).collect { case s: ShuffleExchangeExec => s }
    }
    for (df <- Seq(ConvOps.convFingerprints(corpus()),
        ConvOps.convNearDups(corpus()))) {
      val ex = exchanges(df.queryExecution.executedPlan)
      assert(ex.nonEmpty, "expected the conv_id/fp exchange")
      for (e <- ex; attr <- e.output)
        assert(attr.name != "text",
          s"text crosses an exchange: ${e.output.mkString(", ")}")
    }
  }
}
