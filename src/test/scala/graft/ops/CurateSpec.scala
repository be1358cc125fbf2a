package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-curation operators: the two-phase budget selection must equal
  * the global-window reference exactly (including at the cutoff
  * boundary), the bounded-heap per-group cap must equal the row_number
  * reference, temperature mixing must follow its documented rate formula,
  * and every result must be independent of the input partition layout.
  */
class CurateSpec extends AnyFunSuite with SparkSuite {
  /** 400 docs over 4 skewed groups (g3 holds ~70%), deterministic texts
    * of varying token counts; badly partitioned on purpose.
    */
  private def corpus(parts: Int = 7): DataFrame = {
    val s = spark
    import s.implicits._
    (0 until 400).map { i =>
      val grp = "g" + math.min(i % 10, 3)
      val text = Iterator.tabulate(1 + i % 17)(j => s"tok${(i * 31 + j) % 50}").mkString(" ")
      (i.toLong, grp, text)
    }.toDF("doc_id", "grp", "text").repartition(parts)
  }

  private def budgetReference(df: DataFrame, budget: Long): DataFrame =
    df.select(col("doc_id"), length(col("text")).cast("double").as("pri"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens",
        sum(col("n_tokens")).over(Window.orderBy(col("pri").desc, col("doc_id"))))
      .filter(col("cum_tokens") <= budget)
      .select("doc_id", "n_tokens", "cum_tokens")

  test("budgetSelect equals the global-window reference at several budgets") {
    val df = corpus()
    for (budget <- Seq(0L, 37L, 500L, 2000L, 1000000L)) {
      val got = CurateOps.budgetSelect(df, "doc_id", length(col("text")),
        TextOps.tokenCount(col("text")), budget).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val ref = budgetReference(df, budget).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == ref, s"budget=$budget: got ${got.size} ref ${ref.size}; " +
        s"diff=${(got diff ref) ++ (ref diff got)}")
    }
    // the giant budget keeps the whole corpus
    val all = CurateOps.budgetSelect(df, "doc_id", length(col("text")),
      TextOps.tokenCount(col("text")), 1000000L)
    assert(all.count() == 400)
  }

  test("budgetSelect boundary: a document landing exactly on the budget is kept") {
    val s = spark
    import s.implicits._
    // priorities force order c, b, a; token counts 3, 2, 4
    val df = Seq((1L, 30.0, "a a a a"), (2L, 20.0, "b b"), (3L, 10.0, "c c c"))
      .toDF("doc_id", "pri", "text")
    // order by pri desc: doc1 (4 toks, cum 4), doc2 (2, cum 6), doc3 (3, cum 9)
    val kept6 = CurateOps.budgetSelect(df, "doc_id", col("pri"),
      TextOps.tokenCount(col("text")), 6L).collect().map(_.getLong(0)).toSet
    assert(kept6 == Set(1L, 2L), s"cum==budget must be kept: $kept6")
    val kept5 = CurateOps.budgetSelect(df, "doc_id", col("pri"),
      TextOps.tokenCount(col("text")), 5L).collect().map(_.getLong(0)).toSet
    assert(kept5 == Set(1L), s"cum>budget must drop: $kept5")
  }

  test("budgetSelect is partition-layout independent") {
    val a = CurateOps.budgetSelect(corpus(3), "doc_id", length(col("text")),
      TextOps.tokenCount(col("text")), 900L).collect().map(_.getLong(0)).toSet
    val b = CurateOps.budgetSelect(corpus(13), "doc_id", length(col("text")),
      TextOps.tokenCount(col("text")), 900L).collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("budgetSelect survives null text (cost 0, priority last, no NPE)") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Option("a b c")), (2L, None), (3L, Option("d e")))
      .toDF("doc_id", "text")
    val got = CurateOps.budgetSelect(df, "doc_id", length(col("text")),
      TextOps.tokenCount(col("text")), 100L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 3L -> 2L, 2L -> 0L), got.toString)
  }

  test("capPerGroup equals the row_number reference, including the hot group") {
    val df = corpus()
    val score = length(col("text")).cast("double") * lit(1048576.0) -
      col("doc_id").cast("double")
    val got = CurateOps.capPerGroup(df, "doc_id", "grp", score, 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val ref = df.withColumn("rank",
        row_number().over(Window.partitionBy("grp")
          .orderBy(length(col("text")).desc, col("doc_id"))))
      .filter(col("rank") <= 5)
      .select(col("grp"), col("doc_id"), col("rank").cast("int")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == ref, s"diff=${(got diff ref) ++ (ref diff got)}")
    assert(got.count(_._1 == "g3") == 5, "hot group must be capped at n")
  }

  test("capPerGroup with cap larger than every group keeps everything ranked") {
    val got = CurateOps.capPerGroup(corpus(), "doc_id", "grp",
      -col("doc_id").cast("double"), 1000)
    assert(got.count() == 400)
    // rank 1 of each group is its smallest doc_id (score = -id, best first)
    val top = got.filter(col("rank") === 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(top == Map("g0" -> 0L, "g1" -> 1L, "g2" -> 2L, "g3" -> 3L), top.toString)
  }

  test("mixByTemperature follows the documented rate formula and is content-stable") {
    val df = corpus()
    val got = CurateOps.mixByTemperature(df, "doc_id", "text", "grp",
      alpha = 0.5, seed = "t1")
    val rates = got.select("grp", "rate_mille").distinct().collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val counts = df.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = counts.values.min
    for ((g, n) <- counts if rates.contains(g))
      assert(rates(g) == math.floor(1000.0 * math.sqrt(nMin.toDouble / n)).toInt,
        s"group $g rate ${rates(g)} vs formula")
    // smallest groups keep everything
    val keptPerGroup = got.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (g <- Seq("g0", "g1", "g2"))
      assert(keptPerGroup(g) == counts(g), s"smallest-rate group $g must be kept whole")
    // hot group genuinely down-sampled
    assert(keptPerGroup("g3") < counts("g3"))
    // layout-independent
    val again = CurateOps.mixByTemperature(corpus(13), "doc_id", "text", "grp",
      alpha = 0.5, seed = "t1").collect().map(_.getLong(0)).toSet
    assert(again == got.collect().map(_.getLong(0)).toSet)
  }

  test("mixByTemperature alpha=1 keeps the raw distribution (rate 1000 everywhere)") {
    val got = CurateOps.mixByTemperature(corpus(), "doc_id", "text", "grp", alpha = 1.0)
    assert(got.count() == 400)
    assert(got.select("rate_mille").distinct().collect().map(_.getInt(0)).toSeq == Seq(1000))
  }

  test("plan: capPerGroup uses the bounded-heap aggregate, not a window") {
    val plan = CurateOps.capPerGroup(corpus(), "doc_id", "grp",
      -col("doc_id").cast("double"), 3).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"expected window-free plan:\n$plan")
    assert(plan.contains("topk_by_score") || plan.contains("TopKByScore"),
      s"expected the native bounded-heap aggregate:\n$plan")
  }

  // ---- dataCard -----------------------------------------------------------

  test("dataCard: hand-computed card incl. dominant-language tie and empty docs") {
    val d = spark.createDataFrame(Seq(
      (1L, "a b c", "en", "web"),       // 3 tokens, 5 chars
      (2L, "d e", "en", "web"),         // 2 tokens, 3 chars
      (3L, "f g h i", "fr", "web"),     // 4 tokens, 7 chars
      (4L, "", "fr", "web"),            // empty (0 tokens, 0 chars)
      (5L, "j", "de", "books"),         // TIE in books: de=1, en=1 -> de wins
      (6L, "k l", "en", "books"),
      (7L, null.asInstanceOf[String], "en", "web") // null text == token-free
    )).toDF("doc_id", "text", "lang", "source")
    val out = CurateOps.dataCard(d, "source", "text", "lang")
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5), r.getDouble(6), r.getDouble(7)))
    assert(out.toSeq == Seq(
      ("books", 2L, 3L, 0L, 2L, "de", 1.5, 2.0),
      // web: 5 docs, 9 tokens, 2 empty (one "" + one null), 2 langs,
      // en dominates 3 (incl. the null-text doc) vs fr 2
      ("web", 5L, 9L, 2L, 2L, "en", 1.8, 3.0)))
    // an all-null-text source reports zeros, never NULL aggregates
    val n = spark.createDataFrame(Seq((1L, null.asInstanceOf[String], "en", "void")))
      .toDF("doc_id", "text", "lang", "source")
    val row = CurateOps.dataCard(n, "source", "text", "lang").collect()(0)
    assert(row.getLong(1) == 1L && row.getLong(2) == 0L && row.getLong(3) == 1L)
    assert(row.getDouble(6) == 0.0 && row.getDouble(7) == 0.0)
  }

  test("dataCard plans as aggregates only — no window, no text above the scan") {
    val d = corpus().withColumn("lang", lit("en")).withColumn("text", lit("a b"))
    val plan = CurateOps.dataCard(d, "grp", "text", "lang")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"dominant-language pick must be an aggregate:\n$plan")
  }
}
