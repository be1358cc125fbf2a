package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** topk_by_score must equal a row_number window top-k exactly (incl. exact
  * score ties), survive serialize/merge across partitions, and plan as a
  * partial ObjectHashAggregate (no global per-group sort).
  */
class TopKAggregateSpec extends AnyFunSuite with SparkSuite {
  override protected def conf = Map("spark.sql.extensions" -> classOf[GraftExtensions].getName)

  private def scored = {
    val rows = for (q <- 0L until 6L; n <- 0L until 200L)
      yield (q, n, math.floor(math.sin(q * 200 + n) * 4) / 4.0) // many exact ties
    spark.createDataFrame(rows).toDF("query_id", "neighbor_id", "sim").repartition(13)
  }

  test("equals window row_number top-k exactly, including ties") {
    scored.createOrReplaceTempView("scored_topk")
    val got = spark.sql(
      """SELECT query_id, t.id AS neighbor_id, pos + 1 AS rank, t.score AS sim
        |FROM (SELECT query_id, topk_by_score(sim, neighbor_id, 7) AS top
        |      FROM scored_topk GROUP BY query_id)
        |LATERAL VIEW posexplode(top) AS pos, t""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> ((r.getLong(1), r.getDouble(3)))).toMap
    val want = scored.withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= 7)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.size == 42)
    assert(got == want)
  }

  test("plans as partial ObjectHashAggregate, no Window/Sort per group") {
    scored.createOrReplaceTempView("scored_topk2")
    val df = spark.sql(
      "SELECT query_id, topk_by_score(sim, neighbor_id, 3) FROM scored_topk2 GROUP BY query_id")
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_topk_by_score"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("implicit input casts: int score and int id columns work from SQL") {
    val tiny = spark.createDataFrame(Seq((1, 10, 5), (1, 11, 9))).toDF("q", "n", "cnt")
    tiny.createOrReplaceTempView("intcols_topk")
    val r = spark.sql("SELECT topk_by_score(cnt, n, 2) FROM intcols_topk GROUP BY q")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(r.map(x => (x.getLong(0), x.getDouble(1))) == Seq((11L, 9.0), (10L, 5.0)))
  }

  test("NaN scores never wedge the heap (NaN sorts greatest, like window order)") {
    val rows = Seq((1L, 1L, Double.NaN), (1L, 2L, 0.5), (1L, 3L, 0.9), (1L, 4L, 0.1))
    spark.createDataFrame(rows).toDF("query_id", "neighbor_id", "sim").repartition(3)
      .createOrReplaceTempView("nan_topk")
    val r = spark.sql("SELECT topk_by_score(sim, neighbor_id, 2) FROM nan_topk GROUP BY query_id")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    // NaN ranks first (greatest), then 0.9 — the 0.9 row must not be blocked
    assert(r.map(_.getLong(0)) == Seq(1L, 3L), r.mkString("|"))
  }

  test("wrong arity fails analysis with a clear message") {
    spark.createDataFrame(Seq((1L, 2L, 0.5))).toDF("q", "n", "s")
      .createOrReplaceTempView("arity_topk")
    val e = intercept[Exception] {
      spark.sql("SELECT topk_by_score(s, n) FROM arity_topk GROUP BY q").collect()
    }
    assert(e.getMessage.contains("3 arguments") || e.getMessage.contains("topk_by_score"))
  }

  test("fewer rows than k, and k=1") {
    val tiny = spark.createDataFrame(Seq((1L, 10L, 0.5), (1L, 11L, 0.9))).toDF("query_id", "neighbor_id", "sim")
    tiny.createOrReplaceTempView("tiny_topk")
    val r = spark.sql("SELECT topk_by_score(sim, neighbor_id, 5) FROM tiny_topk GROUP BY query_id")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(r.map(x => (x.getLong(0), x.getDouble(1))) == Seq((11L, 0.9), (10L, 0.5)))
    val r1 = spark.sql("SELECT topk_by_score(sim, neighbor_id, 1) FROM tiny_topk GROUP BY query_id")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(r1.map(x => (x.getLong(0), x.getDouble(1))) == Seq((11L, 0.9)))
  }
}
