package graft.functions

import graft.SparkSuite
import graft.core._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native Catalyst expressions must agree exactly with the pure core,
  * survive codegen, and register via SparkSessionExtensions.
  */
class NativeExpressionSpec extends AnyFunSuite with SparkSuite {
  override protected def cores: Int = 2
  override protected def conf = Map("spark.sql.extensions" -> classOf[GraftExtensions].getName)

  private val samples = Seq(
    "[b]hello[/b] world",
    "[list][*]a[*]b[/list]",
    "[code]x < y && z[/code]",
    "\\[b]escaped\\[/b]",
    "plain [ stray",
    "[quote=u]q[/quote] <html> & \"x\"",
    ""
  )

  test("native expressions equal UDF path and pure core (via extensions)") {
    // a new session resolves the names through the extensions alone: the
    // suite session's GraftFunctions.register temp functions stay behind
    val s = spark.newSession(); import s.implicits._
    val df = samples.toDF("t")
    df.createOrReplaceTempView("samples")
    val rows = s.sql(
      """SELECT t, bbcode_strip_native(t) AS ns, bbcode_to_html_native(t) AS nh,
        |       html_strip_native(t) AS nhs, bbcode_tag_count_native(t) AS nc
        |FROM samples""".stripMargin).collect()
    rows.foreach { r =>
      val t = r.getString(0)
      val doc = BBCodeParser.parse(t, TagAttributes.bbcodeCanonical)
      assert(r.getString(1) == Transform.textTransform(doc), s"strip: $t")
      assert(r.getString(2) == BBCodeToHtml(doc), s"render: $t")
      assert(r.getString(3) == Transform.textTransform(HtmlParser.parse(t, Map.empty)), s"html: $t")
      assert(r.getInt(4) == doc.tagNodes.length, s"count: $t")
    }
  }

  test("rollhash_native: recurrence parity, empty string = seed, code points, null") {
    val s = spark; import s.implicits._
    def expected(t: String): Long = {
      var h = 7L
      var i = 0
      while (i < t.length) {
        val cp = t.codePointAt(i)
        h = (h * 31 + cp) % 1000000007L
        i += Character.charCount(cp)
      }
      h
    }
    // empty string hashes to the seed (the DuckDB oracle's definition:
    // range(1,1) is empty); supplementary char counts as ONE code point
    val cases = Seq("", "a", "hello world", "a😀b", "x" * 500)
    val df = cases.toDF("t")
    df.createOrReplaceTempView("rh_samples")
    val rows = spark.sql("SELECT t, rollhash_native(t) FROM rh_samples").collect()
    rows.foreach(r => assert(r.getLong(1) == expected(r.getString(0)), s"'${r.getString(0).take(20)}'"))
    assert(expected("") == 7L)
    // null propagates
    assert(spark.sql("SELECT rollhash_native(cast(NULL AS string))").head().isNullAt(0))
  }

  test("expression survives codegen and constant folding") {
    val df = spark.sql("SELECT bbcode_strip_native('[b]x[/b]') AS s")
    assert(df.head().getString(0) == "x")
    // non-literal path exercises doGenCode
    val s = spark; import s.implicits._
    val big = (1 to 1000).map(i => s"[b]v$i[/b]").toDF("t")
    val out = big.selectExpr("bbcode_strip_native(t) AS s").agg(count(when(col("s").startsWith("v"), 1))).head().getLong(0)
    assert(out == 1000L)
  }

  test("null propagates (nullIntolerant)") {
    val s = spark; import s.implicits._
    val df = Seq[Option[String]](Some("[b]a[/b]"), None).toDF("t")
    val r = df.selectExpr("bbcode_strip_native(t) AS s").collect().map(r => Option(r.getString(0)))
    assert(r.toSeq == Seq(Some("a"), None))
  }

  test("runtime registration helper works without extensions") {
    val s2 = spark.newSession()
    GraftFunctions.register(s2)
    assert(s2.sql("SELECT bbcode_to_html_native('[i]y[/i]') AS h").head().getString(0) == "<em>y</em>")
  }

  test("registration is idempotent: a repeat call replaces no function") {
    // one session set up through the extensions, one through register
    val viaExtensions = spark.newSession()
    val viaRegister = spark.newSession()
    GraftFunctions.register(viaRegister)
    val replaced = graft.LogCapture.messages(
        "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry") {
      for (s <- Seq(viaExtensions, viaRegister, viaRegister)) GraftFunctions.register(s)
    }
    assert(replaced.isEmpty, replaced)
    assert(viaExtensions.sql("SELECT rollhash_native('') AS h").head().getLong(0) == 7L)
  }

  test("array_dot is bit-identical to aggregate(zip_with) and null-intolerant") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map(_ => (Array.fill(64)(rnd.nextGaussian()),
      Array.fill(64)(rnd.nextGaussian())))
    val df = rows.toDF("a", "b")
    // bit-identical: same left-to-right accumulation order as the HOF
    // composition, so == on doubles (not tolerance) is the right assert
    val diff = df.selectExpr(
        "array_dot(a, b) AS nd",
        "aggregate(zip_with(a, b, (x, y) -> x * y), cast(0.0 AS double), (acc, x) -> acc + x) AS hd")
      .filter(col("nd") =!= col("hd")).count()
    assert(diff == 0L)
    // null array propagates; corrupt input (length mismatch, null
    // element) is SQL NULL — the HOF composition's exact semantics; a
    // corrupt pair must fall out of every `> tau` filter, never be
    // silently scored over a shared prefix. NOT NaN: Spark orders NaN
    // ABOVE every number, so a NaN sentinel would pass `> tau`
    val edge = spark.sql(
      "SELECT array_dot(cast(null AS array<double>), array(1.0d)) AS n, " +
        "array_dot(array(2.0d, 3.0d), array(10.0d)) AS mismatch, " +
        "array_dot(array(1.0d, cast(null AS double)), array(1.0d, 2.0d)) AS nullel, " +
        "array_norm2(array(1.0d, cast(null AS double))) AS nullnorm")
      .head()
    (0 to 3).foreach(i => assert(edge.isNullAt(i), s"col $i must be NULL"))
    // and a NULL similarity falls out of a threshold filter (both in the
    // constant-folded and the codegen'd non-literal path)
    val pairs = spark.createDataFrame(Seq(
      (Array(2.0, 3.0), Array(10.0)),
      (Array(1.0, 0.0), Array(1.0, 0.0)))).toDF("a", "b")
    assert(pairs.filter(expr("array_dot(a, b) > 0.5")).count() == 1L)
  }

  test("array_dot/array_norm2 on float arrays match the widened HOF composition") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 200).map(_ => (Array.fill(64)(rnd.nextFloat() - 0.5f),
      Array.fill(64)(rnd.nextFloat() - 0.5f)))
    val df = rows.toDF("a", "b")
    // the float elements must widen to double BEFORE each multiply —
    // exactly `x.cast(double) * y.cast(double)` inside zip_with
    val diff = df.selectExpr(
        "array_dot(a, b) AS nd",
        "aggregate(zip_with(a, b, (x, y) -> cast(x AS double) * cast(y AS double)), cast(0.0 AS double), (acc, x) -> acc + x) AS hd",
        "array_norm2(a) AS nn",
        "aggregate(a, cast(0.0 AS double), (acc, v) -> acc + cast(v AS double) * cast(v AS double)) AS hn")
      .filter(col("nd") =!= col("hd") || col("nn") =!= col("hn")).count()
    assert(diff == 0L)
  }
}
