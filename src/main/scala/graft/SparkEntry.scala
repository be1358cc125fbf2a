package graft

import graft.functions.{ArrayDotExpr, ArrayNorm2Expr, BBCodeRenderExpr, BBCodeStripExpr, HtmlStripExpr}
import graft.ops.{BloomOps, ClassifyOps, CurateOps, DedupOps, JoinOps, LmOps, MediaOps, PackOps, PdfOps, RetrievalOps, ShuffleOps, SimOps, TextOps, WebOps}
import graft.pipeline.{ConvAssembly, ConvOps, ExtractJob, SpanLineage, TranscriptGen, Turn, Udfs}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract: one [[SparkEntry.Q]] registry entry per implemented
  * operator, holding its Spark build and, wherever the semantics are
  * SQL-expressible, an equivalent DuckDB-runnable ANSI-SQL oracle;
  * `queries` and `oracleSql` are views over that registry.
  * Parse/transform FSM operators additionally get
  * *constructed* oracles: markup is built in-query around the markup-free
  * `documents.text` corpus, so the expected output is expressible in pure
  * SQL by construction while the Spark side exercises the real parser.
  *
  * Column names and row ordering are aligned between each query and its
  * oracle. Float aggregation goes through decimal for bit-exact results.
  */
object SparkEntry {

  /** Flagship: the transcript extraction pipeline on generated data. */
  def entry(spark: SparkSession): DataFrame = {
    val turns = TranscriptGen.turns(spark, 2000, seed = 42, partitions = 8)
    ExtractJob.extract(turns).toDF()
      .select("conv_id", "turn_idx", "role", "plain_text", "html", "n_tags")
      .orderBy("conv_id", "turn_idx")
  }

  /** Scale-adaptive scan fan-out (guide §2/§6): when a parquet scan yields
    * fewer splits than the session's parallelism — the local test SFs are
    * one row group per table, so every scan is otherwise a SINGLE task and
    * all per-row compute (tokenize, shingle, signature, parse, regex) runs
    * on one core — round-robin repartition to `defaultParallelism`. At
    * production scale a corpus scan has orders of magnitude more splits
    * than cores, the guard is false, and NO shuffle is added — the
    * operators' text-never-crosses-an-exchange shape is preserved exactly
    * where it matters. Parameterised by the session's own core count, never
    * a constant.
    *
    * Applied SELECTIVELY (as [[docsHeavy]]) after per-query A/B
    * measurement: the extra exchange + query stage costs a flat ~0.3 s
    * locally, so only queries whose per-row compute dominates (regex /
    * shingle / MinHash-signature / FSM-parse / PDF / image-hash paths) use
    * it — measured 2-6x on those; shuffle-bound or trivial-per-row queries
    * keep the raw scan.
    *
    * Determinism: round-robin repartition is content-independent and every
    * widened query's output is an orderBy over unique keys with exact
    * (integer / decimal-rounded / order-independent) aggregates, so results
    * are identical under any partitioning. The one layout-sensitive path in
    * the codebase (SimOps float centroid refinement) reads `emb`, which is
    * deliberately never widened; q_window_running's window ties on the
    * non-unique (l_orderkey, l_linenumber) likewise pin its scan to file
    * order.
    */
  private def widen(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // the split count of the planned scan node itself: no RDD of rows is
    // built and no second, adaptive query execution is planned for it (a
    // frame without a file scan is left as it is)
    val narrow = df.queryExecution.sparkPlan.collectFirst {
      case scan: FileSourceScanExec => scan.inputRDD.getNumPartitions
    }.exists(_ < p)
    if (narrow) df.repartition(p) else df
  }

  private def docs(s: SparkSession, dir: String) = s.read.parquet(s"$dir/documents.parquet")
  /** The documents scan fanned out for compute-heavy per-row work. */
  private def docsHeavy(s: SparkSession, dir: String) = widen(docs(s, dir))
  private def emb(s: SparkSession, dir: String) = s.read.parquet(s"$dir/embeddings.parquet")

  /** Deterministic BBCode transcript table constructed from `documents`:
    * five markup shapes (well-formed, list items, malformed/unclosed,
    * preformatted, escapable text) wrapped around the markup-free doc text,
    * so the pipeline's expected plain/html/tag-count/span outputs are
    * expressible in pure SQL while the Spark side runs the real FSM
    * parse + render + escape through the real mapPartitions pipeline.
    */
  private def constructedTurns(s: SparkSession, dir: String): Dataset[Turn] =
    docs(s, dir).select(
      concat(lit("c"), (col("doc_id") % 50).cast("string")).as("conv_id"),
      expr("cast(doc_id div 50 as int)").as("turn_idx"),
      element_at(array(lit("user"), lit("assistant"), lit("tool")),
        (col("doc_id") % 3).cast("int") + 1).as("role"),
      expr("""CASE cast(doc_id % 5 as int)
        WHEN 0 THEN concat('[b]', text, '[/b]')
        WHEN 1 THEN concat('[list][*]', text, '[*]tail[/list]')
        WHEN 2 THEN concat(text, ' [b')
        WHEN 3 THEN concat('[code]', text, '[/code]')
        ELSE concat(text, ' <&> "q"') END""").as("text"),
      lit("none").as("tool"),
      lit("2024-01-01 00:00:00").cast("timestamp").as("ts")
    ).as[Turn](Encoders.product[Turn])

  /** HTML-dialect variant: boilerplate div, void <br>, a comment (kept as
    * text by the reference parser), and raw-text <script>.
    */
  private def constructedHtmlTurns(s: SparkSession, dir: String): Dataset[Turn] =
    docs(s, dir).select(
      concat(lit("c"), (col("doc_id") % 50).cast("string")).as("conv_id"),
      expr("cast(doc_id div 50 as int)").as("turn_idx"),
      lit("user").as("role"),
      expr("""CASE cast(doc_id % 4 as int)
        WHEN 0 THEN concat('<div class="x">', text, '</div>')
        WHEN 1 THEN concat('<p>', text, '<br>tail</p>')
        WHEN 2 THEN concat('<!--c-->', text)
        ELSE concat('<script>s</script>', text) END""").as("text"),
      lit("none").as("tool"),
      lit("2024-01-01 00:00:00").cast("timestamp").as("ts")
    ).as[Turn](Encoders.product[Turn])

  private def purge(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(purge)
    f.delete(): Unit
  }

  /** This JVM's own temp root for the on-disk index queries, made on
    * first use and deleted by a shutdown hook: two JVMs on one host
    * (e.g. two `graft.Verify` runs) never share a scratch path. A JVM that
    * is killed without running its hooks (SIGKILL, an OOM kill) leaves its
    * `graft_scratch_*` dir in the tmpdir; nothing reads it again.
    */
  private lazy val scratchRoot: java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("graft_scratch_").toFile
    sys.addShutdownHook(purge(d))
    d
  }

  /** Scratch dir for queries that exercise on-disk index round trips: one
    * path per query name under [[scratchRoot]], deleted up front — a
    * repeated build in one JVM (bench ladder runs) overwrites instead of
    * accumulating a fresh corpus-sized index directory per invocation.
    */
  private def scratchDir(name: String): String = {
    val d = new java.io.File(scratchRoot, name)
    purge(d)
    d.getAbsolutePath
  }

  /** Deterministic conversation table for the conversation-level quality
    * operators, shaped so the stats are non-trivial AND SQL-derivable:
    * role = index ((turn_idx) * (1 + conv % 2)) % 4 into
    * [user, assistant, assistant, tool] — odd conversations alternate
    * user/assistant cleanly (0 violations), even ones repeat assistant
    * once per cycle (violations > 0); every 7th doc is an empty turn.
    */
  private def convTurns(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      concat(lit("c"), lpad((col("doc_id") % 40).cast("string"), 2, "0")).as("conv_id"),
      expr("cast(doc_id div 40 as int)").as("turn_idx"),
      element_at(
        array(lit("user"), lit("assistant"), lit("assistant"), lit("tool")),
        expr("cast(((doc_id div 40) * (1 + (doc_id % 40) % 2)) % 4 as int)") + 1).as("role"),
      when(col("doc_id") % 7 === 0, lit("")).otherwise(col("text")).as("text"),
      when(expr("((doc_id div 40) * (1 + (doc_id % 40) % 2)) % 4 = 3"),
        lit("search")).otherwise(lit("none")).as("tool"))

  /** Planted-twin ANN queries: vec_id+100000 with the first coordinate
    * perturbed by +0.001 — organic max cosine in this corpus is 0.51, the
    * twin is ~1.0, so the true top-1 of every query is its original vector
    * and the expected result is exact (used by the LSH/IVF recall oracles).
    */
  private def twinQueries(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 25).select(
      (col("vec_id") + 100000).as("vec_id"),
      transform(col("embedding"), (x, i) => when(i === 0, x + lit(0.001f)).otherwise(x))
        .as("embedding"))

  /** A Column over one of the native Catalyst expressions, applied to `c`. */
  private def native(f: Expression => Expression, c: Column): Column =
    GraftSqlBridge.column(f(GraftSqlBridge.expression(c)))

  /** Exact money aggregation: decimal-sum then one rounding to double. */
  private def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Shared by q_contamination and q_contamination_bloom: the bloom path
    * must answer EXACTLY the broadcast-join form (the filter only prunes;
    * the verify join is exact), and binding one string enforces that
    * equivalence by construction.
    */
  private val contaminationOracle: String =
    """WITH t AS (SELECT doc_id,
      |    CASE WHEN trim(text) = '' THEN CAST([] AS varchar[])
      |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
      |  FROM documents),
      |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 5 THEN CAST([] AS varchar[])
      |    ELSE list_transform(range(1, len(toks) - 3),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]) END) AS sh
      |  FROM t),
      |b AS (SELECT DISTINCT unnest(sh) AS s FROM s WHERE doc_id % 5 = 0),
      |tr AS (SELECT doc_id, unnest(sh) AS s FROM s WHERE doc_id % 5 <> 0)
      |SELECT tr.doc_id, count(*) AS n_hits
      |FROM tr JOIN b ON tr.s = b.s
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** One query: its name, its Spark build over an sf dir, and the DuckDB
    * SQL that must give the same rows, or `None` for a rows-only query
    * whose semantics are not SQL-expressible.
    */
  final case class Q(name: String, build: (SparkSession, String) => DataFrame,
                     oracle: Option[String])

  /** Key a registry by name; a repeated name is an error, never a silently
    * dropped query.
    */
  private[graft] def byName(entries: Seq[Q]): Map[String, Q] = {
    val repeated = entries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(repeated.isEmpty, s"repeated query names: ${repeated.toSeq.sorted.mkString(", ")}")
    entries.map(q => q.name -> q).toMap
  }

  /** Every query, each with its oracle beside it. A `val` reads the `val`s
    * above it during object init, so it stays below `contaminationOracle`.
    */
  val registry: Seq[Q] = Seq(
    // ---- relational pipeline ops -----------------------------------------
    Q("q_agg_pricing", (s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Some(
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  sum(l_quantity) AS sum_qty,
        |  cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) AS sum_price
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    Q("q_join_segment_sales", (s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val customer = s.read.parquet(s"$dir/customer.parquet")
      orders.join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("total_price"))
        .orderBy("c_mktsegment")
    }, Some(
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("q_window_top_event", (s, dir) => {
      val events = s.read.parquet(s"$dir/events.parquet")
      events.withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))))
        .filter(col("rn") === 1)
        .select("user_id", "event_type", "event_id")
        .orderBy("user_id")
    }, Some(
      """SELECT user_id, event_type, event_id FROM (
        |  SELECT user_id, event_type, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
        |  FROM events) t WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    Q("q_topk_docs", (s, dir) => {
      docs(s, dir).select(col("doc_id"), col("n_chars"))
        .orderBy(col("n_chars").desc, col("doc_id")).limit(10)
    }, Some(
      "SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id LIMIT 10")),

    Q("q_rollup_orders", (s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("cnt"), moneySum(col("o_totalprice")).as("total_price"))
        .orderBy(asc_nulls_first("o_orderpriority"), asc_nulls_first("o_orderstatus"))
    }, Some(
      """SELECT o_orderpriority, o_orderstatus, count(*) AS cnt,
        |  cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS total_price
        |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin)),

    Q("q_set_customers", (s, dir) => {
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val orders = s.read.parquet(s"$dir/orders.parquet")
      customer.filter(col("c_acctbal") > 5000).select("c_custkey")
        .intersect(orders.select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey")
    }, Some(
      """SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |INTERSECT SELECT o_custkey FROM orders ORDER BY c_custkey""".stripMargin)),

    Q("q_events_daily", (s, dir) => {
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("day", "event_type")
    }, Some(
      """SELECT date_trunc('day', ts) AS day, event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("q_cube_orders", (s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"), moneySum(col("o_totalprice")).as("total_price"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    }, Some(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |  cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS total_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    Q("q_semi_join", (s, dir) => {
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val orders = s.read.parquet(s"$dir/orders.parquet")
      customer.join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }, Some(
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin)),

    Q("q_percentiles", (s, dir) => {
      // exact (interpolated) percentiles — not the approx sketch — so the
      // oracle is DuckDB's quantile_cont
      docs(s, dir).groupBy("lang")
        .agg(expr("percentile(n_chars, 0.25)").as("p25"),
          expr("percentile(n_chars, 0.5)").as("p50"),
          expr("percentile(n_chars, 0.75)").as("p75"),
          count(lit(1)).as("cnt"))
        .orderBy("lang")
    }, Some(
      """SELECT lang,
        |  quantile_cont(n_chars, 0.25) AS p25,
        |  quantile_cont(n_chars, 0.5) AS p50,
        |  quantile_cont(n_chars, 0.75) AS p75,
        |  count(*) AS cnt
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    Q("q_window_running", (s, dir) => {
      val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
      // NOT widened: (l_orderkey, l_linenumber) is not unique in the
      // generated lineitem, so the window's within-ties order — and hence
      // lag/lead/running values — is only deterministic under the scan's
      // file order. Everything else in this query is cheap.
      s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("running_qty"),
          lag(col("l_quantity"), 1).over(w).as("prev_qty"),
          lead(col("l_quantity"), 1).over(w).as("next_qty"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Some(
      """SELECT l_orderkey, l_linenumber,
        |  sum(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty,
        |  lag(l_quantity, 1) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS prev_qty,
        |  lead(l_quantity, 1) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS next_qty
        |FROM lineitem WHERE l_orderkey % 100 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Q("q_dates", (s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("d"),
          date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
            .cast("long").as("days_since"))
        .orderBy("o_orderkey")
    }, Some(
      """SELECT o_orderkey,
        |  cast(year(o_orderdate) AS bigint) AS y,
        |  cast(month(o_orderdate) AS bigint) AS m,
        |  cast(day(o_orderdate) AS bigint) AS d,
        |  cast(o_orderdate AS date) + 30 AS plus30,
        |  cast(datediff('day', date '1995-01-01', cast(o_orderdate AS date)) AS bigint) AS days_since
        |FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin)),

    Q("q_sessionize", (s, dir) => {
      // gap-based sessionization (30-min idle splits a user's event stream):
      // the per-user window is the correct scale shape — session assignment
      // is inherently order-dependent within a user, and per-user state is
      // bounded; heavy users are a data property, not a plan defect
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_s",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1L)
            .otherwise(0L))
        .withColumn("session",
          sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session")
        .agg(count(lit(1)).as("n_events"), min(col("ts")).as("first_ts"),
          max(col("ts")).as("last_ts"))
        .orderBy("user_id", "session")
    }, Some(
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session
        |  FROM g)
        |SELECT user_id, cast(session AS bigint) AS session, count(*) AS n_events,
        |  min(ts) AS first_ts, max(ts) AS last_ts
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("q_json_events", (s, dir) => {
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")
    }, Some(
      """SELECT event_id, cast(json_extract_string(props, '$.k') AS bigint) AS k
        |FROM events ORDER BY event_id""".stripMargin)),

    // ---- text analysis ----------------------------------------------------
    Q("q_docs_tokens", (s, dir) => {
      docsHeavy(s, dir).select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextOps.distinctTokenCount(col("text")).cast("long").as("n_distinct_tokens"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  cast(CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS bigint) AS n_tokens,
        |  cast(CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) END AS bigint) AS n_distinct_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("q_docs_quality", (s, dir) => {
      docsHeavy(s, dir).select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          TextOps.punctCount(col("text")).cast("long").as("n_punct"),
          TextOps.digitCount(col("text")).cast("long").as("n_digits"),
          TextOps.upperCount(col("text")).cast("long").as("n_upper"),
          TextOps.stopwordCount(col("text")).cast("long").as("n_stopwords"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  cast(length(text) AS bigint) AS n_chars,
        |  cast(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS bigint) AS n_punct,
        |  cast(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS bigint) AS n_digits,
        |  cast(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS bigint) AS n_upper,
        |  cast(CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t))) END AS bigint) AS n_stopwords
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("q_docs_quality_score", (s, dir) => {
      docsHeavy(s, dir).select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN CAST([] AS varchar[])
        |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        |  FROM documents
        |), n AS (
        |  SELECT doc_id,
        |    cast(len(toks) AS double) AS n_tok,
        |    cast(len(list_distinct(toks)) AS double) AS n_dis,
        |    cast(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) AS double) AS n_stop
        |  FROM t)
        |SELECT doc_id,
        |  round((least(n_tok / cast(32.0 AS double), cast(1.0 AS double)) +
        |         least(n_stop * cast(8.0 AS double) / greatest(n_tok, cast(1.0 AS double)), cast(1.0 AS double)) +
        |         least(n_dis / greatest(n_tok, cast(1.0 AS double)) * cast(2.0 AS double), cast(1.0 AS double))) / cast(3.0 AS double), 4) AS quality
        |FROM n ORDER BY doc_id""".stripMargin)),

    Q("q_docs_langid", (s, dir) => {
      // token array materialized once; langIdOf/stopwordCountOf run over
      // the bound column (the splice-per-consumer variant re-tokenizes)
      docsHeavy(s, dir)
        .withColumn("ltoks", TextOps.tokens(lower(col("text"))))
        .select(col("doc_id"),
          TextOps.langIdOf(col("ltoks")).as("lang_guess"),
          TextOps.stopwordCountOf(col("ltoks")).cast("long").as("n_stop_en"))
        .orderBy("doc_id")
    }, Some(
      """WITH c AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN CAST([] AS varchar[])
        |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        |  FROM documents
        |), n AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t))) AS en_c,
        |    len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht','ein','mit','zu','den'], t))) AS de_c,
        |    len(list_filter(toks, t -> list_contains(['le','la','les','et','est','une','dans','que','pour','des'], t))) AS fr_c,
        |    len(list_filter(toks, t -> list_contains(['el','la','los','y','es','una','en','que','por','con'], t))) AS es_c
        |  FROM c)
        |SELECT doc_id,
        |  CASE WHEN greatest(en_c, de_c, fr_c, es_c) = 0 THEN 'und'
        |       WHEN en_c = greatest(en_c, de_c, fr_c, es_c) THEN 'en'
        |       WHEN de_c = greatest(en_c, de_c, fr_c, es_c) THEN 'de'
        |       WHEN fr_c = greatest(en_c, de_c, fr_c, es_c) THEN 'fr'
        |       ELSE 'es' END AS lang_guess,
        |  cast(en_c AS bigint) AS n_stop_en
        |FROM n ORDER BY doc_id""".stripMargin)),

    Q("q_docs_fingerprint", (s, dir) => {
      DedupOps.exactDupRanks(docs(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("fp"),
          col("dup_rank").cast("long").as("dup_rank"), col("group_size"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id, fp,
        |  cast(row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS bigint) AS dup_rank,
        |  cast(count(*) OVER (PARTITION BY fp) AS bigint) AS group_size
        |FROM (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |      FROM documents) t ORDER BY doc_id""".stripMargin)),

    Q("q_dedup_exact", (s, dir) => {
      docs(s, dir).groupBy(TextOps.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keeper"))
        .orderBy("fp")
    }, Some(
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |  count(*) AS n_dups, min(doc_id) AS keeper
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("q_dedup_exact_reps", (s, dir) => {
      // the skew-safe LINEAR (id -> rep) exact-dedup form: hash-agg +
      // join-back, no per-fingerprint window — the shape to persist at
      // 10^12 docs (is_keeper carried as an int for the oracle)
      DedupOps.exactDupReps(docs(s, dir), "text", "doc_id")
        .select(col("id").as("doc_id"), col("rep"), col("group_size"),
          col("is_keeper").cast("int").as("is_keeper"))
        .orderBy("doc_id")
    }, Some(
      """WITH f AS (SELECT doc_id,
        |    coalesce(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
        |             '__null_text__') AS fp
        |  FROM documents),
        |g AS (SELECT fp, min(doc_id) AS rep, count(*) AS group_size
        |      FROM f GROUP BY fp)
        |SELECT f.doc_id, g.rep, g.group_size,
        |  cast(f.doc_id = g.rep AS int) AS is_keeper
        |FROM f JOIN g ON f.fp = g.fp ORDER BY f.doc_id""".stripMargin)),

    Q("q_token_jaccard", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        array_distinct(TextOps.tokens(lower(col("text")))).as("toks"))
      d.as("a").join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("doc_id"),
          size(array_intersect(col("a.toks"), col("b.toks"))).cast("long").as("n_inter"),
          size(array_union(col("a.toks"), col("b.toks"))).cast("long").as("n_union"))
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS toks
        |  FROM documents)
        |SELECT a.doc_id AS doc_id,
        |  cast(len(list_intersect(a.toks, b.toks)) AS bigint) AS n_inter,
        |  cast(len(list_distinct(list_concat(a.toks, b.toks))) AS bigint) AS n_union
        |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1 ORDER BY doc_id""".stripMargin)),

    Q("q_docs_bpe_tokens", (s, dir) => {
      // BPE-ish pre-tokenization: letter runs | digit runs | single symbol
      docs(s, dir).select(col("doc_id"),
          size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)"))
            .cast("long").as("n_bpe_tokens"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bigint) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("q_docs_repetition", (s, dir) => {
      // repetition signals (Gopher-style): duplicate bigram mass is the
      // cheap detector for looping/boilerplate text; all integer-exact.
      // The token array and bigram array are materialized as columns so
      // each is computed once per row — spliced tokenizer expressions
      // inside higher-order lambdas re-evaluate per element (O(tokens²))
      val sh2 = col("sh2")
      // lowercasing never changes whitespace boundaries, so the lowered
      // token array serves both counts — one tokenizer pass per row
      docsHeavy(s, dir)
        .withColumn("ltoks", TextOps.tokens(lower(col("text"))))
        .withColumn("sh2", TextOps.shinglesOf(col("ltoks"), 2))
        .select(col("doc_id"),
          size(sh2).cast("long").as("n_bigrams"),
          size(array_distinct(sh2)).cast("long").as("n_distinct_bigrams"),
          (size(col("ltoks")) - size(array_distinct(col("ltoks"))))
            .cast("long").as("n_repeated_tokens"))
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN CAST([] AS varchar[])
        |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        |  FROM documents),
        |b AS (SELECT doc_id, toks,
        |    CASE WHEN len(toks) < 2 THEN CAST([] AS varchar[])
        |         ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END AS bi
        |  FROM t)
        |SELECT doc_id,
        |  cast(len(bi) AS bigint) AS n_bigrams,
        |  cast(len(list_distinct(bi)) AS bigint) AS n_distinct_bigrams,
        |  cast(len(toks) - len(list_distinct(toks)) AS bigint) AS n_repeated_tokens
        |FROM b ORDER BY doc_id""".stripMargin)),

    Q("q_docs_filter_flags", (s, dir) => {
      // pretraining-corpus filter rules as exact booleans: too short, low
      // stopword density, symbol-heavy, repetitive — and the composite
      // keep. All signals come off materialized token/bigram columns (one
      // tokenizer pass per row; see q_docs_repetition)
      val nTok = col("n_tok")
      val tooShort = nTok < 24
      val lowStop = col("n_stop") * 20 < nTok
      val symbolHeavy = col("n_punct") * 5 > length(col("text"))
      val repetitive = (col("n_bi") - col("n_dbi")) * 4 > col("n_bi")
      docsHeavy(s, dir)
        .withColumn("ltoks", TextOps.tokens(lower(col("text"))))
        .withColumn("sh2", TextOps.shinglesOf(col("ltoks"), 2))
        .withColumn("n_tok", size(col("ltoks")))
        .withColumn("n_stop", TextOps.stopwordCountOf(col("ltoks")))
        .withColumn("n_punct", TextOps.punctCount(col("text")))
        .withColumn("n_bi", size(col("sh2")))
        .withColumn("n_dbi", size(array_distinct(col("sh2"))))
        .select(col("doc_id"),
          tooShort.as("too_short"), lowStop.as("low_stopword"),
          symbolHeavy.as("symbol_heavy"), repetitive.as("repetitive"),
          (!tooShort && !lowStop && !symbolHeavy && !repetitive).as("keep"))
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id, text,
        |    CASE WHEN trim(text) = '' THEN CAST([] AS varchar[])
        |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        |  FROM documents),
        |b AS (SELECT doc_id, text, toks,
        |    CASE WHEN len(toks) < 2 THEN CAST([] AS varchar[])
        |         ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END AS bi,
        |    len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) AS n_stop,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
        |  FROM t)
        |SELECT doc_id,
        |  len(toks) < 24 AS too_short,
        |  n_stop * 20 < len(toks) AS low_stopword,
        |  n_punct * 5 > length(text) AS symbol_heavy,
        |  (len(bi) - len(list_distinct(bi))) * 4 > len(bi) AS repetitive,
        |  NOT (len(toks) < 24) AND NOT (n_stop * 20 < len(toks))
        |    AND NOT (n_punct * 5 > length(text))
        |    AND NOT ((len(bi) - len(list_distinct(bi))) * 4 > len(bi)) AS keep
        |FROM b ORDER BY doc_id""".stripMargin)),

    Q("q_docs_pii", (s, dir) => {
      // PII detection + redaction over deterministically-augmented text
      // (word-soup corpus carries no organic emails/urls, so plant typed
      // PII in-query — counts and redaction stay SQL-derivable)
      val aug = concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com via https://ex.example/p/"), col("doc_id"),
        lit(" id 123456789"))
      val signals = TextOps.piiSignals(aug).map { case (n, c) => c.cast("long").as(n) }
      docsHeavy(s, dir).select(
          (col("doc_id") +: signals) :+ TextOps.redactPii(aug).as("redacted"): _*)
        .orderBy("doc_id")
    }, Some(
      """WITH a AS (SELECT doc_id, text || ' contact user' || doc_id ||
        |  '@example.com via https://ex.example/p/' || doc_id || ' id 123456789' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  cast(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS bigint) AS n_emails,
        |  cast(len(regexp_extract_all(t, 'https?://[^ \t\n]+')) AS bigint) AS n_urls,
        |  cast(len(regexp_extract_all(t, '[0-9]{7,}')) AS bigint) AS n_long_digits,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^ \t\n]+', '<URL>', 'g'),
        |    '[0-9]{7,}', '<NUM>', 'g') AS redacted
        |FROM a ORDER BY doc_id""".stripMargin)),

    Q("q_asof_join", (s, dir) => {
      // as-of join: each event picks up the most recent same-user
      // checkpoint (the page_view marker stream, deduped to unique
      // (user_id, ts)) at-or-before its own timestamp — union+window
      // forward fill, ONE shuffle on the key, no range-join explosion
      val events = s.read.parquet(s"$dir/events.parquet")
        .filter(col("event_id") % 10 === 0)
        .select("event_id", "user_id", "ts", "event_type")
      val checkpoints = s.read.parquet(s"$dir/events.parquet")
        .filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max(col("value")).as("cp_value"))
      JoinOps.asofJoin(events, checkpoints, "user_id", "ts", Seq("cp_value"))
        .select("event_id", "user_id", "cp_value")
        .orderBy("event_id")
    }, Some(
      """WITH cp AS (SELECT user_id, ts, max(value) AS cp_value FROM events
        |            WHERE event_type = 'view' GROUP BY 1, 2),
        |     e AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 10 = 0)
        |SELECT e.event_id, e.user_id, cp.cp_value
        |FROM e ASOF LEFT JOIN cp ON e.user_id = cp.user_id AND e.ts >= cp.ts
        |ORDER BY e.event_id""".stripMargin)),

    Q("q_dedup_clusters", (s, dir) => {
      // pairs -> dedup groups: connected components over the verified
      // near-dup pair list (min reachable id = cluster representative).
      // Oracle-exactness rests on the same documented corpus property as
      // q_dedup_minhash: organic jaccard is <0.2 and planted clusters are
      // >=0.8, so no pair lands in the marginal [0.5, 0.7) band where
      // 8-row/64-band LSH recall would be probabilistic — the candidate
      // stage recovers the exact ground-truth edge set at every sf
      val pairs = DedupOps.minhashNearDups(docsHeavy(s, dir), "doc_id", "text",
        threshold = 0.5, numHashes = 512, bands = 64)
      val cc = DedupOps.connectedComponents(pairs.select("id_a", "id_b"))
      pairs.unpersist()
      cc.select(col("id").as("doc_id"), col("cluster")).orderBy("doc_id")
    }, Some(
      """WITH RECURSIVE t AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(regexp_split_to_array(trim(lower(text)),'\s+')) - 1),
        |    i -> regexp_split_to_array(trim(lower(text)),'\s+')[i] || ' ' ||
        |         regexp_split_to_array(trim(lower(text)),'\s+')[i+1] || ' ' ||
        |         regexp_split_to_array(trim(lower(text)),'\s+')[i+2])) AS sh
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM t),
        |p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter,
        |             any_value(a.n) AS na, any_value(b.n) AS nb
        |      FROM u a JOIN u b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |e AS (SELECT ia AS a, ib AS b FROM p WHERE inter * 1.0 / (na + nb - inter) >= 0.5),
        |ed AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
        |reach(id, lab) AS (
        |  SELECT a, a FROM ed
        |  UNION
        |  SELECT ed.a, reach.lab FROM ed JOIN reach ON ed.b = reach.id)
        |SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),

    Q("q_dedup_keepers", (s, dir) => {
      // the end-to-end keeper composition a pretraining pipeline consumes:
      // near-dup pairs -> connected components -> per-cluster min-id
      // keeper -> filtered survivor corpus. Same recall-calibrated LSH
      // parameters (and the same corpus bimodality argument) as
      // q_dedup_clusters, so the survivor set is SQL-derivable
      DedupOps.dedupCorpus(docsHeavy(s, dir), "doc_id", "text",
          threshold = 0.5, numHashes = 512, bands = 64)
        .select("doc_id")
        .orderBy("doc_id")
    }, Some(
      """WITH RECURSIVE t AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(regexp_split_to_array(trim(lower(text)),'\s+')) - 1),
        |    i -> regexp_split_to_array(trim(lower(text)),'\s+')[i] || ' ' ||
        |         regexp_split_to_array(trim(lower(text)),'\s+')[i+1] || ' ' ||
        |         regexp_split_to_array(trim(lower(text)),'\s+')[i+2])) AS sh
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM t),
        |p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter,
        |             any_value(a.n) AS na, any_value(b.n) AS nb
        |      FROM u a JOIN u b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |e AS (SELECT ia AS a, ib AS b FROM p WHERE inter * 1.0 / (na + nb - inter) >= 0.5),
        |ed AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
        |reach(id, lab) AS (
        |  SELECT a, a FROM ed
        |  UNION
        |  SELECT ed.a, reach.lab FROM ed JOIN reach ON ed.b = reach.id),
        |cl AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id)
        |SELECT d.doc_id FROM documents d LEFT JOIN cl ON d.doc_id = cl.id
        |WHERE cl.id IS NULL OR cl.cluster = d.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    Q("q_dedup_keepers_by", (s, dir) => {
      // keeper-POLICY variant: per cluster keep the LONGEST member (ties:
      // min id) instead of the min id — what real pipelines keep. Same
      // recall-calibrated LSH parameters as q_dedup_keepers, so the
      // cluster structure (and hence the policy's survivor set) is
      // SQL-derivable
      DedupOps.dedupCorpus(docsHeavy(s, dir), "doc_id", "text",
          threshold = 0.5, numHashes = 512, bands = 64,
          keepBy = Some(length(col("text"))))
        .select("doc_id")
        .orderBy("doc_id")
    }, Some(
      """WITH RECURSIVE t AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(regexp_split_to_array(trim(lower(text)),'\s+')) - 1),
        |    i -> regexp_split_to_array(trim(lower(text)),'\s+')[i] || ' ' ||
        |         regexp_split_to_array(trim(lower(text)),'\s+')[i+1] || ' ' ||
        |         regexp_split_to_array(trim(lower(text)),'\s+')[i+2])) AS sh
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM t),
        |p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter,
        |             any_value(a.n) AS na, any_value(b.n) AS nb
        |      FROM u a JOIN u b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |e AS (SELECT ia AS a, ib AS b FROM p WHERE inter * 1.0 / (na + nb - inter) >= 0.5),
        |ed AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
        |reach(id, lab) AS (
        |  SELECT a, a FROM ed
        |  UNION
        |  SELECT ed.a, reach.lab FROM ed JOIN reach ON ed.b = reach.id),
        |cl AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id),
        |mem AS (SELECT cl.id, cl.cluster, length(d.text) AS lv
        |        FROM cl JOIN documents d ON d.doc_id = cl.id),
        |best AS (SELECT cluster, max(lv) AS mx FROM mem GROUP BY cluster),
        |keep AS (SELECT mem.cluster, min(mem.id) AS keeper
        |         FROM mem JOIN best ON mem.cluster = best.cluster AND mem.lv = best.mx
        |         GROUP BY mem.cluster)
        |SELECT d.doc_id FROM documents d LEFT JOIN cl ON d.doc_id = cl.id
        |LEFT JOIN keep ON cl.cluster = keep.cluster
        |WHERE cl.id IS NULL OR keep.keeper = d.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    Q("q_contamination_spans", (s, dir) => {
      // decontamination audit evidence: every (train doc, token position)
      // whose 5-gram appears in the benchmark slice — the per-hit review
      // table behind q_contamination's counts (positions are integer-exact
      // shingle-index math)
      val d = docsHeavy(s, dir)
      DedupOps.contaminationSpans(
          d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", k = 5)
        .select(col("id").as("doc_id"), col("pos"), col("sh").as("shingle"))
        .orderBy("doc_id", "pos")
    }, Some(
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN CAST([] AS varchar[])
        |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, CASE WHEN len(toks) < 5 THEN CAST([] AS varchar[])
        |    ELSE list_transform(range(1, len(toks) - 3),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]) END AS sh
        |  FROM t),
        |b AS (SELECT DISTINCT unnest(sh) AS s FROM s WHERE doc_id % 5 = 0),
        |tr AS (SELECT doc_id, unnest(range(1, len(sh) + 1)) AS i, sh
        |       FROM s WHERE doc_id % 5 <> 0),
        |tp AS (SELECT doc_id, cast(i - 1 AS int) AS pos, sh[i] AS shingle FROM tr)
        |SELECT tp.doc_id, tp.pos, tp.shingle
        |FROM tp JOIN b ON tp.shingle = b.s
        |ORDER BY 1, 2""".stripMargin)),

    Q("q_dup_spans", (s, dir) => {
      // exact duplicate-span detection at k=5 over the documents corpus:
      // maximal contiguous regions whose every 5-gram window appears >= 2
      // times corpus-wide (the planted near-dup pairs make their shared
      // text light up end to end; organic word-soup collisions are flagged
      // identically by both engines — no recall gap, same window algebra)
      DedupOps.duplicateSpans(docsHeavy(s, dir), "doc_id", "text",
          k = 5, minCount = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "span_start")
    }, Some(
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN CAST([] AS varchar[])
        |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        |  FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(toks) < 5 THEN CAST([] AS varchar[])
        |    ELSE list_transform(range(1, len(toks) - 3),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]) END AS s5
        |  FROM t),
        |w AS (SELECT doc_id, cast(i - 1 AS int) AS pos, s5[i] AS s
        |      FROM (SELECT doc_id, s5, unnest(range(1, len(s5) + 1)) AS i FROM sh)),
        |d AS (SELECT s FROM w GROUP BY s HAVING count(*) >= 2),
        |h AS (SELECT w.doc_id, w.pos FROM w JOIN d ON w.s = d.s),
        |g AS (SELECT doc_id, pos,
        |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
        |             THEN 1 ELSE 0 END AS ni
        |      FROM h),
        |i AS (SELECT doc_id, pos,
        |        sum(ni) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp
        |      FROM g)
        |SELECT doc_id, cast(min(pos) AS int) AS span_start,
        |  cast(max(pos) + 4 AS int) AS span_end
        |FROM i GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin)),

    Q("q_strip_dup_spans", (s, dir) => {
      // the removal stage over q_dup_spans' detections: duplicated regions
      // scrubbed from every doc, tokens re-joined (whitespace-normalized
      // by contract); counts are integer-exact and the kept text is
      // string-exact, so the whole detect->strip composition oracles
      DedupOps.stripDuplicateSpans(docsHeavy(s, dir), "doc_id", "text",
          k = 5, minCount = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN CAST([] AS varchar[])
        |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks,
        |    CASE WHEN trim(text) = '' THEN CAST([] AS varchar[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS rawtoks
        |  FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(toks) < 5 THEN CAST([] AS varchar[])
        |    ELSE list_transform(range(1, len(toks) - 3),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]) END AS s5
        |  FROM t),
        |w AS (SELECT doc_id, cast(i - 1 AS int) AS pos, s5[i] AS s
        |      FROM (SELECT doc_id, s5, unnest(range(1, len(s5) + 1)) AS i FROM sh)),
        |d AS (SELECT s FROM w GROUP BY s HAVING count(*) >= 2),
        |h AS (SELECT w.doc_id, w.pos FROM w JOIN d ON w.s = d.s),
        |g AS (SELECT doc_id, pos,
        |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
        |             THEN 1 ELSE 0 END AS ni
        |      FROM h),
        |i AS (SELECT doc_id, pos,
        |        sum(ni) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp
        |      FROM g),
        |sp AS (SELECT doc_id, list(struct_pack(s := span_start, e := span_end)) AS spans,
        |         sum(span_end - span_start + 1) AS nrm
        |       FROM (SELECT doc_id, cast(min(pos) AS int) AS span_start,
        |               cast(max(pos) + 4 AS int) AS span_end
        |             FROM i GROUP BY doc_id, grp)
        |       GROUP BY doc_id),
        |k AS (SELECT t.doc_id,
        |        CASE WHEN sp.doc_id IS NULL THEN rawtoks
        |             ELSE list_filter(rawtoks, (x, ix) ->
        |               len(list_filter(sp.spans, s2 -> ix - 1 >= s2.s AND ix - 1 <= s2.e)) = 0)
        |        END AS kept,
        |        coalesce(sp.nrm, 0) AS nrm
        |      FROM t LEFT JOIN sp ON t.doc_id = sp.doc_id)
        |SELECT doc_id, coalesce(array_to_string(kept, ' '), '') AS stripped_text,
        |  cast(len(kept) + nrm AS int) AS n_tok, cast(nrm AS int) AS n_removed
        |FROM k ORDER BY doc_id""".stripMargin)),

    Q("q_contamination", (s, dir) => {
      // train/benchmark decontamination: docs sharing a word 5-gram with
      // the held-out "benchmark" slice (doc_id % 5 == 0)
      val d = docsHeavy(s, dir)
      DedupOps.contamination(
          d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", k = 5)
        .select(col("id").as("doc_id"), col("n_hits"))
        .orderBy("doc_id")
    }, Some(contaminationOracle)),

    Q("q_pretrain_e2e", (s, dir) => {
      // the composed pretraining-corpus pipeline a user actually runs —
      // quality filter -> near-dup keeper dedup -> benchmark
      // decontamination — end to end in one plan. Each stage reuses the
      // exact semantics its own oracled query pins (q_docs_filter_flags
      // keep, q_dedup_keepers at threshold 0.5/512x64 over the FILTERED
      // corpus, q_contamination at k=5 vs the doc_id%5==0 bench slice),
      // so the composition is their SQL conjunction
      val d = docsHeavy(s, dir)
      // The keep predicate is ONE self-contained bindOnce tree: the
      // withColumn+filter form evaluates the tokenizer/shingle pipeline
      // once per FLAG after filter pushdown substitutes each flag's full
      // lineage into the predicate (higher-order expressions are
      // interpreted — no codegen CSE rescues the duplication; measured
      // ~6.7 s -> ~0.6 s for this stage at sf0.1). Lambda-bound values
      // evaluate once per row regardless of how often the body reads them.
      // Boolean logic is IDENTICAL to q_docs_filter_flags' keep.
      val keepExpr = TextOps.bindOnce(TextOps.tokens(lower(col("text")))) { ltoks =>
        TextOps.bindOnce(TextOps.shinglesOf(ltoks, 2)) { sh2 =>
          val nTok = size(ltoks)
          val nBi = size(sh2)
          val nDbi = size(array_distinct(sh2))
          !(nTok < 24) && !(TextOps.stopwordCountOf(ltoks) * 20 < nTok) &&
            !(TextOps.punctCount(col("text")) * 5 > length(col("text"))) &&
            !((nBi - nDbi) * 4 > nBi)
        }
      }
      val kept = d
        .filter(keepExpr)
        .select("doc_id", "text")
        // materialize the filtered corpus ONCE: dedupCorpus + contamination
        // consume their input ~6 times, and without truncation each scan
        // re-runs the tokenize/bigram quality lineage (measured 34 s -> the
        // usual composition cost). At cluster scale this is a persisted
        // intermediate table/DISK_ONLY cache — same idiom, durable storage
        .localCheckpoint(true)
      val survivors = DedupOps.dedupCorpus(kept, "doc_id", "text",
          threshold = 0.5, numHashes = 512, bands = 64)
        .localCheckpoint(true) // consumed twice below (contamination + anti-join)
      val train = survivors.filter(col("doc_id") % 5 =!= 0)
      val contaminated = DedupOps.contamination(
          train, d.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", k = 5)
        .select(col("id").as("doc_id"))
      train.join(contaminated, Seq("doc_id"), "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    }, Some(
      """WITH RECURSIVE tok AS (SELECT doc_id, text,
        |    CASE WHEN trim(text) = '' THEN CAST([] AS varchar[])
        |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        |  FROM documents),
        |q AS (SELECT doc_id, text, toks,
        |    CASE WHEN len(toks) < 2 THEN CAST([] AS varchar[])
        |         ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END AS bi,
        |    len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) AS n_stop,
        |    length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
        |  FROM tok),
        |kept AS (SELECT doc_id, toks FROM q
        |  WHERE NOT (len(toks) < 24) AND NOT (n_stop * 20 < len(toks))
        |    AND NOT (n_punct * 5 > length(text))
        |    AND NOT ((len(bi) - len(list_distinct(bi))) * 4 > len(bi))),
        |t3 AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN CAST([] AS varchar[])
        |    ELSE list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |  FROM kept),
        |u AS (SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM t3),
        |p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter,
        |             any_value(a.n) AS na, any_value(b.n) AS nb
        |      FROM u a JOIN u b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |e AS (SELECT ia AS a, ib AS b FROM p WHERE inter * 1.0 / (na + nb - inter) >= 0.5),
        |ed AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
        |reach(id, lab) AS (
        |  SELECT a, a FROM ed
        |  UNION
        |  SELECT ed.a, reach.lab FROM ed JOIN reach ON ed.b = reach.id),
        |cl AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id),
        |surv AS (SELECT k.doc_id FROM kept k LEFT JOIN cl ON k.doc_id = cl.id
        |         WHERE cl.id IS NULL OR cl.cluster = k.doc_id),
        |s5 AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 5 THEN CAST([] AS varchar[])
        |    ELSE list_transform(range(1, len(toks) - 3),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]) END) AS sh
        |  FROM tok),
        |bset AS (SELECT DISTINCT unnest(sh) AS s FROM s5 WHERE doc_id % 5 = 0),
        |tr5 AS (SELECT doc_id, unnest(sh) AS s FROM s5 WHERE doc_id % 5 <> 0),
        |contam AS (SELECT DISTINCT tr5.doc_id FROM tr5 JOIN bset ON tr5.s = bset.s)
        |SELECT surv.doc_id FROM surv
        |WHERE surv.doc_id % 5 <> 0
        |  AND surv.doc_id NOT IN (SELECT doc_id FROM contam)
        |ORDER BY surv.doc_id""".stripMargin)),

    Q("q_docs_chunks", (s, dir) => {
      // context-window chunking: split each doc's token stream into
      // 32-token windows with stride 24 (8-token overlap) — the
      // explode-shaped stage that feeds tokenizer/packing pipelines; all
      // integer arithmetic, mirrored exactly in SQL
      val nt = col("n_tok")
      // `div` = integer division (Spark's `/` on ints yields double)
      val nChunks = expr(
        "CASE WHEN n_tok <= 0 THEN 0 WHEN n_tok <= 32 THEN 1 " +
          "ELSE 1 + ((n_tok - 9) div 24) END")
      docs(s, dir)
        .withColumn("n_tok", TextOps.tokenCount(col("text")))
        // guard: Spark's sequence(0, -1) is a DESCENDING [0,-1], not empty
        .withColumn("chunk_idx", explode(when(nChunks > 0,
          sequence(lit(0), nChunks.cast("int") - 1))
          .otherwise(array().cast("array<int>"))))
        .select(col("doc_id"), col("chunk_idx"),
          (col("chunk_idx") * 24).as("tok_start"),
          least(nt, col("chunk_idx") * 24 + 32).as("tok_end"))
        .orderBy("doc_id", "chunk_idx")
    }, Some(
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
        |  FROM documents),
        |c AS (SELECT doc_id, nt,
        |    CASE WHEN nt <= 0 THEN 0 WHEN nt <= 32 THEN 1
        |         ELSE 1 + (nt - 9) // 24 END AS n_chunks
        |  FROM t)
        |SELECT doc_id, cast(chunk_idx AS int) AS chunk_idx,
        |  cast(chunk_idx * 24 AS int) AS tok_start,
        |  cast(least(nt, chunk_idx * 24 + 32) AS int) AS tok_end
        |FROM (SELECT doc_id, nt, unnest(range(0, n_chunks)) AS chunk_idx FROM c)
        |ORDER BY doc_id, chunk_idx""".stripMargin)),

    Q("q_docs_dedup_lines", (s, dir) => {
      // within-doc duplicate-line removal (first occurrence kept, order
      // preserved): construct a 5-line doc with planted repeats around the
      // corpus text; both engines run the same first-occurrence-index
      // filter over their split arrays
      val doc = concat(lit("nav\n"), col("text"), lit("\nnav\n"),
        col("text"), lit("\nfooter"))
      docs(s, dir)
        .withColumn("doc", doc)
        .select(col("doc_id"),
          TextOps.dedupLines(col("doc")).as("cleaned"),
          size(split(col("doc"), "\n")).cast("int").as("n_lines_before"))
        .withColumn("n_lines_after",
          size(split(col("cleaned"), "\n")).cast("int"))
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id,
        |    'nav' || chr(10) || text || chr(10) || 'nav' || chr(10) || text || chr(10) || 'footer' AS d
        |  FROM documents),
        |s AS (SELECT doc_id, d, str_split(d, chr(10)) AS ls FROM t),
        |c AS (SELECT doc_id,
        |    array_to_string(list_filter(ls, (x, i) -> list_position(ls, x) = i), chr(10)) AS cleaned,
        |    cast(len(ls) AS int) AS n_lines_before
        |  FROM s)
        |SELECT doc_id, cleaned, n_lines_before,
        |  cast(len(str_split(cleaned, chr(10))) AS int) AS n_lines_after
        |FROM c ORDER BY doc_id""".stripMargin)),

    Q("q_docs_split", (s, dir) => {
      // reproducible train/val/test split by content hash (md5-prefix
      // bucket): assignment depends only on the text, so it is stable
      // across runs, partition layouts, AND engines — rand()-based splits
      // are none of these. 90/5/5
      docs(s, dir).select(col("doc_id"),
          TextOps.splitBucket(col("text")).cast("int").as("bucket"),
          TextOps.stableSplit(col("text")).as("split"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  cast(('0x' || substr(md5(text), 1, 6))::BIGINT % 100 AS int) AS bucket,
        |  CASE WHEN ('0x' || substr(md5(text), 1, 6))::BIGINT % 100 < 90 THEN 'train'
        |       WHEN ('0x' || substr(md5(text), 1, 6))::BIGINT % 100 < 95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("q_url_canon", (s, dir) => {
      // URL canonicalization into crawl-dedup keys, exercising every rule:
      // fragment drop, scheme/host lowercase (path case preserved), www.
      // strip, default-port strip (:80 http / :443 https; :8080 kept),
      // utm_* query-param drop (fully-utm query loses its '?'), trailing
      // path slash strip. The oracle derives the expected key DIRECTLY
      // from doc_id arithmetic — an independent derivation, not a regex
      // mirror
      val id = col("doc_id")
      val raw = concat(
        when(id % 2 === 0, lit("HTTPS")).otherwise(lit("HTTP")),
        lit("://WWW.ExAmple"), (id % 7).cast("string"), lit(".CoM"),
        when(id % 3 === 0, when(id % 2 === 0, lit(":443")).otherwise(lit(":80")))
          .when(id % 3 === 1, lit(":8080")).otherwise(lit("")),
        lit("/Path/"), id.cast("string"),
        when(id % 4 === 0, lit("/")).otherwise(lit("")),
        when(id % 5 === 0, concat(lit("?utm_source=x&id="), id.cast("string"), lit("&utm_c=2")))
          .when(id % 5 === 1, concat(lit("?id="), id.cast("string")))
          .when(id % 5 === 2, lit("?utm_only=1")).otherwise(lit("")),
        when(id % 6 === 0, lit("#Sec1")).otherwise(lit("")))
      docs(s, dir).select(id, TextOps.canonicalizeUrl(raw).as("canon_url"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  concat(CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END,
        |    '://example', cast(doc_id % 7 AS varchar), '.com',
        |    CASE WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END,
        |    '/Path/', cast(doc_id AS varchar),
        |    CASE WHEN doc_id % 5 IN (0, 1) THEN '?id=' || cast(doc_id AS varchar) ELSE '' END
        |  ) AS canon_url
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("q_url_robots", (s, dir) => {
      // robots.txt application (RFC 9309 subset) over synthesized crawl
      // URLs: host = site<id%5>.com, path type = id%4. The robots bodies
      // exercise longest-match precedence (site0: Allow /private/ok
      // overrides Disallow /private/), agent-specific group priority
      // (site1: the graftbot group's /tmp/ rule wins over the * group's
      // Disallow /), empty-disallow (site2), missing robots (site3), and
      // block-all (site4). The oracle derives every decision from doc_id
      // arithmetic alone — an independent derivation
      import s.implicits._
      val id = col("doc_id")
      val url = concat(lit("https://site"), (id % 5).cast("string"), lit(".com"),
        when(id % 4 === 0, concat(lit("/public/"), id.cast("string")))
          .when(id % 4 === 1, concat(lit("/private/"), id.cast("string")))
          .when(id % 4 === 2, concat(lit("/tmp/"), id.cast("string")))
          .otherwise(concat(lit("/private/ok/"), id.cast("string"))))
      val robots = Seq(
        ("site0.com", "User-agent: *\nDisallow: /private/\nAllow: /private/ok"),
        ("site1.com", "User-agent: graftbot\nDisallow: /tmp/\n\nUser-agent: *\nDisallow: /"),
        ("site2.com", "User-agent: *\nDisallow:"),
        ("site4.com", "User-agent: *\nDisallow: /")).toDF("host", "robots_txt")
      WebOps.applyRobots(
          docs(s, dir).withColumn("url", url).select(col("doc_id"), col("url")),
          "url", robots, agent = "graftbot")
        .select(col("doc_id"), col("allowed"))
        .orderBy("doc_id")
    }, Some(
      // every robots decision derives from doc_id arithmetic alone:
      // host = id%5, path family = id%4 (see the query's comment)
      """SELECT doc_id,
        |  CASE
        |    WHEN doc_id % 5 = 0 AND doc_id % 4 = 1 THEN false
        |    WHEN doc_id % 5 = 1 AND doc_id % 4 = 2 THEN false
        |    WHEN doc_id % 5 = 4 THEN false
        |    ELSE true END AS allowed
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("q_url_blocklist", (s, dir) => {
      // domain-blocklist filtering (the C4-style bad-domains pass) over
      // synthesized crawl URLs: host = [sub.|www.]example<id%7>.com; the
      // blocklist bans example1.com / example4.com (and so every
      // subdomain) plus the single host sub.example2.com, with
      // deliberately unnormalized entries (case, www., whitespace). The
      // oracle derives the survivor set and its hosts DIRECTLY from
      // doc_id arithmetic — an independent derivation, not a regex mirror
      import s.implicits._
      val id = col("doc_id")
      val raw = concat(
        when(id % 2 === 0, lit("https://")).otherwise(lit("http://")),
        when(id % 4 === 0, lit("Sub.")).when(id % 4 === 1, lit("WWW."))
          .otherwise(lit("")),
        lit("ExAmple"), (id % 7).cast("string"), lit(".CoM/p/"),
        id.cast("string"))
      val block = Seq("  Example1.com", "www.example4.COM ", "sub.example2.com")
        .toDF("domain")
      WebOps.filterBlockedDomains(docs(s, dir).withColumn("url", raw), "url", block)
        .select(id, WebOps.urlHost(col("url")).as("host"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  concat(CASE WHEN doc_id % 4 = 0 THEN 'sub.' ELSE '' END,
        |    'example', cast(doc_id % 7 AS varchar), '.com') AS host
        |FROM documents
        |WHERE NOT (doc_id % 7 IN (1, 4) OR (doc_id % 7 = 2 AND doc_id % 4 = 0))
        |ORDER BY doc_id""".stripMargin)),

    Q("q_docs_perplexity", (s, dir) => {
      // CCNet-style LM quality signal: bigram model trained on the corpus
      // itself (self-scoring — at scale the reference is a bounded clean
      // corpus), per-doc bits-per-token. Every log term is rounded to 6
      // decimals and summed as decimal(18,6), so the mean is bit-exact
      // across engines and partial-agg orders; <2-token docs score NULL
      val d = docsHeavy(s, dir)
      val (bi, uni, v) = LmOps.bigramLm(d, "text")
      LmOps.perplexityBits(d, "doc_id", "text", bi, uni, v)
        .orderBy("doc_id")
    }, Some(
      """WITH toks AS (SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN []
        |      ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS ts
        |  FROM documents),
        |bi AS (SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
        |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM toks)),
        |bc AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
        |uc AS (SELECT w, count(*) AS c1
        |  FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY 1),
        |vv AS (SELECT count(*) AS v FROM uc),
        |terms AS (SELECT b.doc_id,
        |    cast(round(-log2((coalesce(bc.c12, 0) + 1.0) /
        |      (coalesce(uc.c1, 0) + (SELECT v FROM vv))), 6)
        |      AS decimal(18,6)) AS t
        |  FROM bi b LEFT JOIN bc USING (w1, w2) LEFT JOIN uc ON uc.w = b.w1),
        |g AS (SELECT doc_id, count(*) AS n, sum(t) AS s FROM terms GROUP BY 1)
        |SELECT d.doc_id, cast(coalesce(g.n, 0) AS bigint) AS n_bigrams,
        |  CASE WHEN coalesce(g.n, 0) > 0
        |    THEN round(cast(g.s AS double) / g.n, 4) END AS bits
        |FROM documents d LEFT JOIN g USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    Q("q_docs_perplexity3", (s, dir) => {
      // order-n generalization at n=3 (CCNet ships 5-gram models): ctx is
      // the space-joined (n-1)-gram, so the scoring join stays a
      // single-key equi-join at any order. Same decimal determinism
      val d = docsHeavy(s, dir)
      val (ng, ctx, v) = LmOps.ngramLm(d, "text", n = 3)
      LmOps.perplexityBitsN(d, "doc_id", "text", ng, ctx, v, n = 3)
        .orderBy("doc_id")
    }, Some(
      """WITH toks AS (SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN []
        |      ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS ts
        |  FROM documents),
        |tri AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] AS ctx, ts[i+2] AS w
        |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i FROM toks)),
        |nc AS (SELECT ctx, w, count(*) AS cn FROM tri GROUP BY 1, 2),
        |cx AS (SELECT ctx, count(*) AS cc
        |  FROM (SELECT ts[i] || ' ' || ts[i+1] AS ctx
        |        FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM toks))
        |  GROUP BY 1),
        |vv AS (SELECT count(DISTINCT w) AS v
        |  FROM (SELECT unnest(ts) AS w FROM toks)),
        |terms AS (SELECT t.doc_id,
        |    cast(round(-log2((coalesce(nc.cn, 0) + 1.0) /
        |      (coalesce(cx.cc, 0) + (SELECT v FROM vv))), 6)
        |      AS decimal(18,6)) AS t
        |  FROM tri t LEFT JOIN nc USING (ctx, w) LEFT JOIN cx USING (ctx)),
        |g AS (SELECT doc_id, count(*) AS n, sum(t) AS s FROM terms GROUP BY 1)
        |SELECT d.doc_id, cast(coalesce(g.n, 0) AS bigint) AS n_ngrams,
        |  CASE WHEN coalesce(g.n, 0) > 0
        |    THEN round(cast(g.s AS double) / g.n, 4) END AS bits
        |FROM documents d LEFT JOIN g USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    Q("q_docs_dsir", (s, dir) => {
      // DSIR importance weights: target model = docs with doc_id % 5 == 0
      // (the "clean" subset), raw model = the whole corpus; per-doc mean
      // log2-likelihood ratio under add-one unigram models. Same decimal
      // term-sum determinism discipline as q_docs_perplexity
      val d = docs(s, dir)
      LmOps.dsirLogRatio(d, "doc_id", "text",
          d.filter(col("doc_id") % 5 === 0), "text", d, "text")
        .orderBy("doc_id")
    }, Some(
      """WITH toks AS (SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN []
        |      ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS ts
        |  FROM documents),
        |tr AS (SELECT doc_id, unnest(ts) AS w FROM toks),
        |tu AS (SELECT w, count(*) AS c FROM tr WHERE doc_id % 5 = 0 GROUP BY 1),
        |ru AS (SELECT w, count(*) AS c FROM tr GROUP BY 1),
        |tc AS (SELECT coalesce(sum(c), 0) + count(*) AS nv FROM tu),
        |rc AS (SELECT coalesce(sum(c), 0) + count(*) AS nv FROM ru),
        |terms AS (SELECT k.doc_id,
        |    cast(round(log2((coalesce(tu.c, 0) + 1.0) / (SELECT nv FROM tc))
        |             - log2((coalesce(ru.c, 0) + 1.0) / (SELECT nv FROM rc)), 6)
        |      AS decimal(18,6)) AS t
        |  FROM tr k LEFT JOIN tu ON tu.w = k.w LEFT JOIN ru ON ru.w = k.w),
        |g AS (SELECT doc_id, count(*) AS n, sum(t) AS s FROM terms GROUP BY 1)
        |SELECT d.doc_id, cast(coalesce(g.n, 0) AS bigint) AS n_tokens,
        |  CASE WHEN coalesce(g.n, 0) > 0
        |    THEN round(cast(g.s AS double) / g.n, 4) END AS log_ratio
        |FROM documents d LEFT JOIN g USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    Q("q_dedup_semantic", (s, dir) => {
      // SemDeDup within-cluster embedding dedup over planted perturbed
      // twins (+100000, dim0 +0.01 — cosine ~0.9999 vs organic max 0.51,
      // ULP-safe at tau 0.99). Cluster = argmax dimension: deterministic
      // and SQL-expressible, standing in for the production k-means cells
      // (ivfBuild) so survivors verify exactly; a twin whose argmax stays
      // put shares its original's cluster and drops (first id wins)
      val e = emb(s, dir).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val planted = e.union(e.select((col("vec_id") + 100000).as("vec_id"),
        transform(col("v"), (x, i) => when(i === 0, x + 0.01).otherwise(x)).as("v")))
      SimOps.semDedup(planted, "vec_id", "v",
          array_position(col("v"), array_max(col("v"))), tau = 0.99)
        .select("vec_id").orderBy("vec_id")
    }, Some(
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> cast(x AS double)) AS v
        |  FROM embeddings),
        |p AS (SELECT * FROM e
        |      UNION ALL
        |      SELECT vec_id + 100000, list_prepend(v[1] + 0.01, v[2:]) FROM e),
        |c AS (SELECT vec_id, v, list_position(v, list_max(v)) AS cl FROM p)
        |SELECT a.vec_id FROM c a
        |WHERE NOT EXISTS (SELECT 1 FROM c b
        |  WHERE b.cl = a.cl AND b.vec_id < a.vec_id
        |    AND list_cosine_similarity(a.v, b.v) > 0.99)
        |ORDER BY 1""".stripMargin)),

    Q("q_pack_chunks", (s, dir) => {
      // sequence packing: greedy token-budget bins in stable id order,
      // parallel by deterministic 100-id groups; the greedy fold is
      // integer-exact and mirrored by a recursive-CTE oracle
      val toks = docs(s, dir).withColumn("n_tok", TextOps.tokenCount(col("text")))
      PackOps.packChunks(toks, "doc_id", "n_tok", budget = 256, groupSize = 100)
        .toDF()
        .orderBy("doc_id")
    }, Some(
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, doc_id // 100 AS grp,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
        |    row_number() OVER (PARTITION BY doc_id // 100 ORDER BY doc_id) AS rn
        |  FROM documents),
        |rec AS (
        |  SELECT grp, rn, doc_id, n_tok, n_tok AS cum, 0 AS bin FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.grp, t.rn, t.doc_id, t.n_tok,
        |    CASE WHEN rec.cum + t.n_tok > 256 THEN t.n_tok ELSE rec.cum + t.n_tok END,
        |    CASE WHEN rec.cum + t.n_tok > 256 THEN rec.bin + 1 ELSE rec.bin END
        |  FROM rec JOIN t ON t.grp = rec.grp AND t.rn = rec.rn + 1)
        |SELECT doc_id, grp, cast(bin AS int) AS bin, cast(cum AS int) AS cum_tok
        |FROM rec ORDER BY doc_id""".stripMargin)),

    Q("q_docs_top_term", (s, dir) => {
      // retrieval-style term statistics: each doc's highest-tf token
      // (ties -> lexicographically first) joined back to that token's
      // corpus document frequency. Scale shape: explode -> two-level
      // partial agg (tf per (doc, token), df per token) -> broadcast-able
      // join back; all integer/string outputs so the oracle is hash-exact
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(lower(col("text")))).as("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val top = tf.withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("tf").desc, col("token"))))
        .filter(col("rn") === 1).drop("rn")
      top.join(df, "token")
        .select(col("doc_id"), col("token").as("top_term"), col("tf"), col("df"))
        .orderBy("doc_id")
    }, Some(
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |              FROM documents WHERE trim(text) <> ''),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |top AS (SELECT doc_id, token, tf FROM (
        |  SELECT doc_id, token, tf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, token) AS rn
        |  FROM tf) t WHERE rn = 1)
        |SELECT top.doc_id, top.token AS top_term, top.tf, df.df
        |FROM top JOIN df ON top.token = df.token
        |ORDER BY top.doc_id""".stripMargin)),

    Q("q_docs_oov", (s, dir) => {
      // out-of-vocabulary rate vs the corpus top-500 vocabulary (freq
      // desc, token asc) — the vocab-coverage quality signal tokenizer
      // pipelines filter on. Scale shape: one explode->partial-agg pass
      // builds the (bounded) vocab, which BROADCASTs into a map-side
      // membership probe; integer outputs so the oracle is exact
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(lower(col("text")))).as("token"))
      val vocab = toks.groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token")).limit(500)
        .select(col("token"), lit(1).as("__in_vocab"))
      toks.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_tok"),
          sum(when(col("__in_vocab").isNull, 1).otherwise(0)).cast("int").as("n_oov"))
        .orderBy("doc_id")
    }, Some(
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |              FROM documents WHERE trim(text) <> ''),
        |v AS (SELECT token FROM (SELECT token, count(*) AS freq FROM toks
        |      GROUP BY 1 ORDER BY freq DESC, token LIMIT 500))
        |SELECT t.doc_id, cast(count(*) AS int) AS n_tok,
        |  cast(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS int) AS n_oov
        |FROM toks t LEFT JOIN v ON t.token = v.token
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("q_vocab_top", (s, dir) => {
      // vocabulary building for tokenizer training: explode tokens, count,
      // rank — partial aggregation collapses token counts map-side, so the
      // shuffle carries distinct tokens per partition, not the token stream
      docs(s, dir)
        .select(explode(TextOps.tokens(lower(col("text")))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token"))
        .limit(50)
    }, Some(
      """SELECT token, count(*) AS freq
        |FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |      FROM documents WHERE trim(text) <> '')
        |GROUP BY token ORDER BY freq DESC, token LIMIT 50""".stripMargin)),

    Q("q_docs_rollhash", (s, dir) => {
      // polynomial rolling hash over code points, mod 1e9+7, seed 7 — the
      // native codegen expression (one pass, no per-char array); the SQL
      // oracle spells out the same recurrence in DuckDB lambdas
      docs(s, dir).select(col("doc_id"),
          expr("rollhash_native(text)").as("rollhash"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(cast(7 AS bigint),
        |      list_transform(range(1, length(text) + 1), i -> cast(unicode(text[i]) AS bigint))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS rollhash
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("q_docs_tfidf", (s, dir) => {
      // top-3 TF-IDF terms per doc: rank key is the exact rational tf/df
      // (linear idf — no transcendental math, so both engines order
      // identically); tf/df are two hash-agg passes, the ranking window
      // partitions by doc_id (bounded by one doc's vocabulary, never by
      // corpus frequency)
      RetrievalOps.tfIdfTopTerms(docs(s, dir), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")
    }, Some(
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |              FROM documents WHERE trim(text) <> ''),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfc AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |r AS (SELECT tf.doc_id, tf.token, tf.tf, dfc.df,
        |        row_number() OVER (PARTITION BY tf.doc_id
        |          ORDER BY tf.tf * 1.0 / dfc.df DESC, tf.token) AS rank
        |      FROM tf JOIN dfc ON tf.token = dfc.token)
        |SELECT doc_id, cast(rank AS int) AS rank, token, tf, df
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    Q("q_inverted_index", (s, dir) => {
      // inverted-index construction: per token, document frequency + the
      // first-20 posting head via the native bounded-heap topk aggregate
      // (O(k) state map- AND reduce-side; a hot token never concentrates
      // its posting stream on one reducer the way collect_list would)
      RetrievalOps.invertedIndex(docs(s, dir), "doc_id", "text", maxPostings = 20)
        .orderBy("token")
    }, Some(
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |              FROM documents WHERE trim(text) <> ''),
        |td AS (SELECT DISTINCT token, doc_id FROM toks)
        |SELECT token, count(*) AS df,
        |  array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings
        |FROM td GROUP BY token ORDER BY token""".stripMargin)),

    Q("q_docs_bigram_fam", (s, dir) => {
      // corpus-LM familiarity: sum of corpus-wide bigram occurrence counts
      // over each doc's bigram occurrences — the integer-exact n-gram-LM
      // quality signal (gibberish = rare transitions = low familiarity)
      RetrievalOps.bigramFamiliarity(docsHeavy(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN CAST([] AS varchar[])
        |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        |  FROM documents),
        |b AS (SELECT doc_id,
        |    CASE WHEN len(toks) < 2 THEN CAST([] AS varchar[])
        |         ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END AS bi
        |  FROM t),
        |u AS (SELECT doc_id, unnest(bi) AS bigram FROM b),
        |c AS (SELECT bigram, count(*) AS cnt FROM u GROUP BY 1),
        |f AS (SELECT u.doc_id, count(*) AS n_bi, sum(c.cnt) AS fam
        |      FROM u JOIN c ON u.bigram = c.bigram GROUP BY 1)
        |SELECT b.doc_id, cast(coalesce(f.n_bi, 0) AS int) AS n_bi,
        |  cast(coalesce(f.fam, 0) AS bigint) AS familiarity
        |FROM b LEFT JOIN f ON b.doc_id = f.doc_id ORDER BY b.doc_id""".stripMargin)),

    Q("q_docs_sample", (s, dir) => {
      // deterministic stratified down-sampling (corpus mixing): strata by
      // doc_id%3 with per-mille keep rates 500/200/100, decided by a
      // salted content-hash bucket — map-side, zero shuffle, reproducible
      // across runs/layouts/engines, content-stable under re-crawl
      val stratum = (col("doc_id") % 3).cast("int")
      docs(s, dir)
        .withColumn("stratum", stratum)
        .filter(TextOps.sampleKeep(col("text"), stratum.cast("string"), "mix1",
          Map("0" -> 500, "1" -> 200, "2" -> 100)))
        .select(col("doc_id"), col("stratum"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id, cast(doc_id % 3 AS int) AS stratum
        |FROM documents
        |WHERE ('0x' || substr(md5('mix1:' || text), 1, 6))::BIGINT % 1000 <
        |  CASE cast(doc_id % 3 AS int) WHEN 0 THEN 500 WHEN 1 THEN 200 ELSE 100 END
        |ORDER BY doc_id""".stripMargin)),

    // ---- corpus curation: budget, caps, temperature mixing ----------------
    Q("q_budget_select", (s, dir) => {
      // token-budget selection in priority order (longest docs first):
      // two-phase range partition + broadcast prefix offsets — NOT
      // sum() OVER (ORDER BY ...), which plans as ONE partition
      CurateOps.budgetSelect(docs(s, dir), "doc_id",
          priority = length(col("text")),
          tokenCount = TextOps.tokenCount(col("text")), budget = 50000L)
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id, length(text) AS pri,
        |    cast(CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS bigint) AS n_tokens
        |  FROM documents),
        |o AS (SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY pri DESC, doc_id) AS cum_tokens FROM t)
        |SELECT doc_id, n_tokens, cast(cum_tokens AS bigint) AS cum_tokens
        |FROM o WHERE cum_tokens <= 50000 ORDER BY doc_id""".stripMargin)),

    Q("q_source_cap", (s, dir) => {
      // per-source document cap via the bounded-heap topk_by_score
      // aggregate (O(n) state both sides of the exchange); composite
      // score length*2^20 - doc_id is tie-free and double-exact
      CurateOps.capPerGroup(docs(s, dir), "doc_id", "source",
          score = length(col("text")).cast("double") * lit(1048576.0)
            - col("doc_id").cast("double"), n = 5)
        .orderBy("source", "rank")
    }, Some(
      """SELECT source, doc_id, cast(rn AS int) AS rank FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY length(text) DESC, doc_id) AS rn
        |  FROM documents) WHERE rn <= 5 ORDER BY source, rank""".stripMargin)),

    Q("q_mix_temperature", (s, dir) => {
      // temperature-weighted source mixing (alpha=0.5): skewed groups by
      // construction (g3 holds 13/16 of the corpus), per-group rate
      // floor(1000*sqrt(n_min/n)) — sqrt is IEEE-correctly-rounded in
      // both engines, so the oracle is bit-exact; keep decision is the
      // salted content-hash mille bucket
      CurateOps.mixByTemperature(
          docs(s, dir).withColumn("grp",
            concat(lit("g"), least(col("doc_id") % 16, lit(3)).cast("string"))),
          "doc_id", "text", "grp", alpha = 0.5, seed = "mixT")
        .orderBy("doc_id")
    }, Some(
      """WITH d AS (SELECT doc_id, text,
        |    'g' || cast(least(doc_id % 16, 3) AS varchar) AS grp FROM documents),
        |c AS (SELECT grp, count(*) AS n_src FROM d GROUP BY grp),
        |m AS (SELECT min(n_src) AS n_min FROM c),
        |r AS (SELECT grp, cast(floor(1000.0 * sqrt(cast(n_min AS double) / n_src)) AS int)
        |        AS rate_mille FROM c, m)
        |SELECT d.doc_id, d.grp, r.rate_mille
        |FROM d JOIN r ON d.grp = r.grp
        |WHERE ('0x' || substr(md5('mixT:' || d.text), 1, 6))::BIGINT % 1000 < r.rate_mille
        |ORDER BY d.doc_id""".stripMargin)),

    Q("q_docs_shuffle", (s, dir) => {
      // deterministic global shuffle + sharding: stable position by
      // md5("s42:"||id) order via the two-phase total-order idiom (range
      // partition + within-partition sort + broadcast prefix offsets) —
      // NOT a row_number window, which would plan a single-partition sort
      ShuffleOps.globalShuffle(docs(s, dir), "doc_id", "s42", nShards = 8)
        .orderBy("doc_id")
    }, Some(
      """WITH k AS (SELECT doc_id, md5('s42:' || cast(doc_id AS varchar)) AS hk
        |           FROM documents),
        |n AS (SELECT count(*) AS cnt FROM documents),
        |o AS (SELECT doc_id,
        |        row_number() OVER (ORDER BY hk, doc_id) - 1 AS pos FROM k)
        |SELECT o.doc_id,
        |  cast(o.pos * 8 // greatest(1, n.cnt) AS int) AS shard,
        |  cast(o.pos AS bigint) AS pos
        |FROM o, n ORDER BY o.doc_id""".stripMargin)),

    Q("q_dedup_lines_global", (s, dir) => {
      // corpus-wide duplicate-line removal (C4-style keep-globally-first):
      // constructed 5-line docs — 'nav'/'footer' repeat corpus-wide (only
      // doc 0 keeps them), 'promo <k>' repeats per 10-doc group, and the
      // doc body appears twice (second copy always drops; first copy drops
      // iff an earlier doc has identical text)
      val lined = docs(s, dir).withColumn("doc",
        concat(lit("nav\n"), col("text"), lit("\npromo "),
          (col("doc_id") % 10).cast("string"), lit("\n"), col("text"),
          lit("\nfooter")))
      DedupOps.dedupLinesGlobal(lined, "doc_id", "doc")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }, Some(
      """WITH d AS (SELECT doc_id,
        |    concat('nav', chr(10), text, chr(10), 'promo ',
        |           cast(doc_id % 10 AS varchar), chr(10), text, chr(10),
        |           'footer') AS doc
        |  FROM documents),
        |l AS (SELECT doc_id, u['idx'] AS idx, u['line'] AS line FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(arr) + 1),
        |        i -> {'idx': i - 1, 'line': arr[i]})) AS u
        |    FROM (SELECT doc_id, string_split(doc, chr(10)) AS arr FROM d))),
        |w AS (SELECT line, min(doc_id * 1000000 + idx) AS wk FROM l GROUP BY 1),
        |kept AS (SELECT l.doc_id, l.idx, l.line FROM l JOIN w
        |         ON l.line = w.line AND l.doc_id * 1000000 + l.idx = w.wk),
        |r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS cleaned,
        |             count(*) AS n_after FROM kept GROUP BY 1)
        |SELECT d.doc_id, coalesce(r.cleaned, '') AS cleaned,
        |  cast(len(string_split(d.doc, chr(10))) AS int) AS n_before,
        |  cast(coalesce(r.n_after, 0) AS int) AS n_after
        |FROM d LEFT JOIN r ON d.doc_id = r.doc_id ORDER BY d.doc_id""".stripMargin)),

    Q("q_docs_bm25", (s, dir) => {
      // BM25 serving: three literal queries ranked over the document
      // corpus, top-5 each via the bounded-heap aggregate; per-term
      // decimal rounding makes the scores bit-exact across engines
      val d = docs(s, dir)
      val qs = s.createDataFrame(Seq(
        (1L, "spark window merge"),
        (2L, "customer filter query"),
        (3L, "vector hash join"))).toDF("query_id", "qtext")
      RetrievalOps.bm25TopDocs(d, "doc_id", "text", qs, "query_id", "qtext", topK = 5)
        .select(col("query_id"), col("rank"), col("doc_id"),
          col("score").cast("double").as("score"))
        .orderBy("query_id", "rank")
    }, Some(
      // BM25: the SQL mirrors the Scala expression tree literally (same
      // double operation order, ln rounded to 6 decimals per term, per-term
      // product re-rounded into decimal(18,6), exact decimal sum) so the
      // scores are bit-identical; rank ties break on ascending doc_id in
      // both engines.
      """WITH q(query_id, qtext) AS (VALUES
        |    (CAST(1 AS bigint), 'spark window merge'),
        |    (CAST(2 AS bigint), 'customer filter query'),
        |    (CAST(3 AS bigint), 'vector hash join')),
        |tk AS (SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN CAST([] AS varchar[])
        |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS ts
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(ts) AS token FROM tk),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfc AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |st AS (SELECT count(*) AS n_docs,
        |         cast(sum(len(ts)) AS double) / count(*) AS avgdl FROM tk),
        |qt AS (SELECT query_id,
        |         unnest(list_distinct(regexp_split_to_array(trim(lower(qtext)), '\s+'))) AS token
        |       FROM q),
        |term AS (SELECT qt.query_id, tf.doc_id,
        |    cast(round(round(ln(1.0 + (st.n_docs - dfc.df + 0.5) / (dfc.df + 0.5)), 6)
        |        * (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6)
        |      AS decimal(18,6)) AS t
        |  FROM tf JOIN qt USING (token) JOIN dfc USING (token) JOIN dl USING (doc_id), st),
        |sc AS (SELECT query_id, doc_id, sum(t) AS s FROM term GROUP BY 1, 2),
        |rk AS (SELECT query_id, doc_id, s,
        |         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS rank
        |       FROM sc)
        |SELECT query_id, cast(rank AS int) AS rank, doc_id, cast(s AS double) AS score
        |FROM rk WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q("q_contamination_bloom", (s, dir) => {
      // the same decontamination answer as q_contamination through the
      // Bloom build->probe->verify shape (the bench-too-big-to-broadcast
      // scale path): bloom prunes the train shingle stream map-side, the
      // exact verify join removes every false positive, so the oracle is
      // the identical SQL
      val d = docsHeavy(s, dir)
      BloomOps.contaminationBloom(
          d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", k = 5)
        .select(col("id").as("doc_id"), col("n_hits"))
        .orderBy("doc_id")
    }, Some(contaminationOracle)),

    Q("q_data_card", (s, dir) => {
      // per-source release data card: doc/token/empty counts, language
      // spread, dominant language (aggregate argmax, no window), mean
      // lengths — every number integer-derived so the oracle is exact
      CurateOps.dataCard(docs(s, dir), "source", "text", "lang")
        .orderBy("source")
    }, Some(
      """WITH t AS (SELECT source, lang,
        |    CASE WHEN trim(coalesce(text, '')) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(coalesce(text, '')), '\s+')) END AS nt,
        |    length(coalesce(text, '')) AS nc
        |  FROM documents),
        |pl AS (SELECT source, lang, count(*) AS docs, sum(nt) AS toks,
        |         sum(CASE WHEN nt = 0 THEN 1 ELSE 0 END) AS empt, sum(nc) AS chars
        |       FROM t GROUP BY 1, 2),
        |tl AS (SELECT source, lang,
        |         row_number() OVER (PARTITION BY source ORDER BY docs DESC, lang) AS rn
        |       FROM pl),
        |agg AS (SELECT source, cast(sum(docs) AS bigint) AS n_docs,
        |          cast(sum(toks) AS bigint) AS n_tokens,
        |          cast(sum(empt) AS bigint) AS n_empty,
        |          count(*) AS n_langs,
        |          round(cast(sum(toks) AS double) / sum(docs), 4) AS mean_tokens,
        |          round(cast(sum(chars) AS double) / sum(docs), 4) AS mean_chars
        |        FROM pl GROUP BY 1)
        |SELECT agg.source, n_docs, n_tokens, n_empty, n_langs, w.lang AS top_lang,
        |       mean_tokens, mean_chars
        |FROM agg JOIN (SELECT source, lang FROM tl WHERE rn = 1) w USING (source)
        |ORDER BY source""".stripMargin)),

    Q("q_contamination_ratio", (s, dir) => {
      // thresholded decontamination: per train doc, distinct 5-gram count,
      // benchmark-overlap count, and the integer-exact >=20% flag — the
      // form real pipelines filter on (one shared n-gram is noise; a 20%
      // overlap is a leak). Same guarded-broadcast shape as q_contamination
      val d = docsHeavy(s, dir)
      DedupOps.contaminationRatio(
          d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", k = 5, thresholdPct = 20)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN CAST([] AS varchar[])
        |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 5 THEN CAST([] AS varchar[])
        |         ELSE list_transform(range(1, len(toks) - 3),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |                toks[i+3] || ' ' || toks[i+4]) END) AS s
        |  FROM t),
        |bset AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 5 = 0),
        |tr AS (SELECT doc_id, unnest(s) AS g, len(s) AS n
        |       FROM sh WHERE doc_id % 5 <> 0),
        |hits AS (SELECT tr.doc_id, count(*) AS n_sh,
        |           sum(CASE WHEN bset.g IS NULL THEN 0 ELSE 1 END) AS n_hit
        |         FROM tr LEFT JOIN bset ON tr.g = bset.g GROUP BY 1)
        |SELECT sh.doc_id, cast(coalesce(h.n_sh, 0) AS int) AS n_sh,
        |  cast(coalesce(h.n_hit, 0) AS int) AS n_hit,
        |  cast(CASE WHEN coalesce(h.n_hit, 0) * 100 >= coalesce(h.n_sh, 0) * 20
        |            AND coalesce(h.n_sh, 0) > 0 THEN 1 ELSE 0 END AS int) AS flagged
        |FROM sh LEFT JOIN hits h ON sh.doc_id = h.doc_id
        |WHERE sh.doc_id % 5 <> 0 ORDER BY sh.doc_id""".stripMargin)),

    // ---- similarity search ------------------------------------------------
    Q("q_ann_top1", (s, dir) => {
      val e = emb(s, dir)
      SimOps.bruteForceTopK(e.filter(col("vec_id") < 25), e, k = 1)
        .select("query_id", "neighbor_id")
        .orderBy("query_id")
    }, Some(
      """SELECT query_id, neighbor_id FROM (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |      list_cosine_similarity(list_transform(a.embedding, x -> cast(x AS double)),
        |                             list_transform(b.embedding, x -> cast(x AS double))) DESC,
        |      b.vec_id) AS rn
        |  FROM embeddings a, embeddings b
        |  WHERE a.vec_id < 25 AND b.vec_id <> a.vec_id) t
        |WHERE rn = 1 ORDER BY query_id""".stripMargin)),

    Q("q_dedup_embedding", (s, dir) => {
      // embedding-cosine near-dup with planted perturbed copies: organic
      // max cosine in this corpus is 0.51, planted copies are ~0.9999, so
      // threshold 0.99 is ULP-safe for exact oracle comparison
      // query side bounded (vec_id < 100) and broadcast — the corpus side
      // streams once; an unbounded all-pairs cross join is exactly the plan
      // that must NOT exist at scale (measured 387 s at sf0.1)
      val e = emb(s, dir).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val planted = e.union(e.select((col("vec_id") + 100000).as("vec_id"),
          transform(col("v"), (x, i) => when(i === 0, x + 0.01).otherwise(x)).as("v")))
        // norms computed once per ROW (not per pair): the per-pair work is
        // just the fused array_dot — no per-pair intermediate array
        .withColumn("nrm", sqrt(native(ArrayNorm2Expr, col("v"))))
      val queries = broadcast(planted.filter(col("vec_id") < 100)
        .select(col("vec_id").as("id_a"), col("v").as("qv"), col("nrm").as("qn")))
      val dot = GraftSqlBridge.column(ArrayDotExpr(
        GraftSqlBridge.expression(col("qv")), GraftSqlBridge.expression(col("v"))))
      queries.join(planted, col("id_a") < col("vec_id"))
        .withColumn("sim", when(col("qn") === 0.0 || col("nrm") === 0.0, lit(0.0))
          .otherwise(dot / (col("qn") * col("nrm"))))
        .filter(col("sim") > 0.99)
        .select(col("id_a"), col("vec_id").as("id_b"))
        .orderBy("id_a", "id_b")
    }, Some(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v
        |           FROM embeddings),
        |     p AS (SELECT * FROM e
        |           UNION ALL
        |           SELECT vec_id + 100000, list_prepend(v[1] + 0.01, v[2:])
        |           FROM e)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM p a, p b
        |WHERE a.vec_id < 100 AND a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.v, b.v) > 0.99
        |ORDER BY 1, 2""".stripMargin)),

    Q("q_filter_dates", (s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01"))
        .groupBy(month(col("l_shipdate")).cast("long").as("ship_month"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy("ship_month")
    }, Some(
      """SELECT cast(month(l_shipdate) AS bigint) AS ship_month, count(*) AS cnt, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("q_having_custs", (s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 15)
        .orderBy("o_custkey")
    }, Some(
      """SELECT o_custkey, count(*) AS n_orders FROM orders
        |GROUP BY 1 HAVING count(*) >= 15 ORDER BY 1""".stripMargin)),

    Q("q_anti_join", (s, dir) => {
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val urgent = orders.filter(col("o_orderpriority") === "1-URGENT")
      customer.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }, Some(
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)),

    Q("q_scalar_funcs", (s, dir) => {
      docs(s, dir).select(col("doc_id"),
          upper(substring(col("text"), 1, 10)).as("head_upper"),
          (length(col("text")) % 7).cast("long").as("len_mod"),
          concat(col("lang"), lit(":"), col("source")).as("tag"),
          round(col("n_chars") / lit(3.0), 2).as("thirds"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  upper(substring(text, 1, 10)) AS head_upper,
        |  cast(length(text) % 7 AS bigint) AS len_mod,
        |  lang || ':' || source AS tag,
        |  round(n_chars / 3.0, 2) AS thirds
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- parse/transform FSM ops with constructed oracles ------------------
    Q("q_strip_constructed", (s, dir) => {
      docs(s, dir).select(col("doc_id"),
          native(BBCodeStripExpr, concat(lit("[b]"), col("text"), lit("[/b] [list][*]"),
            col("text"), lit("[*]tail[/list]"))).as("plain"))
        .orderBy("doc_id")
    }, Some(
      "SELECT doc_id, text || ' ' || text || 'tail' AS plain FROM documents ORDER BY doc_id")),

    Q("q_render_constructed", (s, dir) => {
      docs(s, dir).select(col("doc_id"),
          native(BBCodeRenderExpr, concat(lit("[b]"), col("text"), lit("[/b] [i]x[/i]"))).as("html"))
        .orderBy("doc_id")
    }, Some(
      "SELECT doc_id, '<strong>' || text || '</strong> <em>x</em>' AS html FROM documents ORDER BY doc_id")),

    Q("q_escape_constructed", (s, dir) => {
      docs(s, dir).select(col("doc_id"),
          Udfs.escapeHtml(concat(col("text"), lit(" <a & \"b\">"))).as("escaped"))
        .orderBy("doc_id")
    }, Some(
      "SELECT doc_id, text || ' &lt;a &amp; &quot;b&quot;&gt;' AS escaped FROM documents ORDER BY doc_id")),

    Q("q_strip_native_expr", (s, dir) => {
      // the same constructed strip, but resolved by its registered SQL
      // name instead of built as a Column — puts the SQL-function
      // registration surface under the DuckDB oracle
      docs(s, dir).select(col("doc_id"),
          expr("bbcode_strip_native(concat('[b]', text, '[/b] [list][*]', text, '[*]tail[/list]'))")
            .as("plain"))
        .orderBy("doc_id")
    }, Some(
      "SELECT doc_id, text || ' ' || text || 'tail' AS plain FROM documents ORDER BY doc_id")),

    Q("q_html_strip_constructed", (s, dir) => {
      docs(s, dir).select(col("doc_id"),
          native(HtmlStripExpr, concat(lit("<div class=\"x\">"), col("text"),
            lit("</div><br><script>s</script>"))).as("plain"))
        .orderBy("doc_id")
    }, Some(
      "SELECT doc_id, text || 's' AS plain FROM documents ORDER BY doc_id")),

    // ---- transcript pipeline over constructed turns (oracled) -------------
    Q("q_pipeline_extract", (s, dir) => {
      ExtractJob.extract(constructedTurns(s, dir)).toDF()
        .select("conv_id", "turn_idx", "role", "plain_text", "html", "n_tags", "parse_error")
        .orderBy("conv_id", "turn_idx")
    }, Some(
      """WITH t AS (SELECT 'c' || cast(doc_id % 50 AS varchar) AS conv_id,
        |    cast(doc_id // 50 AS int) AS turn_idx,
        |    CASE cast(doc_id % 3 AS int) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
        |    cast(doc_id % 5 AS int) AS v, text FROM documents)
        |SELECT conv_id, turn_idx, role,
        |  CASE v WHEN 0 THEN text WHEN 1 THEN text || 'tail' WHEN 2 THEN text || ' [b'
        |         WHEN 3 THEN text ELSE text || ' <&> "q"' END AS plain_text,
        |  CASE v WHEN 0 THEN '<strong>' || text || '</strong>'
        |         WHEN 1 THEN '<ul><li>' || text || '</li><li>tail</li></ul>'
        |         WHEN 2 THEN text || ' [b'
        |         WHEN 3 THEN '<pre style="margin: 5px 15px 5px 15px; border: 1px dashed #2f6fab; font-family: monospace; padding: 3px 5px 3px 5px; background-color: #f9f9f9;">' || text || '</pre>'
        |         ELSE text || ' &lt;&amp;&gt; &quot;q&quot;' END AS html,
        |  cast(CASE v WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 3 THEN 1 ELSE 0 END AS int) AS n_tags,
        |  CAST(NULL AS varchar) AS parse_error
        |FROM t ORDER BY conv_id, turn_idx""".stripMargin)),

    Q("q_pipeline_assembly", (s, dir) => {
      // the full north-star flow: scan -> per-turn extract -> skew-salted
      // per-conversation assembly in stable (conv_id, turn_idx) order;
      // chunk=4 forces multi-chunk merge at every sf
      val extracted = ExtractJob.extract(constructedTurns(s, dir)).toDF()
      ConvAssembly.assembleSalted(extracted, chunk = 4)
        .select(col("conv_id"), col("n_turns"), col("conv_text"),
          length(col("conv_text")).cast("long").as("n_chars"))
        .orderBy("conv_id")
    }, Some(
      """WITH t AS (SELECT 'c' || cast(doc_id % 50 AS varchar) AS conv_id,
        |    cast(doc_id // 50 AS int) AS turn_idx,
        |    CASE cast(doc_id % 5 AS int) WHEN 0 THEN text WHEN 1 THEN text || 'tail'
        |         WHEN 2 THEN text || ' [b' WHEN 3 THEN text
        |         ELSE text || ' <&> "q"' END AS plain FROM documents)
        |SELECT conv_id, count(*) AS n_turns,
        |  string_agg(plain, chr(10) ORDER BY turn_idx) AS conv_text,
        |  cast(length(string_agg(plain, chr(10) ORDER BY turn_idx)) AS bigint) AS n_chars
        |FROM t GROUP BY conv_id ORDER BY conv_id""".stripMargin)),

    Q("q_pipeline_html", (s, dir) => {
      ExtractJob.extract(constructedHtmlTurns(s, dir), markup = ExtractJob.Html).toDF()
        .select("conv_id", "turn_idx", "plain_text", "html", "n_tags", "parse_error")
        .orderBy("conv_id", "turn_idx")
    }, Some(
      """WITH t AS (SELECT 'c' || cast(doc_id % 50 AS varchar) AS conv_id,
        |    cast(doc_id // 50 AS int) AS turn_idx,
        |    cast(doc_id % 4 AS int) AS v, text FROM documents)
        |SELECT conv_id, turn_idx,
        |  CASE v WHEN 0 THEN text WHEN 1 THEN text || 'tail'
        |         WHEN 2 THEN '<!--c-->' || text ELSE 's' || text END AS plain_text,
        |  CASE v WHEN 0 THEN text WHEN 1 THEN text || 'tail'
        |         WHEN 2 THEN '&lt;!--c--&gt;' || text ELSE 's' || text END AS html,
        |  cast(CASE v WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 0 ELSE 1 END AS int) AS n_tags,
        |  CAST(NULL AS varchar) AS parse_error
        |FROM t ORDER BY conv_id, turn_idx""".stripMargin)),

    Q("q_pipeline_errors", (s, dir) => {
      ExtractJob.extract(constructedTurns(s, dir)).toDF()
        .agg(count(lit(1)).as("n_turns"),
          sum(when(col("parse_error").isNotNull, 1L).otherwise(0L)).as("n_errors"),
          sum(col("n_tags")).as("total_tags"))
    }, Some(
      """SELECT count(*) AS n_turns, cast(0 AS bigint) AS n_errors,
        |  cast(sum(CASE cast(doc_id % 5 AS int) WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 3 THEN 1 ELSE 0 END) AS bigint) AS total_tags
        |FROM documents""".stripMargin)),

    Q("q_html_main_content", (s, dir) => {
      // DOM-heuristic boilerplate removal: header/footer/script are elided,
      // the link-farm menu div scores negative, the article (even-doc
      // variant) or the full de-boilerplated page (odd) must surface
      // exactly the original text — any nav/menu/footer leakage mismatches
      val page = when(col("doc_id") % 2 === 0,
        concat(lit("<html><body><header>Site Name</header><div class=\"m\">" +
          "<a href=\"/a\">Home page link</a><a href=\"/b\">About us page link</a>" +
          "<a href=\"/c\">Contact page link</a></div><article>"), col("text"),
          lit("</article><footer>Copyright legal</footer></body></html>")))
        .otherwise(concat(lit("<p>"), col("text"),
          lit("</p><script>var x=1;</script><!-- note -->")))
      docs(s, dir).select(col("doc_id"), Udfs.mainContent(page).as("main_text"))
        .orderBy("doc_id")
    }, Some(
      "SELECT doc_id, text AS main_text FROM documents ORDER BY doc_id")),

    Q("q_pipeline_offsets", (s, dir) => {
      // the packed escape-offsets column (pos<<32 | amount), exploded: only
      // the escape variant (doc_id%5==4) produces shifts, at positions and
      // amounts fixed by the reference's escape table
      ExtractJob.extract(constructedTurns(s, dir)).toDF()
        .select(col("conv_id"), col("turn_idx"), explode(col("offsets")).as("packed"))
        .select(col("conv_id"), col("turn_idx"),
          shiftrightunsigned(col("packed"), 32).cast("int").as("pos"),
          col("packed").bitwiseAND(0xffffffffL).cast("int").as("amount"))
        .orderBy("conv_id", "turn_idx", "pos")
    }, Some(
      """WITH t AS (SELECT 'c' || cast(doc_id % 50 AS varchar) AS conv_id,
        |    cast(doc_id // 50 AS int) AS turn_idx, length(text) AS L
        |  FROM documents WHERE doc_id % 5 = 4),
        |o AS (
        |  SELECT conv_id, turn_idx, L+1 AS pos, 3 AS amount FROM t UNION ALL
        |  SELECT conv_id, turn_idx, L+2, 4 FROM t UNION ALL
        |  SELECT conv_id, turn_idx, L+3, 3 FROM t UNION ALL
        |  SELECT conv_id, turn_idx, L+5, 5 FROM t UNION ALL
        |  SELECT conv_id, turn_idx, L+7, 5 FROM t)
        |SELECT conv_id, turn_idx, cast(pos AS int) AS pos, cast(amount AS int) AS amount
        |FROM o ORDER BY conv_id, turn_idx, pos""".stripMargin)),

    Q("q_span_lineage", (s, dir) => {
      SpanLineage.spanTable(constructedTurns(s, dir)).toDF()
        .orderBy("conv_id", "turn_idx", "out_begin")
    }, Some(
      """WITH t AS (SELECT 'c' || cast(doc_id % 50 AS varchar) AS conv_id,
        |    cast(doc_id // 50 AS int) AS turn_idx,
        |    cast(doc_id % 5 AS int) AS v, length(text) AS L FROM documents)
        |SELECT * FROM (
        |  SELECT conv_id, turn_idx,
        |    cast(CASE v WHEN 0 THEN 3 WHEN 1 THEN 9 WHEN 3 THEN 6 ELSE 0 END AS int) AS node_begin,
        |    cast(CASE v WHEN 0 THEN 3+L WHEN 1 THEN 9+L WHEN 2 THEN L+3 WHEN 3 THEN 6+L ELSE L+8 END AS int) AS node_end,
        |    cast(0 AS int) AS out_begin,
        |    cast(CASE v WHEN 0 THEN L WHEN 1 THEN L WHEN 2 THEN L+3 WHEN 3 THEN L ELSE L+8 END AS int) AS out_end
        |  FROM t
        |  UNION ALL
        |  SELECT conv_id, turn_idx, cast(L+12 AS int), cast(L+16 AS int), cast(L AS int), cast(L+4 AS int)
        |  FROM t WHERE v = 1)
        |ORDER BY conv_id, turn_idx, out_begin""".stripMargin)),

    Q("q_span_lineage_render", (s, dir) => {
      // render-path lineage: text-node input spans mapped into the FINAL
      // rendered HTML (the FreeMarkerTransformer consumer half); output
      // positions account for renderer wrapping and escape growth
      SpanLineage.renderSpanTable(constructedTurns(s, dir)).toDF()
        .orderBy("conv_id", "turn_idx", "out_begin")
    }, Some(
      """WITH t AS (SELECT 'c' || cast(doc_id % 50 AS varchar) AS conv_id,
        |    cast(doc_id // 50 AS int) AS turn_idx,
        |    cast(doc_id % 5 AS int) AS v, length(text) AS L,
        |    length('<pre style="margin: 5px 15px 5px 15px; border: 1px dashed #2f6fab; font-family: monospace; padding: 3px 5px 3px 5px; background-color: #f9f9f9;">') AS pre
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT conv_id, turn_idx,
        |    cast(CASE v WHEN 0 THEN 3 WHEN 1 THEN 9 WHEN 3 THEN 6 ELSE 0 END AS int) AS node_begin,
        |    cast(CASE v WHEN 0 THEN 3+L WHEN 1 THEN 9+L WHEN 2 THEN L+3 WHEN 3 THEN 6+L ELSE L+8 END AS int) AS node_end,
        |    cast(CASE v WHEN 0 THEN 8 WHEN 1 THEN 8 WHEN 2 THEN 0 WHEN 3 THEN pre ELSE 0 END AS int) AS out_begin,
        |    cast(CASE v WHEN 0 THEN 8+L WHEN 1 THEN 8+L WHEN 2 THEN L+3 WHEN 3 THEN pre+L ELSE L+28 END AS int) AS out_end
        |  FROM t
        |  UNION ALL
        |  SELECT conv_id, turn_idx, cast(L+12 AS int), cast(L+16 AS int), cast(L+17 AS int), cast(L+21 AS int)
        |  FROM t WHERE v = 1)
        |ORDER BY conv_id, turn_idx, out_begin""".stripMargin)),

    // ---- near-dup detection (exact oracle: organic planted near-dups) -----
    Q("q_dedup_minhash", (s, dir) => {
      // documents carries driver-planted near-dups: organic jaccard is
      // either <0.2 (word soup) or >=0.8 (the planted cluster), so
      // threshold 0.5 sits in a wide gap; 64 bands x 8 rows makes the miss
      // probability at j>=0.8 ~8e-6/pair — verified equal to the exact
      // ground truth at sf0.001/0.01/0.1
      DedupOps.minhashNearDups(docsHeavy(s, dir), "doc_id", "text",
          threshold = 0.5, numHashes = 512, bands = 64)
        .select("id_a", "id_b", "inter", "union")
        .orderBy("id_a", "id_b")
    }, Some(
      """WITH t AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(regexp_split_to_array(trim(lower(text)),'\s+')) - 1),
        |    i -> regexp_split_to_array(trim(lower(text)),'\s+')[i] || ' ' ||
        |         regexp_split_to_array(trim(lower(text)),'\s+')[i+1] || ' ' ||
        |         regexp_split_to_array(trim(lower(text)),'\s+')[i+2])) AS sh
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM t),
        |p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter,
        |             any_value(a.n) AS na, any_value(b.n) AS nb
        |      FROM u a JOIN u b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT ia AS id_a, ib AS id_b, cast(inter AS int) AS inter,
        |  cast(na + nb - inter AS int) AS "union"
        |FROM p WHERE inter * 1.0 / (na + nb - inter) >= 0.5 ORDER BY 1, 2""".stripMargin)),

    Q("q_dedup_incremental", (s, dir) => {
      // batch-vs-index incremental near-dup end-to-end: index the corpus
      // once on disk (band rows only), then dedup a "new day" batch — the
      // first 50 docs re-submitted under +500000 ids — against it without
      // re-signaturing the corpus. Expected pairs are fully derivable:
      // each twin hits its original (jaccard 1) plus every old doc the
      // original near-dupped with, and batch-internal pairs mirror the
      // originals' own pair set; the oracle recomputes exact shingle
      // jaccard over the SAME threshold-0.5 gap q_dedup_minhash uses
      val d = docsHeavy(s, dir).select("doc_id", "text")
      val batch = d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 500000).as("doc_id"), col("text"))
      val tmp = scratchDir("incdedup_q") + "/idx"
      DedupOps.writeMinhashIndex(d, "doc_id", "text", tmp,
        k = 3, numHashes = 512, bands = 64)
      DedupOps.incrementalNearDups(batch, "doc_id", "text", tmp, d,
          threshold = 0.5)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }, Some(
      """WITH t AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(regexp_split_to_array(trim(lower(text)),'\s+')) - 1),
        |    i -> regexp_split_to_array(trim(lower(text)),'\s+')[i] || ' ' ||
        |         regexp_split_to_array(trim(lower(text)),'\s+')[i+1] || ' ' ||
        |         regexp_split_to_array(trim(lower(text)),'\s+')[i+2])) AS sh
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM t),
        |p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter,
        |             any_value(a.n) AS na, any_value(b.n) AS nb
        |      FROM u a JOIN u b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (SELECT ia, ib FROM p WHERE inter * 1.0 / (na + nb - inter) >= 0.5)
        |SELECT id_a, id_b FROM (
        |  SELECT doc_id AS id_a, doc_id + 500000 AS id_b
        |    FROM documents WHERE doc_id < 50
        |  UNION ALL SELECT ia, ib + 500000 FROM j WHERE ib < 50
        |  UNION ALL SELECT ib, ia + 500000 FROM j WHERE ia < 50
        |  UNION ALL SELECT ia + 500000, ib + 500000 FROM j WHERE ib < 50
        |) ORDER BY 1, 2""".stripMargin)),

    Q("q_dedup_unseen", (s, dir) => {
      // incremental EXACT dedup: filter an ingest batch against an on-disk
      // fingerprint index of the corpus (the cheap pre-near-dup stage).
      // Batch = verbatim re-crawls of docs <25 (+600000 — all seen, drop),
      // suffixed variants of docs <10 (+700000 — unseen, keep), and an
      // internal twin pair (800000/800001 — first id wins). Survivors are
      // independently derivable from doc_id arithmetic alone.
      val d = docs(s, dir).select("doc_id", "text")
      val tmp = scratchDir("fpidx_q") + "/idx"
      DedupOps.writeFingerprintIndex(d, "doc_id", "text", tmp)
      val lo = d.filter(col("doc_id") < 25)
      val batch = lo.select((col("doc_id") + 600000).as("doc_id"), col("text"))
        .union(d.filter(col("doc_id") < 10).select(
          (col("doc_id") + 700000).as("doc_id"),
          concat(col("text"), lit(" xq417q")).as("text")))
        .union(d.filter(col("doc_id") === 17).select(
          lit(800000L).as("doc_id"), concat(col("text"), lit(" xq418q")).as("text")))
        .union(d.filter(col("doc_id") === 17).select(
          lit(800001L).as("doc_id"), concat(col("text"), lit(" xq418q")).as("text")))
      DedupOps.filterUnseen(batch, "doc_id", "text", tmp)
        .select("doc_id").orderBy("doc_id")
    }, Some(
      """WITH f AS (SELECT doc_id,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents WHERE doc_id < 10),
        |k AS (SELECT doc_id FROM f a WHERE NOT EXISTS (
        |        SELECT 1 FROM f b WHERE b.norm = a.norm AND b.doc_id < a.doc_id))
        |SELECT doc_id FROM (
        |  SELECT doc_id + 700000 AS doc_id FROM k
        |  UNION ALL SELECT cast(800000 AS bigint)
        |) ORDER BY 1""".stripMargin)),

    Q("q_dedup_simhash", (s, dir) => {
      // exact twins (+100000, same text) have hamming 0, and hamming<=3
      // over 4x16-bit bands collides structurally (pigeonhole) — so twin
      // recall is certain and the oracle exact. The unrestricted pair set
      // is NOT oracle-able on this corpus: its narrow vocabulary produces
      // organic simhash collisions at hamming 0..3 that SQL cannot derive.
      val d = docs(s, dir).select("doc_id", "text")
      val planted = d.union(d.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      DedupOps.simhashNearDups(planted, "doc_id", "text", maxHamming = 3)
        .filter(col("id_b") === col("id_a") + 100000)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a")
    }, Some(
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b, cast(0 AS int) AS hamming
        |FROM documents ORDER BY 1""".stripMargin)),

    // ---- ANN with exact recall oracles (planted twins) --------------------
    Q("q_ann_lsh", (s, dir) => {
      val e = emb(s, dir)
      SimOps.lshTopK(twinQueries(e), e, k = 1, bits = 6)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id")
    }, Some(
      """SELECT vec_id + 100000 AS query_id, vec_id AS neighbor_id, cast(1 AS int) AS rank
        |FROM embeddings WHERE vec_id < 25 ORDER BY 1""".stripMargin)),

    Q("q_ann_ivf", (s, dir) => {
      val e = emb(s, dir)
      SimOps.ivfTopK(twinQueries(e), e, k = 1, nCells = 16, nprobe = 4)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id")
    }, Some(
      """SELECT vec_id + 100000 AS query_id, vec_id AS neighbor_id, cast(1 AS int) AS rank
        |FROM embeddings WHERE vec_id < 25 ORDER BY 1""".stripMargin)),

    Q("q_ann_ivf_disk", (s, dir) => {
      // the index-once/query-many path end-to-end: build, write parquet
      // partitioned by cell, reopen, query with partition-pruned scans —
      // same planted-twin recall oracle as q_ann_ivf
      val e = emb(s, dir)
      val tmp = scratchDir("ivf_q")
      SimOps.writeIvfIndex(SimOps.buildIvfIndex(e, nCells = 16), tmp)
      SimOps.ivfQuery(SimOps.readIvfIndex(s, tmp), twinQueries(e), k = 1, nprobe = 4)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id")
    }, Some(
      """SELECT vec_id + 100000 AS query_id, vec_id AS neighbor_id, cast(1 AS int) AS rank
        |FROM embeddings WHERE vec_id < 25 ORDER BY 1""".stripMargin)),

    Q("q_ann_lsh_disk", (s, dir) => {
      // LSH index-once/query-many path end-to-end: build signatures, write
      // parquet partitioned by signature bucket, reopen, query with
      // partition-pruned scans — same planted-twin recall oracle as
      // q_ann_lsh (the disk round-trip must not change a single answer)
      val e = emb(s, dir)
      val tmp = scratchDir("lsh_q")
      SimOps.writeLshIndex(SimOps.buildLshIndex(e, bits = 6), tmp)
      SimOps.lshQuery(SimOps.readLshIndex(s, tmp), twinQueries(e), k = 1)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id")
    }, Some(
      """SELECT vec_id + 100000 AS query_id, vec_id AS neighbor_id, cast(1 AS int) AS rank
        |FROM embeddings WHERE vec_id < 25 ORDER BY 1""".stripMargin)),

    Q("q_ann_topk", (s, dir) => {
      val e = emb(s, dir)
      SimOps.bruteForceTopK(e.filter(col("vec_id") < 25), e, k = 3)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    }, Some(
      """SELECT query_id, neighbor_id, rank FROM (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    cast(row_number() OVER (PARTITION BY a.vec_id ORDER BY
        |      list_cosine_similarity(list_transform(a.embedding, x -> cast(x AS double)),
        |                             list_transform(b.embedding, x -> cast(x AS double))) DESC,
        |      b.vec_id) AS int) AS rank
        |  FROM embeddings a, embeddings b
        |  WHERE a.vec_id < 25 AND b.vec_id <> a.vec_id) t
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),

    Q("q_langid_ngram", (s, dir) => {
      // raw scan: the trigram UDF wins warm from fan-out but the extra
      // stage's cold codegen outweighs it in a run-once regime (A/B'd)
      docs(s, dir).select(col("doc_id"), TextOps.langIdNgram(col("text")).as("lang_ngram"))
        .orderBy("doc_id")
    }, Some(
      """WITH s AS (SELECT doc_id, ' ' || regexp_replace(lower(text), '\s+', ' ', 'g') || ' ' AS s
        |           FROM documents),
        |g AS (SELECT doc_id, list_transform(range(1, length(s) - 1), i -> s[i:i+2]) AS tris FROM s),
        |n AS (SELECT doc_id,
        |  len(list_filter(tris, t -> list_contains([' th','the','he ',' an','and','nd ',' of','of ','ing','ng ',' to','to ',' is','is ','ion',' it','it ','ent',' fo','for'], t))) AS en,
        |  len(list_filter(tris, t -> list_contains([' de','der','er ','ie ',' un','und',' di','die','sch','ein',' ei','ich','ch ','en ','cht',' ni','nic','das',' da','st '], t))) AS de,
        |  len(list_filter(tris, t -> list_contains([' le','le ',' de','de ','es ',' la','la ','ent',' et','et ','que',' qu','ue ','ous',' po','pou','our','ait','ion',' un'], t))) AS fr,
        |  len(list_filter(tris, t -> list_contains([' el','el ',' de','de ','la ',' la','os ',' qu','que','ue ',' en','en ','ión',' co','con','ara',' pa','par','ado','los'], t))) AS es
        |  FROM g)
        |SELECT doc_id,
        |  CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
        |       WHEN en = greatest(en, de, fr, es) THEN 'en'
        |       WHEN de = greatest(en, de, fr, es) THEN 'de'
        |       WHEN fr = greatest(en, de, fr, es) THEN 'fr'
        |       ELSE 'es' END AS lang_ngram
        |FROM n ORDER BY doc_id""".stripMargin)),

    // ---- multimodal plumbing (deterministic stub decode; oracled) ---------
    Q("q_media_phash", (s, dir) => {
      // perceptual-hash near-dup pipeline over the synthesized corpus
      // (payload bytes -> deterministic stub content key): at radius 0
      // the pairs are exactly the byte-identical payloads. The corpus has
      // no natural duplicate texts, so every doc_id % 7 == 0 doc gets a
      // planted copy at +1000000 — the expected pair set is SQL-derivable
      // and the whole hash/band/join/popcount pipeline oracles end-to-end
      // (the real-codec visual radius is proven on real PNGs in
      // MediaCodecSpec)
      val d = docsHeavy(s, dir)
      val withCopies = d.select(col("doc_id"), col("text")).unionByName(
        d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val media = MediaOps.synthesize(withCopies)
      MediaOps.imageNearDups(media, maxHamming = 0)
        .orderBy("id_a", "id_b")
    }, Some(
      """WITH u AS (SELECT doc_id, text FROM documents
        |           UNION ALL
        |           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0)
        |SELECT a.doc_id * 10 + 1 AS id_a, b.doc_id * 10 + 1 AS id_b,
        |  cast(0 AS int) AS hamming
        |FROM u a JOIN u b ON a.text = b.text AND a.doc_id < b.doc_id
        |ORDER BY 1, 2""".stripMargin)),

    Q("q_media_features", (s, dir) => {
      val media = MediaOps.synthesize(docs(s, dir))
      MediaOps.extractFeatures(media).toDF()
        .select(col("media_id"), col("doc_id"), col("kind"), col("n_bytes"),
          col("frames"), size(col("features")).as("n_dims"))
        .orderBy("media_id")
    }, Some(
      """SELECT doc_id * 10 + 1 AS media_id, doc_id,
        |  CASE cast(doc_id % 3 AS int) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  cast(octet_length(encode(text)) AS int) AS n_bytes,
        |  cast(CASE cast(doc_id % 3 AS int)
        |    WHEN 2 THEN greatest(1, (1000 + (doc_id % 60) * 250) // 1000)
        |    WHEN 1 THEN greatest(1, (1000 + (doc_id % 60) * 250) // 500)
        |    ELSE 1 END AS int) AS frames,
        |  cast(16 AS int) AS n_dims
        |FROM documents ORDER BY media_id""".stripMargin)),

    Q("q_media_resize", (s, dir) => {
      val media = MediaOps.synthesize(docs(s, dir))
      MediaOps.resizeImages(media, 64, 64).toDF()
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          length(col("payload")).as("n_bytes"))
        .orderBy("media_id")
    }, Some(
      """SELECT doc_id * 10 + 1 AS media_id,
        |  CASE cast(doc_id % 3 AS int) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  cast(CASE WHEN doc_id % 3 = 0 THEN 64 ELSE 0 END AS int) AS width,
        |  cast(CASE WHEN doc_id % 3 = 0 THEN 64 ELSE 0 END AS int) AS height,
        |  cast(CASE WHEN doc_id % 3 = 0 THEN
        |      greatest(1, trunc(octet_length(encode(text)) *
        |        least(1.0, 4096.0 / ((64 + (doc_id % 8) * 32) * 64))))
        |    ELSE octet_length(encode(text)) END AS int) AS n_bytes
        |FROM documents ORDER BY media_id""".stripMargin)),

    Q("q_media_frames", (s, dir) => {
      // frame sampling (explode-shaped stage): every 2nd chunk of each
      // video payload; chunk arithmetic is pure integer math, mirrored in
      // the SQL oracle
      MediaOps.sampleFrames(MediaOps.synthesize(docs(s, dir)))
        .select(col("media_id"), col("doc_id"), col("frame_idx"),
          length(col("frame_payload")).cast("long").as("n_bytes"))
        .orderBy("media_id", "frame_idx")
    }, Some(
      """WITH v AS (SELECT doc_id, doc_id * 10 + 1 AS media_id,
        |    octet_length(encode(text)) AS plen,
        |    cast(greatest(1, (1000 + (doc_id % 60) * 250) // 1000) AS int) AS frames
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT doc_id, media_id, plen, frames,
        |    unnest(range(0, frames, 2)) AS frame_idx FROM v),
        |c AS (SELECT *, greatest(1, plen // frames) AS chunk FROM f)
        |SELECT media_id, doc_id, cast(frame_idx AS int) AS frame_idx,
        |  cast(CASE WHEN frame_idx * chunk < plen
        |    THEN least(plen, frame_idx * chunk + chunk) - frame_idx * chunk
        |    ELSE 0 END AS bigint) AS n_bytes
        |FROM c ORDER BY media_id, frame_idx""".stripMargin)),

    // ---- conversation-level quality (transcript payload) ------------------
    Q("q_conv_stats", (s, dir) => {
      // all hash aggs + one near-unique-key successor join — no window
      // over conv_id anywhere (a monster conversation stays distributed)
      ConvOps.convStats(convTurns(s, dir)).orderBy("conv_id")
    }, Some(
      """WITH ct AS (SELECT 'c' || lpad(cast(doc_id % 40 AS varchar), 2, '0') AS conv_id,
        |    cast(doc_id // 40 AS int) AS turn_idx,
        |    CASE cast(((doc_id // 40) * (1 + (doc_id % 40) % 2)) % 4 AS int)
        |      WHEN 0 THEN 'user' WHEN 3 THEN 'tool' ELSE 'assistant' END AS role,
        |    CASE WHEN doc_id % 7 = 0 THEN '' ELSE text END AS text,
        |    CASE WHEN ((doc_id // 40) * (1 + (doc_id % 40) % 2)) % 4 = 3
        |      THEN 'search' ELSE 'none' END AS tool
        |  FROM documents),
        |v AS (SELECT a.conv_id, count(*) AS n_violations
        |  FROM ct a JOIN ct b
        |    ON a.conv_id = b.conv_id AND b.turn_idx = a.turn_idx + 1 AND a.role = b.role
        |  GROUP BY a.conv_id)
        |SELECT ct.conv_id, count(*) AS n_turns,
        |  cast(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS bigint) AS n_user,
        |  cast(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS bigint) AS n_assistant,
        |  cast(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS bigint) AS n_tool_role,
        |  cast(sum(CASE WHEN tool <> 'none' AND tool <> '' THEN 1 ELSE 0 END) AS bigint) AS n_tool_calls,
        |  cast(sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS bigint) AS n_empty,
        |  cast(sum(length(text)) AS bigint) AS total_chars,
        |  cast(coalesce(any_value(v.n_violations), 0) AS bigint) AS n_violations
        |FROM ct LEFT JOIN v ON ct.conv_id = v.conv_id
        |GROUP BY ct.conv_id ORDER BY ct.conv_id""".stripMargin)),

    Q("q_conv_filter", (s, dir) => {
      // the conversation-level gate: enough turns, clean role alternation,
      // bounded empty share — only odd conversations alternate cleanly
      ConvOps.convFilter(convTurns(s, dir), minTurns = 3, maxViolations = 0,
          maxEmptyPct = 25)
        .select("conv_id", "n_turns", "n_violations", "n_empty")
        .orderBy("conv_id")
    }, Some(
      """WITH ct AS (SELECT 'c' || lpad(cast(doc_id % 40 AS varchar), 2, '0') AS conv_id,
        |    cast(doc_id // 40 AS int) AS turn_idx,
        |    CASE cast(((doc_id // 40) * (1 + (doc_id % 40) % 2)) % 4 AS int)
        |      WHEN 0 THEN 'user' WHEN 3 THEN 'tool' ELSE 'assistant' END AS role,
        |    CASE WHEN doc_id % 7 = 0 THEN '' ELSE text END AS text
        |  FROM documents),
        |v AS (SELECT a.conv_id, count(*) AS n_violations
        |  FROM ct a JOIN ct b
        |    ON a.conv_id = b.conv_id AND b.turn_idx = a.turn_idx + 1 AND a.role = b.role
        |  GROUP BY a.conv_id),
        |s AS (SELECT ct.conv_id, count(*) AS n_turns,
        |    cast(sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS bigint) AS n_empty,
        |    cast(coalesce(any_value(v.n_violations), 0) AS bigint) AS n_violations
        |  FROM ct LEFT JOIN v ON ct.conv_id = v.conv_id GROUP BY ct.conv_id)
        |SELECT conv_id, n_turns, n_violations, n_empty FROM s
        |WHERE n_turns >= 3 AND n_violations <= 0 AND n_empty * 100 <= n_turns * 25
        |ORDER BY conv_id""".stripMargin)),

    Q("q_conv_render", (s, dir) => {
      // chat-template render: stable in-array ordering, role tags — the
      // oracle rebuilds the exact string with ORDER BY string_agg
      ConvOps.renderChatTemplate(convTurns(s, dir)).orderBy("conv_id")
    }, Some(
      """WITH ct AS (SELECT 'c' || lpad(cast(doc_id % 40 AS varchar), 2, '0') AS conv_id,
        |    cast(doc_id // 40 AS int) AS turn_idx,
        |    CASE cast(((doc_id // 40) * (1 + (doc_id % 40) % 2)) % 4 AS int)
        |      WHEN 0 THEN 'user' WHEN 3 THEN 'tool' ELSE 'assistant' END AS role,
        |    CASE WHEN doc_id % 7 = 0 THEN '' ELSE text END AS text
        |  FROM documents)
        |SELECT conv_id, count(*) AS n_turns,
        |  string_agg('<|' || role || '|>' || text, chr(10) ORDER BY turn_idx) AS training_text
        |FROM ct GROUP BY conv_id ORDER BY conv_id""".stripMargin)),

    Q("q_pdf_extract", (s, dir) => {
      // PDF/layout-parse leg end-to-end: each doc renders to a real PDF on
      // the executors (variant by doc_id%4 — literal/Td, Flate+hex,
      // compressed two-column emitted out of reading order, TJ-kerning
      // spaces), then the from-scratch parser recovers reading-order text.
      // wrap() breaks only at single spaces, so newline→space inverts the
      // wrap exactly and the oracle is the source column itself — a lost
      // line, swapped column, missed kern-space, or escape bug all break
      // the hash. Both stages are mapPartitions: zero shuffles.
      PdfOps.extractText(PdfOps.synthesize(docsHeavy(s, dir))).toDF()
        .select(col("doc_id"), col("variant"),
          translate(col("extracted"), "\n", " ").as("roundtrip"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id, cast(doc_id % 4 AS int) AS variant, text AS roundtrip
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("q_conv_dedup", (s, dir) => {
      // exact conversation dedup over planted whole-conversation copies:
      // d-convs are verbatim re-labels of the c-convs (drop — c < d), and
      // m-convs mutate turn 0 (survive). The oracle derives the survivor
      // set DIRECTLY from doc_id arithmetic — an independent derivation
      val t = convTurns(s, dir)
      val dup = t.withColumn("conv_id",
        concat(lit("d"), substring(col("conv_id"), 2, 2)))
      val mut = t.withColumn("conv_id",
          concat(lit("m"), substring(col("conv_id"), 2, 2)))
        .withColumn("text", when(col("turn_idx") === 0,
          concat(col("text"), lit(" mutated"))).otherwise(col("text")))
      ConvOps.dedupConversations(t.union(dup).union(mut))
        .select("conv_id").distinct().orderBy("conv_id")
    }, Some(
      """WITH ids AS (SELECT DISTINCT lpad(cast(doc_id % 40 AS varchar), 2, '0') AS k
        |  FROM documents)
        |SELECT conv_id FROM (
        |  SELECT 'c' || k AS conv_id FROM ids
        |  UNION ALL SELECT 'm' || k FROM ids
        |) ORDER BY conv_id""".stripMargin)),

    Q("q_conv_neardup", (s, dir) => {
      // near-duplicate conversations by turn-fingerprint Jaccard: n-convs
      // re-edit every fifth turn of their c-original (jaccard ~0.67-0.8 at
      // threshold 0.5); empty turns (doc_id%7==0) hash identically ACROSS
      // conversations, so organic inter-conv overlap exercises the join
      // beyond the planted pairs. Integer-exact output (inter, union)
      val t = convTurns(s, dir)
      val near = t.withColumn("conv_id",
          concat(lit("n"), substring(col("conv_id"), 2, 2)))
        .withColumn("text", when(col("turn_idx") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      ConvOps.convNearDups(t.union(near), threshold = 0.5)
        .orderBy("id_a", "id_b")
    }, Some(
      """WITH ct AS (SELECT 'c' || lpad(cast(doc_id % 40 AS varchar), 2, '0') AS conv_id,
        |    cast(doc_id // 40 AS int) AS turn_idx,
        |    CASE WHEN doc_id % 7 = 0 THEN '' ELSE text END AS text
        |  FROM documents),
        |al AS (SELECT conv_id, text FROM ct
        |  UNION ALL SELECT 'n' || substr(conv_id, 2, 2),
        |    CASE WHEN turn_idx % 5 = 0 THEN text || ' v2' ELSE text END
        |  FROM ct),
        |tf AS (SELECT DISTINCT conv_id, md5(text) AS tfp FROM al),
        |sz AS (SELECT conv_id, count(*) AS n FROM tf GROUP BY 1),
        |p AS (SELECT a.conv_id AS id_a, b.conv_id AS id_b, count(*) AS inter
        |  FROM tf a JOIN tf b ON a.tfp = b.tfp AND a.conv_id < b.conv_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, inter, sa.n + sb.n - inter AS "union"
        |FROM p JOIN sz sa ON sa.conv_id = id_a JOIN sz sb ON sb.conv_id = id_b
        |WHERE inter >= 0.5 * (sa.n + sb.n - inter)
        |ORDER BY id_a, id_b""".stripMargin)),

    Q("x_quality_classifier", (s, dir) => {
      // classifier-based quality filter: train the deterministic
      // quantized-gradient logistic regression on a derived label (does
      // the doc mention "customer") and sweep the corpus with the model.
      // Iterative sigmoid training is not SQL-expressible — determinism
      // (bit-equal weights at ANY parallelism) and learnability are
      // ScalaTest-proven in ClassifySpec; the driver checks rows
      val d = docs(s, dir)
      val labeled = d.withColumn("label",
        (instr(lower(col("text")), "customer") > 0).cast("int"))
      val model = ClassifyOps.train(labeled, "text", "label",
        dim = 1 << 14, iters = 15, lr = 1.0)
      ClassifyOps.score(d, "doc_id", "text", model)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }, None),

    Q("x_bpe_merges", (s, dir) => {
      // BPE vocabulary training (iterative pair-merge): inherently
      // sequential-argmax, so not SQL-expressible — the merge sequence is
      // oracled against a hand-computed corpus in BpeSpec instead; here
      // the driver checks the trained merge table is non-empty and stable
      val merges = graft.ops.BpeOps.bpeTrain(docs(s, dir), "text", numMerges = 30)
      s.createDataFrame(merges).toDF("rank", "left", "right").orderBy("rank")
    }, None),

    Q("x_bpe_encode", (s, dir) => {
      // tokenizer APPLICATION: encode the corpus with a 30-merge vocab
      // trained on it — map-side mapPartitions with broadcast merges and a
      // per-task word memo. Not SQL-expressible (the segmentation is the
      // sequential merge loop); BpeSpec asserts distributed == pure-Scala
      // per-doc piece counts and segment streams
      val merges = graft.ops.BpeOps.bpeTrain(docs(s, dir), "text", numMerges = 30)
      graft.ops.BpeOps.bpeEncodeDocs(docs(s, dir), "doc_id", "text", merges)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }, None),

    // ---- realistic generated-markup pipeline (non-SQL-expressible) --------
    Q("x_extract_transcripts", (s, _) => {
      val turns = TranscriptGen.turns(s, 20000, seed = 42, partitions = 16)
      ExtractJob.extract(turns).toDF()
        .select("conv_id", "turn_idx", "role", "plain_text", "html", "n_tags", "parse_error")
        .orderBy("conv_id", "turn_idx")
    }, None)
  )

  // views over the registry, below it so they see it initialised
  private val registered: Map[String, Q] = byName(registry)
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registered.map { case (n, q) => n -> q.build }
  val oracleSql: Map[String, String] =
    registered.collect { case (n, Q(_, _, Some(sql))) => n -> sql }
}
