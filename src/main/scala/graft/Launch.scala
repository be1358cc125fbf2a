package graft

import org.apache.spark.sql.SparkSession

/** What every spark-submit launcher shares: `--flag value` parsing, the
  * unknown-flag check (which each launcher's `run` calls first, so tests
  * and library callers get it too), the session, and the one JSON metrics
  * line on stdout.
  */
object Launch {
  def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0,
      s"arguments must be --flag value pairs, got: ${args.mkString(" ")}")
    args.sliding(2, 2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case Array(k, v) => sys.error(s"expected a --flag, got '$k $v'")
    }.toMap
  }

  /** Fail fast on unknown flags: a typo'd `--thresold` or `--bucket` must
    * not silently launch a 100 TB job with the default value.
    */
  def checkFlags(a: Map[String, String], known: Set[String]): Unit = {
    val unknown = a.keySet -- known
    require(unknown.isEmpty,
      s"unknown flag(s): ${unknown.toSeq.sorted.map("--" + _).mkString(", ")}; " +
        s"known: ${known.toSeq.sorted.map("--" + _).mkString(", ")}")
  }

  /** One JSON object on one line, fields in the given order: `Long`, `Int`
    * and `Boolean` bare, doubles to 2 places (`HALF_UP`), strings quoted
    * with `"`, `\` and control characters escaped.
    */
  def json(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) =>
      val value = v match {
        case d: Double => BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
        case s: String => "\"" + s.flatMap {
            case '"' => "\\\""
            case '\\' => "\\\\"
            case c if c < ' ' => f"\\u${c.toInt}%04x"
            case c => c.toString
          } + "\""
        case x @ (_: Long | _: Int | _: Boolean) => x.toString
        case other => throw new IllegalArgumentException(s"no JSON form for $k = $other")
      }
      s""""$k":$value"""
    }.mkString("{", ",", "}")

  /** Parse `args`, start the session (master and executors come from
    * spark-submit), time `run` and print `fields(stats, wallSec)`.
    */
  def main[S](appName: String, args: Array[String])(
      run: (SparkSession, Map[String, String]) => S)(
      fields: (S, Double) => Seq[(String, Any)]): Unit = {
    val a = parseArgs(args)
    val spark = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val t0 = System.nanoTime()
    val s = run(spark, a)
    val sec = (System.nanoTime() - t0) / 1e9
    println(json(fields(s, sec)))
    spark.stop()
  }
}
