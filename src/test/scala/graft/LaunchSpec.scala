package graft

import org.scalatest.funsuite.AnyFunSuite

/** The launcher skeleton without Spark: argument parsing, the unknown-flag
  * check, the JSON emitter, and each launcher's metrics line, pinned
  * against the format strings its hand-built `println` used before the
  * launchers shared [[Launch]].
  */
class LaunchSpec extends AnyFunSuite {
  test("parseArgs: --flag value pairs only") {
    assert(Launch.parseArgs(Array("--in", "a", "--out", "b")) == Map("in" -> "a", "out" -> "b"))
    assert(Launch.parseArgs(Array.empty) == Map.empty)
    intercept[IllegalArgumentException](Launch.parseArgs(Array("--in", "a", "--out")))
    val e = intercept[RuntimeException](Launch.parseArgs(Array("in", "a")))
    assert(e.getMessage.contains("expected a --flag, got 'in a'"), e.getMessage)
  }

  test("checkFlags names the unknown flag and lists the known ones") {
    Launch.checkFlags(Map("in" -> "a"), Set("in", "out"))
    val e = intercept[IllegalArgumentException](
      Launch.checkFlags(Map("in" -> "a", "bucket" -> "8"), Set("in", "out", "buckets")))
    assert(e.getMessage.contains("unknown flag(s): --bucket; known: --buckets, --in, --out"),
      e.getMessage)
  }

  test("json: field order, bare numbers, 2-place HALF_UP doubles, escaped strings") {
    assert(Launch.json(Seq("z" -> 1L, "a" -> 2, "m" -> true)) == """{"z":1,"a":2,"m":true}""")
    for (d <- Seq(0.0, 0.005, 0.015, 1.005, 2.675, 12.345, 99.995, 123456.789, 1e-9, 7.0))
      assert(Launch.json(Seq("d" -> d)) ==
        s"""{"d":${BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)}}""")
    assert(Launch.json(Seq("d" -> 0.125)) == """{"d":0.13}""")
    assert(Launch.json(Seq("s" -> "a\"b\\c\nd\u0001/é")) == "{\"s\":\"a\\\"b\\\\c\\u000ad\\u0001/é\"}")
    intercept[IllegalArgumentException](Launch.json(Seq("x" -> Some(1))))
  }

  // the parent's `println` bodies, with `f` its 2-place HALF_UP formatter
  private def f(d: Double): String = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString

  test("DedupMain's JSON line") {
    for (s <- Seq(DedupMain.Stats(150L, 120L, 30L, skipped = false),
                  DedupMain.Stats(-1L, 120L, -1L, skipped = true)); sec <- Seq(12.345, 0.004)) {
      val expected = s"""{"docs_in":${s.docsIn},"survivors":${s.survivors},""" +
        s""""dropped":${s.dropped},"skipped":${s.skipped},"wall_sec":${f(sec)}}"""
      assert(Launch.json(DedupMain.fields(s, sec)) == expected)
    }
  }

  test("CurateMain's JSON line") {
    for (s <- Seq(CurateMain.Stats(1000L, 800L, 600L, 500L, 123456L, skipped = false),
                  CurateMain.Stats(-1L, -1L, -1L, 500L, -1L, skipped = true)); sec <- Seq(3.215, 61.0)) {
      val expected = s"""{"docs_in":${s.docsIn},"after_cap":${s.afterCap},""" +
        s""""after_mix":${s.afterMix},"after_budget":${s.afterBudget},""" +
        s""""tokens_kept":${s.tokensKept},"skipped":${s.skipped},"wall_sec":${f(sec)}}"""
      assert(Launch.json(CurateMain.fields(s, sec)) == expected)
    }
  }

  test("ShardMain's JSON line") {
    for (s <- Seq(ShardMain.Stats(150L, 150L, 8, skipped = false),
                  ShardMain.Stats(-1L, 150L, 8, skipped = true)); sec <- Seq(9.995, 0.0)) {
      val expected = s"""{"docs_in":${s.docsIn},"docs_kept":${s.docsKept},""" +
        s""""shards":${s.shards},"skipped":${s.skipped},"wall_sec":${f(sec)}}"""
      assert(Launch.json(ShardMain.fields(s, sec)) == expected)
    }
  }

  test("ExtractMain's JSON line: wall_sec and turns_per_sec from the extract phase") {
    for (s <- Seq(ExtractMain.Stats(2000L, 3L, 1.235, 8, "runs/a \"q\"\\b\tc"),
                  ExtractMain.Stats(0L, 0L, 0.0, 256, "out"))) {
      val rows = s.rows
      val sec = s.wallSec
      val outJson = s.out.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      val expected = s"""{"rows":$rows,"parse_errors":${s.parseErrors},""" +
        s""""wall_sec":${f(sec)},"turns_per_sec":${f(if (sec > 0) rows / sec else 0)},""" +
        s""""completed_buckets":${s.completedBuckets},"out":"$outJson"}"""
      // the launch-wide time is not the extract phase's: it must not leak in
      assert(Launch.json(ExtractMain.fields(s, 99.0)) == expected)
    }
  }
}
