package graft

import org.scalatest.funsuite.AnyFunSuite

/** The per-query bench regression gate: a query that blows past 3× its
  * recorded time must produce a warning (the round-2 lesson — a 106 s
  * query shipped in a final commit after the last bench refresh), and the
  * recorded-baseline map must stay in lockstep with `SparkEntry.queries`.
  */
class BenchGateSpec extends AnyFunSuite {

  test("gate fires on an artificially slowed query") {
    val recorded = Map("q_a" -> 1.0, "q_b" -> 0.2)
    val fired = Bench.regressionWarnings(Seq("q_a" -> 30.0, "q_b" -> 0.2), recorded)
    assert(fired.size == 1 && fired.head.contains("q_a"), fired)
  }

  test("gate stays quiet at recorded times and on sub-floor jitter") {
    val recorded = Map("q_a" -> 1.0, "q_b" -> 0.2)
    assert(Bench.regressionWarnings(Seq("q_a" -> 1.4, "q_b" -> 0.3), recorded).isEmpty)
    // 5x on a 0.2s query is host jitter, not a regression (absolute floor)
    assert(Bench.regressionWarnings(Seq("q_b" -> 1.0), recorded).isEmpty)
    // failed queries (-1 sentinel) are reported elsewhere, not as regressions
    assert(Bench.regressionWarnings(Seq("q_a" -> -1.0), recorded).isEmpty)
  }

  test("a throwing query is counted in bench_failures with a WARN line") {
    val (times, failures) = Bench.timeQueries(Seq(
      "q_ok" -> (() => ()),
      "q_planted" -> (() => throw new IllegalStateException("planted"))))
    assert(failures.size == 1, failures) // the bench_failures key
    assert(failures.head.startsWith("WARN") && failures.head.contains("q_planted"), failures)
    assert(times.toMap.apply("q_planted") == -1.0 && times.toMap.apply("q_ok") >= 0.0)
  }

  test("every SparkEntry query has a recorded bench baseline") {
    val missing = SparkEntry.queries.keySet -- Bench.recordedQuerySeconds.keySet
    assert(missing.isEmpty,
      s"queries without a bench baseline (add to Bench.recordedQuerySeconds " +
        s"and re-bench): ${missing.mkString(", ")}")
  }

  test("bench evidence file covers every query at HEAD (no stale-artifact claims)") {
    // the round-2 failure mode: a query lands after the last bench refresh
    // and the committed evidence silently stops covering HEAD. This pins
    // BENCH_local_r5.json to the full query set — adding a query without
    // re-running Bench (and refreshing the artifact) fails here.
    val f = new java.io.File("BENCH_local_r5.json")
    assert(f.exists, "BENCH_local_r5.json missing from repo root")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    val benched = {
      val it = json.get("queries").fieldNames()
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result()
    }
    val missing = SparkEntry.queries.keySet -- benched
    assert(missing.isEmpty,
      s"queries not covered by the committed bench artifact (re-run Bench and " +
        s"refresh BENCH_local_r5.json): ${missing.mkString(", ")}")
  }
}
