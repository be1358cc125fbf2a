package graft

import graft.pipeline.{ExtractJob, TranscriptGen}
import org.apache.spark.sql.SparkSession

/** Benchmark entry. Prints ONE JSON line:
  * {"metric":...,"value":N,"unit":...,"queries":{...},"sf":...}
  *
  * Headline metric = transcript parse+transform throughput (turns/sec) at
  * full parallelism, plus the two-cluster-size scaling evidence required by
  * the north rule: the same extraction job, same input, run at N and 4N
  * cores — `scaling_efficiency = T_4N / (4 * T_N)`. See BENCH.md for the
  * measured numbers and the machine-ceiling analysis behind the choice of
  * N. Per-query wall-clock for every SparkEntry query is reported under
  * "queries".
  */
object Bench {
  /** Last recorded per-query seconds at sf0.1 / local[32] (refresh together
    * with BENCH_local_*.json). The regression gate warns when a query at
    * HEAD exceeds [[gateFactor]]× its recorded time — so a final commit
    * that blows up a query cannot ship silently un-benched again (the
    * round-2 q_docs_repetition lesson: a 106 s query landed after the last
    * bench refresh).
    */
  val recordedQuerySeconds: Map[String, Double] = Map(
    // ceilings = max(round-5 committed solo run, min of the two
    // current-boot solo runs) +30% margin: the current boot measures a
    // degraded host (pure-CPU ceiling probe down 11-46% run-to-run), so
    // the gate covers both host states without going blind to real 3x blowups
    "q_agg_pricing" -> 5.3, "q_ann_ivf" -> 5.4, "q_ann_ivf_disk" -> 4.8,
    "q_ann_lsh" -> 2.3, "q_ann_lsh_disk" -> 2.1, "q_ann_top1" -> 2.6,
    "q_ann_topk" -> 2.3, "q_anti_join" -> 1.0, "q_asof_join" -> 3.6,
    "q_contamination" -> 8.7, "q_contamination_ratio" -> 4.1, "q_contamination_spans" -> 2.7,
    "q_cube_orders" -> 2.4, "q_dates" -> 0.8, "q_dedup_clusters" -> 17.4,
    "q_dedup_embedding" -> 4.7, "q_dedup_exact" -> 0.7, "q_dedup_exact_reps" -> 1.0,
    "q_dedup_keepers" -> 12.2, "q_dedup_keepers_by" -> 12.1, "q_dedup_lines_global" -> 2.2,
    "q_dedup_minhash" -> 7.6, "q_dedup_simhash" -> 4.0,
    "q_dedup_incremental" -> 4.7, "q_dedup_unseen" -> 1.6, "q_url_blocklist" -> 0.6,
    "q_docs_perplexity" -> 5.6, "q_docs_perplexity3" -> 5.6,
    "q_docs_dsir" -> 3.1, "q_dedup_semantic" -> 3.6,
    "q_conv_dedup" -> 1.8, "q_conv_neardup" -> 1.8,
    "q_docs_bigram_fam" -> 2.9,
    "q_docs_bpe_tokens" -> 0.7, "q_docs_chunks" -> 0.8, "q_docs_dedup_lines" -> 1.0,
    "q_docs_filter_flags" -> 2.3, "q_docs_fingerprint" -> 1.1, "q_docs_langid" -> 1.8,
    "q_docs_oov" -> 1.7, "q_docs_pii" -> 1.6, "q_docs_quality" -> 1.1,
    "q_docs_quality_score" -> 1.0, "q_docs_repetition" -> 2.0, "q_docs_rollhash" -> 0.4,
    "q_docs_sample" -> 0.6, "q_docs_shuffle" -> 1.7, "q_docs_split" -> 0.5,
    "q_docs_tfidf" -> 3.2, "q_docs_tokens" -> 0.9, "q_docs_top_term" -> 1.7,
    "q_dup_spans" -> 5.5, "q_escape_constructed" -> 1.9, "q_events_daily" -> 1.4,
    "q_filter_dates" -> 0.9, "q_having_custs" -> 0.7, "q_html_main_content" -> 1.1,
    "q_html_strip_constructed" -> 0.8, "q_inverted_index" -> 2.2, "q_join_segment_sales" -> 1.0,
    "q_json_events" -> 1.7, "q_langid_ngram" -> 1.1, "q_media_features" -> 0.5,
    "q_media_frames" -> 0.6, "q_media_resize" -> 0.5, "q_pack_chunks" -> 0.7,
    "q_pdf_extract" -> 9.9, "q_conv_stats" -> 1.5, "q_conv_filter" -> 1.5,
    "q_conv_render" -> 1.5, "q_budget_select" -> 1.5, "q_source_cap" -> 1.5,
    "q_mix_temperature" -> 1.5,
    "q_percentiles" -> 0.6, "q_pipeline_assembly" -> 1.7, "q_pipeline_errors" -> 0.5,
    "q_pipeline_extract" -> 0.6, "q_pipeline_html" -> 0.6, "q_pipeline_offsets" -> 0.6,
    "q_pretrain_e2e" -> 26.2, "q_render_constructed" -> 0.7, "q_rollup_orders" -> 1.1,
    "q_scalar_funcs" -> 0.4, "q_semi_join" -> 0.7, "q_sessionize" -> 1.9,
    "q_set_customers" -> 1.0, "q_span_lineage" -> 0.7, "q_span_lineage_render" -> 0.6,
    "q_strip_constructed" -> 0.6, "q_strip_dup_spans" -> 5.6, "q_strip_native_expr" -> 0.6,
    "q_token_jaccard" -> 1.6, "q_topk_docs" -> 0.3, "q_url_canon" -> 0.6,
    "q_vocab_top" -> 0.6, "q_window_running" -> 1.2, "q_window_top_event" -> 0.9,
    "x_bpe_encode" -> 1.4, "x_bpe_merges" -> 1.0, "x_extract_transcripts" -> 0.5,
    // sixth-wave additions (solo spark-shell timings at sf0.1/local[32],
    // same +30% margin discipline)
    "q_docs_bm25" -> 2.2, "q_contamination_bloom" -> 2.1,
    "x_quality_classifier" -> 1.6, "q_data_card" -> 1.0,
    "q_media_phash" -> 1.8, "q_url_robots" -> 1.3
  )

  /** A regression fires above 3× the recorded time AND above a 1.5 s
    * absolute floor (sub-second queries jitter multiplicatively with host
    * load; a genuine blowup clears both bars).
    */
  val gateFactor = 3.0
  private val gateFloorSec = 1.5

  /** WARN lines for queries that regressed past the gate; pure so the gate
    * itself is unit-testable.
    */
  def regressionWarnings(times: Seq[(String, Double)],
                         recorded: Map[String, Double] = recordedQuerySeconds,
                         factor: Double = gateFactor): Seq[String] =
    times.collect {
      case (q, t) if t > gateFloorSec && recorded.get(q).exists(r => t > r * factor) =>
        f"WARN bench regression gate: $q took $t%.2f s > $factor%.1fx recorded ${recorded(q)}%.2f s — re-bench or fix before shipping"
    }

  /** Runs and times each query once. A query that throws reads -1.0 s and
    * yields a WARN line; the number of those lines is the
    * `bench_failures` key, so a failing query cannot go unnoticed.
    */
  def timeQueries(queries: Seq[(String, () => Unit)]): (Seq[(String, Double)], Seq[String]) = {
    val failures = Seq.newBuilder[String]
    val times = queries.map { case (name, run) =>
      val t0 = System.nanoTime()
      try { run(); name -> (System.nanoTime() - t0) / 1e9 }
      catch {
        case e: Throwable =>
          failures += s"WARN bench query failed: $name: ${e.getClass.getSimpleName}: ${e.getMessage}"
          name -> -1.0
      }
    }
    (times, failures.result())
  }

  private[graft] def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }

  /** Time the extraction of `n` generated turns: one full-size warmup run
    * (JIT + heap shaping), then best of two timed runs. Returns
    * (seconds, turns/s).
    */
  private[graft] def timeExtract(spark: SparkSession, n: Long, parts: Int,
                                 warm: Boolean = true): (Double, Double) = {
    def once(): Double = {
      val t0 = System.nanoTime()
      ExtractJob.extract(TranscriptGen.turns(spark, n, seed = 42, partitions = parts))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    if (warm) once() // warmup at full size (JIT; only needed once per JVM)
    val sec = math.min(once(), once())
    (sec, n / sec)
  }

  /** Pin (or restore) the WHOLE JVM's CPU affinity via `taskset -apc`
    * (`-a` = all existing threads; new threads inherit their parent's
    * mask). Returns false when taskset is unavailable — callers skip the
    * pinned measurement rather than fail the bench.
    */
  private def setAffinity(spec: String): Boolean =
    try {
      val p = new ProcessBuilder("taskset", "-apc", spec,
          ProcessHandle.current().pid().toString)
        .redirectOutput(ProcessBuilder.Redirect.DISCARD)
        .redirectErrorStream(true).start()
      p.waitFor() == 0
    } catch { case _: Exception => false }

  /** Pinned 16-core measurement: affinity-pin the JVM to cores 0-15, run
    * the extraction at local[16] three times (plus one warmup), report
    * median throughput and run-to-run spread. Pinning removes the
    * scheduler's core-migration noise that makes the free-floating 32-core
    * headline swing ±25% under host steal — this is the number to compare
    * across rounds. Returns (medianSec, medianTput, spread) where spread =
    * (max-min)/min over the timed runs; NaNs when taskset is unavailable.
    */
  private def pinned16(benchTurns: Long, parts: Int): (Double, Double, Double) = {
    // capture the restore mask BEFORE pinning: availableProcessors() read
    // after taskset reflects the pinned mask (16), so reading it late
    // "restores" to the pin itself and every later measurement silently
    // runs on half the machine (exactly the round-4 bug this fixes)
    val restoreSpec = "0-" + (Runtime.getRuntime.availableProcessors() - 1)
    if (!setAffinity("0-15")) return (Double.NaN, Double.NaN, Double.NaN)
    try {
      val s = session(16)
      try {
        def once(): Double = {
          val t0 = System.nanoTime()
          ExtractJob.extract(TranscriptGen.turns(s, benchTurns, seed = 42, partitions = parts))
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        once() // warmup (JIT at this parallelism)
        val runs = Seq(once(), once(), once()).sorted
        val median = runs(1)
        val spread = (runs.last - runs.head) / runs.head
        (median, benchTurns / median, spread)
      } finally s.stop()
    } finally setAffinity(restoreSpec)
  }

  /** Pure-CPU scaling ceiling of the host itself: the same fixed-work spin
    * loop run on n1 then n2 threads. Anything above this is unreachable for
    * ANY job on this box (hypervisor/SMT contention), so job scaling
    * efficiency is reported alongside it for honest interpretation.
    */
  private def cpuCeiling(n1: Int, n2: Int): (Double, Double, Double) = {
    def run(threads: Int): Double = {
      val itersPerThread = 800000000L
      val t0 = System.nanoTime()
      val ts = (1 to threads).map { seed =>
        val t = new Thread(() => {
          var x = seed.toLong | 1L
          var i = 0L
          while (i < itersPerThread) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
          if (x == 42L) println("") // keep the loop un-eliminable
        })
        t.start(); t
      }
      ts.foreach(_.join())
      threads * itersPerThread / ((System.nanoTime() - t0) / 1e9)
    }
    // best-of-two per level (throughput: higher is better), mirroring the
    // best-run policy of the Spark timings
    val t1 = math.max(run(n1), run(n1))
    val t2 = math.max(run(n2), run(n2))
    (t1, t2, (t2 / t1) / (n2.toDouble / n1))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // Large enough that fixed job overheads (~0.3 s) are noise at full
    // parallelism; all levels run the SAME input and split count.
    val benchTurns = sys.env.getOrElse("SPARK_GRAFT_BENCH_TURNS", "8000000").toLong
    val parts = math.max(128, cpus * 8)

    // ---- scaling evidence: same job, same input, N then 4N cores ----
    // N defaults to cpus/16 (2 on this box) so both levels stay in the
    // range where the host itself scales linearly: a pure-CPU burn on this
    // sandbox measures 0.96 efficiency for 2->8 processes and 0.94 for
    // 4->16, but only 0.74 for 8->32 (hypervisor-level contention) — the
    // 8->32 pair cannot evidence job-level scaling even for perfect code.
    // Full-core throughput is additionally reported below.
    val scaleN = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", math.max(1, cpus / 16).toString).toInt
    val scaleTurns = math.max(benchTurns / 2, 2000000L)
    // Interleave the two levels across rounds and take per-level bests:
    // host-steal episodes on this shared sandbox otherwise land entirely in
    // one level's phase and swing the ratio by 2x run-to-run.
    var lowSec = Double.MaxValue
    var midSec = Double.MaxValue
    for (round <- 1 to 3) {
      val sLow = session(scaleN)
      val (ls, _) = timeExtract(sLow, scaleTurns, parts, warm = round == 1)
      sLow.stop()
      lowSec = math.min(lowSec, ls)
      val s4n = session(scaleN * 4)
      val (ms, _) = timeExtract(s4n, scaleTurns, parts, warm = round == 1)
      s4n.stop()
      midSec = math.min(midSec, ms)
    }
    val lowTput = scaleTurns / lowSec
    val midTput = scaleTurns / midSec
    val efficiency = midTput / (4.0 * lowTput)

    // pinned 16-core level (run-to-run spread is the point — the floating
    // 32-core headline swings ±25% under host steal); own sessions, never
    // co-run with the other timings
    val (p16Sec, p16Tput, p16Spread) =
      if (cpus >= 16) pinned16(benchTurns, parts) else (Double.NaN, Double.NaN, Double.NaN)

    val sHigh = session(cpus)
    val (highSec, highTput) = timeExtract(sHigh, benchTurns, parts)
    // full-ladder transparency: the N*4 -> cpus job efficiency AND the
    // machine's own pure-CPU ceiling over the same pair (run after the
    // Spark timings so the spin loop never co-runs with them)
    val effMidHigh = (highTput / midTput) / (cpus.toDouble / (scaleN * 4))

    // ---- per-query wall clock on the sf tables ----
    val (results, failures) = timeQueries(SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (() => fn(sHigh, sfDir).write.format("noop").mode("overwrite").save())
    })
    sHigh.stop()

    failures.foreach(System.err.println)
    val warnings = regressionWarnings(results)
    warnings.foreach(System.err.println)

    val (ceil1, ceil2, ceilEff) = cpuCeiling(scaleN * 4, cpus)

    def f(d: Double): String = BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = (results.map { case (k, v) => s""""$k":${f(v)}""" } ++ Seq(
      s""""extract_${scaleN}c_sec":${f(lowSec)}""",
      s""""extract_${scaleN * 4}c_sec":${f(midSec)}""",
      s""""extract_${cpus}c_sec":${f(highSec)}""",
      s""""turns_per_sec_${scaleN}c":${f(lowTput)}""",
      s""""turns_per_sec_${scaleN * 4}c":${f(midTput)}""",
      s""""turns_per_sec_${cpus}c":${f(highTput)}""",
      s""""scaling_efficiency":${f(efficiency)}""",
      s""""scaling_pair":"${scaleN}->${scaleN * 4}"""",
      s""""scaling_efficiency_${scaleN * 4}_${cpus}":${f(effMidHigh)}""",
      s""""cpu_ceiling_efficiency_${scaleN * 4}_${cpus}":${f(ceilEff)}""",
      s""""cpu_ceiling_gops_${scaleN * 4}c":${f(ceil1 / 1e9)}""",
      s""""cpu_ceiling_gops_${cpus}c":${f(ceil2 / 1e9)}""",
      s""""extract_16c_pinned_sec":${if (p16Sec.isNaN) "null" else f(p16Sec)}""",
      s""""turns_per_sec_16c_pinned":${if (p16Tput.isNaN) "null" else f(p16Tput)}""",
      s""""pinned_16c_spread":${if (p16Spread.isNaN) "null" else f(p16Spread)}""",
      s""""bench_turns":$benchTurns""",
      s""""bench_regressions":${warnings.size}""",
      s""""bench_failures":${failures.size}"""
    )).mkString("{", ",", "}")

    println(s"""{"metric":"turns/sec parse+transform (local[$cpus])","value":${f(highTput)},"unit":"turns/sec","queries":$qs,"sf":"$sfDir"}""")
  }
}
