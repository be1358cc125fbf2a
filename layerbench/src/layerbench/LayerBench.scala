package layerbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, closed loop, one driver
  * process at `local[nproc]`.
  *
  * Untraced (`--trace 0`): the end-to-end metrics. Traced (`--trace 1`):
  * the per-layer metrics, from spans around calls into `graft.sources`,
  * `graft.pipeline` and `graft.ops`, a `SparkListener` keyed by the job
  * group set around each call, and a Spark-free `graft.core` harness.
  *
  * A run: set-up (session, inputs, committed run, warm-up), passes for
  * `--seconds` (at least [[MinPasses]]), [[Resumes]] resumes of the
  * committed output, then the output check.
  *
  * The last stdout line is the result JSON; the exit code is non-zero when
  * any row failed.
  */
object LayerBench {
  val EndToEnd: Seq[(String, String)] = Seq(
    "rows_per_s" -> "rows/s", "resume_s" -> "s", "cpu_s_per_mrow" -> "s",
    "out_bytes_per_in_byte" -> "ratio", "live_heap_mb" -> "MB", "setup_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "core.bbcode_parse.ns_per_call" -> "ns", "core.strip.ns_per_call" -> "ns",
    "core.render.ns_per_call" -> "ns", "core.rows_per_s_per_thread" -> "rows/s",
    "sources.scan.bytes_read" -> "bytes", "sources.scan.records_read" -> "count",
    "pipeline.tax" -> "ratio",
    "pipeline.extract.task_cpu_s" -> "s", "pipeline.extract.task_run_s" -> "s",
    "pipeline.extract.gc_s" -> "s", "pipeline.extract.deser_s" -> "s",
    "pipeline.extract.slot_idle_share" -> "ratio", "pipeline.extract.task_skew" -> "ratio",
    "pipeline.write.bytes_written" -> "bytes", "pipeline.write.files_written" -> "count",
    "pipeline.write.task_run_s" -> "s",
    "pipeline.commit.driver_s" -> "s", "pipeline.resume.scan_per_pending_row" -> "ratio",
    "ops.minhash.s" -> "s", "ops.minhash.pairs_out" -> "count",
    "ops.minhash.skipped_buckets" -> "count",
    "ops.cc.s" -> "s", "ops.cc.iterations" -> "count", "ops.cc.converged" -> "flag",
    "ops.dedup.shuffle_write_bytes" -> "bytes", "ops.dedup.shuffle_records" -> "count",
    "ops.dedup.spill_bytes" -> "bytes", "ops.dedup.jobs" -> "count", "ops.dedup.stages" -> "count",
    "ops.dedup.task_skew" -> "ratio", "ops.dedup.slot_idle_share" -> "ratio",
    "spark.driver_gap_s" -> "s", "trace.overhead_ratio" -> "ratio")

  /** Input sizes. On 4 cores a warm pass takes about 1.8 s (chat) and 8 s
    * (dedup, mostly per-job driver work). Chat's rows_per_s levels off at
    * about 500k turns: fixed per-pass cost weighs on smaller inputs.
    */
  def workload(name: String): Workload = name match {
    case "chat_bbcode"     => new ChatBBCode(500000)
    case "corpus_dedup"    => new CorpusDedup(unique = 1000, twins = 100, groups = 6, largest = 1000)
    case "planted_throw"   => new PlantedThrow
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private final val SetupReps = 3
  private final val MinPasses = 2
  private final val Resumes = 4

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  private def log(msg: String): Unit =
    println(f"[layerbench ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f] $msg")

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def session(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("layerbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop-tmp").getPath)
      // the status store keeps this many finished jobs, stages and SQL
      // executions; small caps keep it from growing with the pass count,
      // so the live heap reflects the program's own leftovers
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wl = workload(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = new File(a("work"))
    val cores = Runtime.getRuntime.availableProcessors
    val host = Seq("nproc" -> cores.toString, "jvm" -> str(System.getProperty("java.version")),
      "spark" -> str(org.apache.spark.SPARK_VERSION), "commit" -> str(a.getOrElse("commit", "none")),
      "source_sha" -> str(a.getOrElse("source-sha", "none")), "workload" -> str(wl.name),
      "seed" -> seed.toString, "seconds" -> num(seconds), "trace" -> (if (traced) "1" else "0"))
    log(s"host ${obj(host)}")

    var attempted = 0L
    var failed = 0L
    val checks = mutable.ArrayBuffer[Check]()
    def record(c: Check): Unit = {
      checks += c
      attempted += c.rows
      failed += c.failed
      log(s"check ${c.what}: rows=${c.rows} failed=${c.failed} ${c.detail}")
    }
    /** Runs `body` over `rows` rows; if it throws, every row counts as failed. */
    def counted[T](what: String, rows: Long)(body: => T): Option[T] = {
      attempted += rows
      try Some(body)
      catch {
        case NonFatal(e) =>
          failed += rows
          log(s"FAILED $what: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    }

    val runWall0 = System.nanoTime()
    val runCpu0 = Clock.cpuNs
    var spark: SparkSession = null
    val sessionTime = Clock.timed { spark = session(cores, work) }._1
    val ctx = new Ctx(spark, cores, seed, work)

    // set-up: generate and materialize the inputs SetupReps times (the
    // median counts), then the committed run and one pass: the first pass
    // of a JVM runs up to 1.7x slower than later ones. (The first resume is
    // slower too; the median of the resumes leaves it out.)
    var info: InputInfo = null
    val genTimes = (1 to SetupReps).map { r =>
      val t = Clock.timed {
        val got = wl.generate(seed)
        log(s"input ${wl.name} rows=${got.rows} bytes=${got.bytes} digest=${f"${got.digest}%016x"}")
        require(info == null || info == got, s"seed $seed gave different inputs in two set-ups")
        info = got
        wl.materialize(ctx, new File(work, s"in-$r"))
      }._1
      if (r > 1) Dirs.delete(new File(work, s"in-${r - 1}"))
      t
    }
    val rows = wl.rows
    val warmS = Clock.timed {
      counted("committed run", rows)(wl.commit(ctx))
      counted("warm-up pass", rows)(wl.warmUp(ctx)).foreach(_.foreach(record))
    }._1
    val setupS = sessionTime + Intervals.median(genTimes) + warmS
    log(f"setup session=$sessionTime%.3f s generate+materialize=${genTimes.map(t => f"$t%.3f").mkString("/")} s " +
      f"committed run and warm-up=$warmS%.3f s")

    def rowsPerS(ps: Seq[Step]): Double = Intervals.median(ps.map(rows / _.wallS))
    val metrics = mutable.LinkedHashMap[String, Double]()
    val listener = new LayerListener
    val tracer = new Tracer(true)
    /** Runs `body` traced as run `run`, with its per-layer figures. */
    def tracedStep[T](run: String)(body: => T): (T, Map[String, Double]) = {
      tracer.run = run
      ctx.tracer = tracer
      spark.sparkContext.addSparkListener(listener)
      try {
        val out = tracer.span("run", s"${wl.name} $run")(_ => body)
        org.apache.spark.layerbench.BusDrain(spark.sparkContext)
        (out, Layers.ofStep(listener, tracer.spans.filter(_.run == run), cores))
      } finally {
        spark.sparkContext.removeSparkListener(listener)
        ctx.tracer = new Tracer(false)
      }
    }

    // closed loop: one pass after another until `seconds` have passed. A
    // traced run alternates untraced and traced passes, so both see the
    // same JIT and host state and their ratio is the tracing overhead.
    val windowCpu0 = Clock.cpuNs
    val windowWall0 = System.nanoTime()
    val plain = mutable.ArrayBuffer[Step]()
    val tracedPasses = mutable.ArrayBuffer[Step]()
    val perPass = mutable.ArrayBuffer[Map[String, Double]]()
    var i = 0
    while (i < MinPasses * (if (traced) 2 else 1) || (System.nanoTime() - windowWall0) / 1e9 < seconds) {
      if (traced && i % 2 == 1)
        counted(s"traced pass $i", rows)(tracedStep(s"p$i")(wl.pass(ctx))).foreach { case (p, layers) =>
          tracedPasses += p
          perPass += layers
        }
      else counted(s"pass $i", rows)(wl.pass(ctx)).foreach(plain += _)
      i += 1
    }
    val windowCpuWall = (Clock.cpuNs - windowCpu0) / 1e9 / ((System.nanoTime() - windowWall0) / 1e9)
    log(f"timed window: ${plain.size} untraced and ${tracedPasses.size} traced passes, " +
      f"cpu/wall per pass median=${Intervals.median(plain.toSeq.map(p => p.cpuS / p.wallS))}%.3f")

    // resumes of the committed output; traced, they give the write, commit
    // and resume layers
    val resumes = mutable.ArrayBuffer[Step]()
    val perResume = mutable.ArrayBuffer[Map[String, Double]]()
    (0 until Resumes).foreach { r =>
      if (traced)
        counted(s"resume $r", rows)(tracedStep(s"r$r")(wl.resume(ctx))).foreach { case (step, layers) =>
          resumes += step
          perResume += layers.filter { case (k, _) => k.startsWith("pipeline.write.") ||
            k.startsWith("pipeline.commit.") || k.startsWith("pipeline.resume.") } ++ step.counts
        }
      else counted(s"resume $r", rows)(wl.resume(ctx)).foreach(resumes += _)
    }
    log(s"resumes: resume_s=${resumes.map(r => f"${r.wallS}%.3f").mkString("/")}")

    if (traced) {
      val (probe, _) = counted("probe", rows)(tracedStep("probe")(wl.probe(ctx))).getOrElse((Map.empty, Map.empty))
      val skipped = listener.of(tracer.spans.filter(s => s.run == "probe" && s.name == "minhashNearDups"))
        .stages.flatMap(_.accums.get("graft.dedup.minhash.skippedBuckets")).collect {
          case l: java.util.List[_] => l.size.toDouble
        }
      PerLayer.foreach { case (k, _) => metrics(k) = 0.0 }
      val steps = (perPass ++ perResume).toSeq
      steps.flatMap(_.keys).distinct.foreach(k => metrics(k) = Intervals.median(steps.flatMap(_.get(k))))
      metrics ++= probe
      if (probe.nonEmpty) metrics("ops.minhash.skipped_buckets") = (0.0 +: skipped).max
      val plainRate = rowsPerS(plain.toSeq)
      metrics("trace.overhead_ratio") = rowsPerS(tracedPasses.toSeq) / plainRate
      log(f"tracing overhead: traced rows_per_s=${rowsPerS(tracedPasses.toSeq)}%.1f " +
        f"untraced rows_per_s=$plainRate%.1f")
      wl.coreRows.foreach { coreRows =>
        metrics ++= CoreHarness.phases(coreRows, cores, rounds = 2, tracer)
        val perThread = CoreHarness.rowsPerSecPerThread(coreRows, cores, rounds = 3)
        metrics("core.rows_per_s_per_thread") = perThread
        metrics("pipeline.tax") = plainRate / (perThread * cores)
        log(f"core.rows_per_s_per_thread=$perThread%.0f on $cores threads " +
          "(reference single thread, BASELINE.md: 16.4k parse, 8.8k parse+strip+escape)")
      }
      tracer.addSparkSpans(listener)
    }

    try wl.check(ctx).foreach(record)
    catch {
      case NonFatal(e) =>
        attempted += rows
        failed += rows
        log(s"FAILED output check: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

    if (!traced) {
      metrics("rows_per_s") = rowsPerS(plain.toSeq)
      metrics("resume_s") = Intervals.median(resumes.toSeq.map(_.wallS))
      metrics("cpu_s_per_mrow") = Intervals.median(plain.toSeq.map(_.cpuS / rows * 1e6))
      metrics("out_bytes_per_in_byte") = wl.committedBytes(ctx).toDouble / info.bytes
      wl.release()
      System.gc(); Thread.sleep(200); System.gc()
      metrics("live_heap_mb") = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      metrics("setup_s") = setupS
    }
    val runCpuWall = (Clock.cpuNs - runCpu0) / 1e9 / ((System.nanoTime() - runWall0) / 1e9)
    val failedShare = failed.toDouble / math.max(1L, attempted)
    log(f"failed_share=$failedShare%.6f ratio (failed=$failed attempted=$attempted) " +
      f"cpu/wall window=$windowCpuWall%.3f run=$runCpuWall%.3f")

    val units = (EndToEnd ++ PerLayer).toMap
    val names = if (traced) PerLayer.map(_._1) else EndToEnd.map(_._1)
    val metricJson = obj(names.map(k => k -> obj(Seq("value" -> num(metrics.getOrElse(k, Double.NaN)),
      "unit" -> str(units(k))))))
    val correct = failed == 0
    val result = obj(Seq("correct" -> correct.toString, "attempted" -> math.max(1L, attempted).toString,
      "failed" -> failed.toString, "metrics" -> metricJson))

    a.get("artifact").foreach { path =>
      val spans = tracer.spans
      val self = Tracer.selfMs(spans)
      val spanJson = spans.map(s => obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "run" -> str(s.run), "kind" -> str(s.kind), "name" -> str(s.name), "start_ms" -> num(s.start),
        "end_ms" -> num(s.end), "self_ms" -> num(self(s.id)))))
      val f = new File(path)
      f.getParentFile.mkdirs()
      val w = new PrintWriter(f, "UTF-8")
      try w.println(obj(Seq(
        "host" -> obj(host),
        "input" -> obj(Seq("rows" -> info.rows.toString, "bytes" -> info.bytes.toString,
          "digest" -> str(f"${info.digest}%016x"))),
        "setup" -> obj(Seq("session_s" -> num(sessionTime),
          "generate_materialize_s" -> genTimes.map(num).mkString("[", ", ", "]"), "committed_run_and_warm_up_s" -> num(warmS))),
        "passes" -> (plain ++ tracedPasses).map(p => obj(Seq("wall_s" -> num(p.wallS),
          "cpu_s" -> num(p.cpuS), "cpu_wall" -> num(p.cpuS / p.wallS)))).mkString("[", ", ", "]"),
        "traced_passes" -> tracedPasses.size.toString,
        "resume_s" -> resumes.map(r => num(r.wallS)).mkString("[", ", ", "]"),
        "cpu_wall" -> obj(Seq("window" -> num(windowCpuWall), "run" -> num(runCpuWall))),
        "failed_share" -> num(failedShare),
        "checks" -> checks.map(c => obj(Seq("what" -> str(c.what), "rows" -> c.rows.toString,
          "failed" -> c.failed.toString, "detail" -> str(c.detail)))).mkString("[", ", ", "]"),
        "result" -> result,
        "spans" -> spanJson.mkString("[\n", ",\n", "]"))))
      finally w.close()
    }

    spark.stop()
    println(result)
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

/** Per-layer figures of one traced step (a pass or a resume), from its spans and the Spark work
  * the listener attributed to them.
  */
object Layers {
  def ofStep(l: LayerListener, spans: Seq[Span], cores: Int): Map[String, Double] = {
    val calls = spans.filter(_.kind == "call")
    val run = spans.find(_.kind == "run").get
    val all = l.of(calls)
    val extract = l.of(calls.filter(_.name == "extract"))
    val resumable = calls.filter(_.name == "runResumable")
    val dedup = l.of(calls.filter(_.name == "dedupCorpus"))
    val m = mutable.LinkedHashMap[String, Double](
      "sources.scan.bytes_read" -> all.tasks.map(_.bytesRead).sum.toDouble,
      "sources.scan.records_read" -> all.tasks.map(_.recordsRead).sum.toDouble,
      "spark.driver_gap_s" -> ((run.end - run.start) / 1e3 - all.jobUnionS))
    if (extract.tasks.nonEmpty) m ++= Seq(
      "pipeline.extract.task_cpu_s" -> extract.cpuS, "pipeline.extract.task_run_s" -> extract.runS,
      "pipeline.extract.gc_s" -> extract.gcS, "pipeline.extract.deser_s" -> extract.deserS,
      "pipeline.extract.slot_idle_share" -> extract.slotIdleShare(cores),
      "pipeline.extract.task_skew" -> extract.taskSkew)
    if (resumable.nonEmpty) {
      val w = l.of(resumable)
      val writes = w.tasks.filter(_.bytesWritten > 0)
      m ++= Seq(
        "pipeline.write.bytes_written" -> writes.map(_.bytesWritten).sum.toDouble,
        "pipeline.write.task_run_s" -> writes.map(_.runMs).sum / 1e3,
        "pipeline.commit.driver_s" -> resumable.map(c => (c.end - c.start) / 1e3 - l.of(Seq(c)).jobUnionS).sum,
        "pipeline.resume.scan_per_pending_row" ->
          w.tasks.map(_.recordsRead).sum.toDouble / math.max(1L, w.tasks.map(_.recordsWritten).sum))
    }
    if (dedup.tasks.nonEmpty) m ++= Seq(
      "ops.dedup.shuffle_write_bytes" -> dedup.tasks.map(_.shuffleBytes).sum.toDouble,
      "ops.dedup.shuffle_records" -> dedup.tasks.map(_.shuffleRecords).sum.toDouble,
      "ops.dedup.spill_bytes" -> dedup.tasks.map(_.spillBytes).sum.toDouble,
      "ops.dedup.jobs" -> dedup.jobs.size.toDouble, "ops.dedup.stages" -> dedup.stages.size.toDouble,
      "ops.dedup.task_skew" -> dedup.taskSkew, "ops.dedup.slot_idle_share" -> dedup.slotIdleShare(cores))
    m.toMap
  }
}
