package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.core.TagAttributes
import graft.pipeline.{ExtractJob, TranscriptGen}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ExplainMode

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Dev probes (NOT part of the driver contract), run on Bench's session and
  * timing helpers: `runMain graft.Probe <command> [args]`.
  *
  *  - `jobs [q…]`: each query's wall time (every query if none is named),
  *    its job count and the generated classes it compiled (codegen-cache
  *    misses) with their Janino time, then one line per Spark job: its
  *    duration, the driver-side gap before it and its call site. Runs each
  *    query SPARK_GRAFT_PROBE_RUNS times over an emptied cache (default 1;
  *    a second run is JIT-warm, and compiles nothing if the query's classes
  *    fit Spark's codegen cache).
  *  - `plans [outDir suffix] q…`: the formatted explain output of each
  *    query, on stdout or in `<outDir>/<q>_<suffix>.txt`.
  *  - `profile [n] [cores]`: samples the stack of every RUNNABLE
  *    executor-task thread while `n` generated turns are extracted, then
  *    prints the hottest frames (top frame plus its caller).
  *  - `scale [n] [levels]`: for each comma-separated core level, extraction
  *    of `n` generated turns through Spark and through the Spark-free
  *    `extractTurn` loop on as many raw threads, and their ratio.
  *
  * Queries read SPARK_GRAFT_SF_DIR (default sf0.1); sessions get
  * SPARK_GRAFT_CPUS cores (default: all of the host's).
  */
object Probe {
  private val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  private val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.toInt)

  def main(args: Array[String]): Unit = args.toList match {
    case "jobs" :: names => jobs(queryNames(names))
    case "plans" :: dir :: suffix :: names if !SparkEntry.queries.contains(dir) =>
      plans(queryNames(names), Some((dir, suffix)))
    case "plans" :: names => plans(queryNames(names), None)
    case "profile" :: rest =>
      profile(rest.headOption.fold(20000000L)(_.toLong), rest.lift(1).fold(cpus)(_.toInt))
    case "scale" :: rest =>
      scale(rest.headOption.fold(1000000L)(_.toLong),
        rest.lift(1).fold(Seq(math.max(1, cpus / 4), cpus).distinct)(_.split(",").map(_.toInt).toSeq))
    case _ =>
      sys.error("usage: graft.Probe jobs [q…] | plans [outDir suffix] q… | profile [n] [cores] | scale [n] [levels]")
  }

  private def queryNames(names: Seq[String]): Seq[String] =
    if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted

  private def jobs(names: Seq[String]): Unit = {
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROBE_RUNS", "1").toInt
    // one histogram entry per generated class compiled (a codegen-cache miss)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val spark = Bench.session(cpus)
    final case class Job(id: Int, site: String, start: Long, var end: Long = 0L)
    val seen = mutable.LinkedHashMap[Int, Job]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        // an explicit call site if one was set, else the result stage's
        // name, which is the action's call site
        val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("?")
        seen(e.jobId) = Job(e.jobId, site, e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = seen.synchronized {
        seen.get(e.jobId).foreach(_.end = e.time)
      }
    })
    for (name <- names; run <- 1 to runs) {
      // else a query that persists and never releases reads run 1's cache
      spark.catalog.clearCache()
      seen.synchronized(seen.clear())
      val compiles0 = compiles.getCount
      val janinoNs0 = CodeGenerator.compileTime
      val (times, failures) = Bench.timeQueries(Seq(name -> (() =>
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save())))
      failures.foreach(System.err.println)
      val js = seen.synchronized(seen.values.toSeq.sortBy(_.start))
      val compiled = compiles.getCount - compiles0
      val janinoMs = (CodeGenerator.compileTime - janinoNs0) / 1e6
      println(f"== $name run $run: ${times.head._2}%.2f s, ${js.size} jobs, " +
        f"$compiled classes compiled in $janinoMs%.0f ms ==")
      var prevEnd = 0L
      js.foreach { j =>
        val gap = if (prevEnd == 0) 0.0 else (j.start - prevEnd) / 1e3
        println(f"  job ${j.id}%3d  dur ${(j.end - j.start) / 1e3}%7.2f s  gap-before $gap%6.2f s  ${j.site}")
        prevEnd = math.max(prevEnd, j.end)
      }
    }
    spark.stop()
  }

  private def plans(names: Seq[String], out: Option[(String, String)]): Unit = {
    val spark = Bench.session(cpus)
    out.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    names.foreach { name =>
      val txt = SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      out match {
        case Some((dir, suffix)) =>
          val path = s"$dir/${name}_$suffix.txt"
          Files.writeString(Paths.get(path), txt + "\n")
          println(s"dumped $name -> $path")
        case None => println(s"===== $name =====\n$txt\n")
      }
    }
    spark.stop()
  }

  private def profile(n: Long, cores: Int): Unit = {
    val spark = Bench.session(cores)
    val counts = new ConcurrentHashMap[String, AtomicLong]()
    @volatile var sampling = false
    val threads = ManagementFactory.getThreadMXBean
    val sampler = new Thread(() => {
      while (true) {
        // state and stack from one snapshot: parked threads of the
        // task-launch pool are idle, not work
        if (sampling) threads.dumpAllThreads(false, false).foreach { t =>
          val frames = t.getStackTrace
          if (t.getThreadName.startsWith("Executor task launch") && frames.nonEmpty &&
              t.getThreadState == Thread.State.RUNNABLE) {
            val top = frames.take(2).map(f => s"${f.getClassName}.${f.getMethodName}").mkString(" <- ")
            counts.computeIfAbsent(top, _ => new AtomicLong()).incrementAndGet()
          }
        }
        Thread.sleep(10)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    Bench.timeExtract(spark, n / 10, 256, warm = false) // warmup
    sampling = true
    val (sec, tput) = Bench.timeExtract(spark, n, 256, warm = false)
    sampling = false
    spark.stop()

    println(f"[profile] n=$n cores=$cores sec=$sec%.2f tput=$tput%.0f turns/s")
    val total = counts.values.asScala.map(_.get).sum.toDouble
    counts.asScala.toSeq.sortBy(-_._2.get).take(30).foreach { case (frame, c) =>
      println(f"[profile] ${c.get / total * 100}%5.1f%% $frame")
    }
  }

  private def scale(n: Long, levels: Seq[Int]): Unit = {
    coreExtract(levels.head, n) // warmup
    levels.foreach { cores =>
      val spark = Bench.session(cores)
      val (sparkSec, sparkTput) =
        try Bench.timeExtract(spark, n, math.max(128, cores * 8)) finally spark.stop()
      val coreSec = math.min(coreExtract(cores, n), coreExtract(cores, n))
      val coreTput = n / coreSec
      println(f"[scale] cores=$cores%3d n=$n spark_s=$sparkSec%.2f spark_tput=$sparkTput%.0f " +
        f"core_s=$coreSec%.2f core_tput=$coreTput%.0f per_thread=${coreTput / cores}%.0f " +
        f"spark/core=${sparkTput / coreTput}%.2f")
    }
  }

  /** Seconds for `threads` raw threads to run `extractTurn` over generated
    * turns 0 until n, claimed in chunks of 10,000.
    */
  private def coreExtract(threads: Int, n: Long): Double = {
    val cfg = TagAttributes.bbcodeCanonical
    val next = new AtomicLong(0)
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      val t = new Thread(() => {
        var start = next.getAndAdd(10000L)
        while (start < n) {
          val end = math.min(n, start + 10000L)
          var g = start
          while (g < end) {
            if (ExtractJob.extractTurn(TranscriptGen.turnAt(g, 42), cfg).parse_error != null)
              sys.error(s"unexpected parse error at turn $g")
            g += 1
          }
          start = next.getAndAdd(10000L)
        }
      })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
