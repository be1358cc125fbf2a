package layerbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed interval in epoch milliseconds. `parent` is 0 for a root span;
  * `run` names the workload run (pass) the span belongs to.
  */
final case class Span(id: Long, parent: Long, run: String, kind: String, name: String,
                      start: Double, end: Double)

object Intervals {
  /** Length of the union of `[start, end)` intervals. */
  def unionLen(iv: Iterable[(Double, Double)]): Double = {
    var total = 0.0
    var curS = 0.0
    var curE = Double.NegativeInfinity
    iv.filter(x => x._2 > x._1).toSeq.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > Double.NegativeInfinity) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > Double.NegativeInfinity) total += curE - curS
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
}

/** In-memory span recorder. Switched off, it only runs the bodies. */
final class Tracer(val on: Boolean) {
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  private val ids = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  @volatile var run: String = "setup"

  def nowMs: Double = ms0 + (System.nanoTime() - nano0) / 1e6
  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = buf.synchronized { buf += s }
  def spans: Seq[Span] = buf.synchronized { buf.toList }

  /** Runs `body` as a span under the calling thread's innermost span. */
  def span[T](kind: String, name: String)(body: Long => T): T =
    if (!on) body(0L)
    else {
      val id = newId()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t = nowMs
      try body(id)
      finally {
        stack.set(stack.get.tail)
        add(Span(id, parent, run, kind, name, t, nowMs))
      }
    }

  /** A call into a public function of the program. Its Spark jobs carry
    * the job group `lb-<span id>`, which is how the listener attributes
    * jobs, stages and tasks to it.
    */
  def call[T](sc: SparkContext, name: String)(body: => T): T =
    span("call", name) { id =>
      if (!on) body
      else {
        sc.setJobGroup(Tracer.group(id), name, interruptOnCancel = false)
        try body finally sc.clearJobGroup()
      }
    }

  /** Adds job and stage spans under the call spans that caused them. */
  def addSparkSpans(l: LayerListener): Unit = {
    val calls = spans.filter(_.kind == "call").map(s => Tracer.group(s.id) -> s).toMap
    l.jobs.foreach { j =>
      calls.get(j.group).foreach { c =>
        val jid = newId()
        add(Span(jid, c.id, c.run, "job", s"job ${j.id}", j.start.toDouble, j.end.toDouble))
        l.stages.values.filter(s => s.group == j.group && j.stageIds.contains(s.id) && s.completed >= 0 &&
            s.submitted >= j.start && s.submitted <= j.end)
          .foreach(s => add(Span(newId(), jid, c.run, "stage", s"stage ${s.id}.${s.attempt}",
            s.submitted.toDouble, s.completed.toDouble)))
      }
    }
  }
}

object Tracer {
  def group(spanId: Long): String = s"lb-$spanId"

  /** Self time of each span: its duration minus the time its children cover. */
  def selfMs(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Intervals.unionLen(kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end))))
      s.id -> (s.end - s.start - covered)
    }.toMap
  }
}

final class JobRec(val id: Int, val group: String, val start: Long, val stageIds: Set[Int]) {
  @volatile var end: Long = -1L
}

final class StageRec(val id: Int, val attempt: Int, val group: String, val submitted: Long) {
  @volatile var completed: Long = -1L
  @volatile var accums: Map[String, Any] = Map.empty
}

final case class TaskRec(stage: Int, attempt: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                         deserMs: Long, bytesRead: Long, recordsRead: Long,
                         bytesWritten: Long, recordsWritten: Long, shuffleBytes: Long,
                         shuffleRecords: Long, spillBytes: Long)

/** Records every job, stage and task with the job group it ran under. */
final class LayerListener extends SparkListener {
  val jobs = mutable.ArrayBuffer[JobRec]()
  val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()
  val tasks = mutable.ArrayBuffer[TaskRec]()

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += new JobRec(e.jobId, group(e.properties), e.time, e.stageIds.toSet)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages((i.stageId, i.attemptNumber())) = new StageRec(i.stageId, i.attemptNumber(),
      group(e.properties), i.submissionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { s =>
      s.completed = i.completionTime.getOrElse(System.currentTimeMillis())
      s.accums = i.accumulables.values.flatMap(a => a.name.map(_ -> a.value.orNull)).toMap
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += TaskRec(e.stageId, e.stageAttemptId, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.executorDeserializeTime, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.diskBytesSpilled)
  }

  /** Jobs, stages and tasks of the given call spans. */
  def of(calls: Seq[Span]): Work = synchronized {
    val groups = calls.map(c => Tracer.group(c.id)).toSet
    val st = stages.values.filter(s => groups(s.group)).toList
    val keys = st.map(s => (s.id, s.attempt)).toSet
    Work(jobs.filter(j => groups(j.group)).toList, st, tasks.filter(t => keys((t.stage, t.attempt))).toList)
  }
}

/** The Spark work attributed to a set of calls, with the per-layer figures
  * derived from it.
  */
final case class Work(jobs: Seq[JobRec], stages: Seq[StageRec], tasks: Seq[TaskRec]) {
  def jobUnionS: Double = Intervals.unionLen(jobs.map(j => (j.start.toDouble, j.end.toDouble))) / 1e3
  def runS: Double = tasks.map(_.runMs).sum / 1e3
  def cpuS: Double = tasks.map(_.cpuNs).sum / 1e9
  def gcS: Double = tasks.map(_.gcMs).sum / 1e3
  def deserS: Double = tasks.map(_.deserMs).sum / 1e3

  /** 1 - busy task time / (cores x time any of the stages was running). */
  def slotIdleShare(cores: Int): Double = {
    val wall = Intervals.unionLen(stages.filter(_.completed >= 0)
      .map(s => (s.submitted.toDouble, s.completed.toDouble))) / 1e3
    if (wall <= 0) 0.0 else math.max(0.0, 1.0 - runS / (cores * wall))
  }

  /** max / median task run time of the worst stage with at least 2 tasks. */
  def taskSkew: Double = {
    val ratios = tasks.groupBy(t => (t.stage, t.attempt)).values.filter(_.size >= 2).map { ts =>
      val med = Intervals.median(ts.map(_.runMs.toDouble))
      ts.map(_.runMs).max / math.max(med, 1.0)
    }
    if (ratios.isEmpty) 0.0 else ratios.max
  }
}
