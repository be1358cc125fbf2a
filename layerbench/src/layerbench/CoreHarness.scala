package layerbench

import java.util.concurrent.atomic.AtomicInteger

import graft.core._
import graft.pipeline.{ExtractJob, Turn}

/** Spark-free timing of the `graft.core` calls that `ExtractJob.extractTurn`
  * makes, on `threads` threads over the workload's own rows. Rows are handed
  * out in batches; within a batch each phase runs over every row before the
  * next phase starts, so a phase is timed once per batch.
  */
object CoreHarness {
  private final class Acc { val ns = new Array[Long](3); var calls = 0L; var sink = 0L }

  /** Phase names, in call order. */
  val phaseNames: Seq[String] = Seq("bbcode_parse", "strip", "render")

  private def parallel(threads: Int)(work: Int => Unit): Unit = {
    val ts = (0 until threads).map(i => new Thread(() => work(i)))
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  /** ns per call of each phase, summed over threads and divided by calls. */
  def phases(rows: Array[Turn], threads: Int, rounds: Int, tracer: Tracer): Map[String, Double] = {
    val cfg = ExtractJob.defaultCfg(ExtractJob.BBCode)
    val batch = math.max(1, math.min(1024, rows.length / (threads * 16)))
    val accs = Array.fill(threads)(new Acc)
    (0 until rounds).foreach { round =>
      tracer.run = s"core$round"
      val next = new AtomicInteger(0)
      parallel(threads) { ti =>
        val acc = accs(ti)
        val docs = new Array[Doc](batch)
        var from = next.getAndAdd(batch)
        while (from < rows.length) {
          val n = math.min(batch, rows.length - from)
          val t0 = System.nanoTime()
          var i = 0
          while (i < n) {
            docs(i) = BBCodeParser.parse(rows(from + i).text, cfg)
            i += 1
          }
          val t1 = System.nanoTime()
          i = 0
          while (i < n) { acc.sink += Transform.textTransform(docs(i)).length; i += 1 }
          val t2 = System.nanoTime()
          i = 0
          while (i < n) {
            acc.sink += Render.renderEscaped(docs(i), BBCodeToHtml.renderers, new Offsets, cfg).length
            i += 1
          }
          val t3 = System.nanoTime()
          acc.ns(0) += t1 - t0; acc.ns(1) += t2 - t1; acc.ns(2) += t3 - t2
          acc.calls += n
          if (tracer.on) {
            val b = tracer.newId()
            val ms = Seq(t0, t1, t2, t3).map(t => tracer.nowMs - (System.nanoTime() - t) / 1e6)
            tracer.add(Span(b, 0L, tracer.run, "core", "core.batch", ms(0), ms(3)))
            phaseNames.indices.foreach(p => tracer.add(Span(tracer.newId(), b, tracer.run, "core",
              s"core.${phaseNames(p)}", ms(p), ms(p + 1))))
          }
          java.util.Arrays.fill(docs.asInstanceOf[Array[AnyRef]], null)
          from = next.getAndAdd(batch)
        }
      }
    }
    val calls = accs.map(_.calls).sum.toDouble
    phaseNames.indices.map(p => s"core.${phaseNames(p)}.ns_per_call" -> accs.map(_.ns(p)).sum / calls).toMap
  }

  /** `ExtractJob.extractTurn` rows per second per thread, median of `rounds`. */
  def rowsPerSecPerThread(rows: Array[Turn], threads: Int, rounds: Int): Double = {
    val cfg = ExtractJob.defaultCfg(ExtractJob.BBCode)
    val batch = math.max(1, math.min(1024, rows.length / (threads * 16)))
    Intervals.median((0 until rounds).map { _ =>
      val next = new AtomicInteger(0)
      val errors = new AtomicInteger(0)
      val t0 = System.nanoTime()
      parallel(threads) { _ =>
        var from = next.getAndAdd(batch)
        while (from < rows.length) {
          val end = math.min(rows.length, from + batch)
          while (from < end) {
            if (ExtractJob.extractTurn(rows(from), cfg).parse_error != null) errors.incrementAndGet()
            from += 1
          }
          from = next.getAndAdd(batch)
        }
      }
      require(errors.get == 0, s"extractTurn returned ${errors.get} parse errors")
      rows.length / ((System.nanoTime() - t0) / 1e9) / threads
    })
  }
}
