package layerbench

import java.io.File

/** Runs the chat workload once on tiny inputs, traced, so the JVM loads
  * the Spark and program classes a benchmark run loads. The build runs it
  * once to write the class-data-sharing archive that cuts JVM and Spark
  * start-up per run.
  *
  * Usage: layerbench.Train <work dir>
  */
object Train {
  def main(args: Array[String]): Unit = {
    val work = new File(args(0))
    val cores = Runtime.getRuntime.availableProcessors
    val spark = LayerBench.session(cores, work)
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val wl = new ChatBBCode(2000)
    val ctx = new Ctx(spark, cores, 1L, work)
    wl.generate(1L)
    wl.materialize(ctx, ctx.dir("in"))
    wl.commit(ctx)
    ctx.tracer = new Tracer(true)
    ctx.tracer.span("run", wl.name) { _ => wl.pass(ctx); wl.resume(ctx) }
    org.apache.spark.layerbench.BusDrain(spark.sparkContext)
    Layers.ofStep(listener, ctx.tracer.spans, cores)
    CoreHarness.phases(wl.coreRows.get, cores, rounds = 1, ctx.tracer)
    CoreHarness.rowsPerSecPerThread(wl.coreRows.get, cores, rounds = 1)
    ctx.tracer.addSparkSpans(listener)
    Tracer.selfMs(ctx.tracer.spans)
    val failed = wl.check(ctx).map(_.failed).sum
    require(failed == 0, s"$failed rows failed the output check")
    spark.stop()
  }
}
