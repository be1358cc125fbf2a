package graft.ops

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSuite
import graft.pipeline.{ExtractJob, TranscriptGen}
import org.apache.spark.TaskContext
import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, SparkPlugin}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, to_json}
import org.scalatest.funsuite.AnyFunSuite

/** Fails the first attempt of partition 0 in every stage of the armed kind:
  * "map" (shuffle-map stages) or "result" (result stages, so every
  * checkpoint's). The failure is thrown after the attempt has done its
  * work — map output written, checkpoint block stored — from a
  * task-completion listener that [[InjectedFailurePlugin]] adds to every
  * task. Local mode only: the stage kinds are recorded by a driver-side
  * listener in the same JVM.
  */
object InjectedFailures {
  private val kinds = new ConcurrentHashMap[Int, String]()
  @volatile private var armed: Option[String] = None
  private val fired = new AtomicInteger()

  /** Runs `body` with `kind` armed; returns its result and how many task
    * attempts were failed. */
  def during[T](kind: String)(body: => T): (T, Int) = {
    fired.set(0)
    armed = Some(kind)
    try (body, fired.get) finally armed = None
  }

  val listener: SparkListener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val info = e.stageInfo
      // StageInfo.shuffleDepId (private[spark]) is set on shuffle-map stages only
      val dep = info.getClass.getMethod("shuffleDepId").invoke(info).asInstanceOf[Option[_]]
      kinds.put(info.stageId, if (dep.isDefined) "map" else "result")
    }
  }

  def afterTask(ctx: TaskContext): Unit = armed.foreach { kind =>
    if (ctx.partitionId == 0 && ctx.attemptNumber == 0) {
      // the listener bus is asynchronous: wait until it has seen this stage
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!kinds.containsKey(ctx.stageId) && System.nanoTime() < deadline) Thread.sleep(1)
      if (kinds.get(ctx.stageId) == kind) {
        fired.incrementAndGet()
        throw new RuntimeException(
          s"injected failure: stage ${ctx.stageId} ($kind), partition 0, attempt 0")
      }
    }
  }
}

class InjectedFailurePlugin extends SparkPlugin {
  override def driverPlugin(): DriverPlugin = null
  override def executorPlugin(): ExecutorPlugin = new ExecutorPlugin {
    override def onTaskStart(): Unit =
      TaskContext.get().addTaskCompletionListener[Unit](InjectedFailures.afterTask _)
  }
}

/** The multi-action dedup operators and the resumable extract give a clean
  * run's results when a task fails once and is retried (`local[4,3]`: up
  * to three attempts a task), in a shuffle-map stage or in a result stage
  * (a checkpoint's or a write's).
  */
class RetrySpec extends AnyFunSuite with SparkSuite {
  override protected def master: String = "local[4,3]"
  override protected def conf = Map("spark.plugins" -> classOf[InjectedFailurePlugin].getName)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("OFF") // the injected failures log as task errors
    // the bucket guard's WARN lines, which a case compares across runs
    org.apache.logging.log4j.core.config.Configurator.setLevel("graft.dedup",
      org.apache.logging.log4j.Level.WARN)
    spark.sparkContext.addSparkListener(InjectedFailures.listener)
  }

  private val kinds = Seq("map", "result")

  test("connectedComponentsStatus: labels, iterations and convergence survive a retried task") {
    // twelve chains of eight shuffled ids (five to eight rounds) and
    // one chain of twenty that maxIter = 5 leaves unconverged
    val rnd = new scala.util.Random(11)
    val ids = rnd.shuffle((0L until 116L).toVector)
    def chain(vs: Seq[Long]) = vs.zip(vs.tail)
    val chains = (0 until 12).flatMap(c => chain(ids.slice(8 * c, 8 * c + 8)))
    val pairs = spark.createDataFrame(chains).toDF("id_a", "id_b")
    val long = spark.createDataFrame(chain(ids.slice(96, 116))).toDF("id_a", "id_b")
    def run(p: DataFrame, maxIter: Int) = {
      val r = DedupOps.connectedComponentsStatus(p, maxIter)
      (r.labels.collect().map(x => (x.getLong(0), x.getLong(1))).toSet, r.iterations, r.converged)
    }
    val clean = run(pairs, 20)
    val cut = run(long, 5)
    assert(clean._3 && clean._2 >= 5 && clean._1.map(_._2).size == 12, clean)
    assert(cut._2 == 5 && !cut._3, cut)
    for (kind <- kinds) {
      val (got, fired) = InjectedFailures.during(kind)(run(pairs, 20))
      assert(fired >= 2, s"$kind: $fired injected failures")
      assert(got == clean, s"$kind: ${got._2} rounds, converged ${got._3}")
      assert(InjectedFailures.during(kind)(run(long, 5))._1 == cut, kind)
    }
  }

  test("dedupCorpus: survivors survive a retried task, with and without artifactDir") {
    // exact groups, near-duplicate copies (one word appended) and singletons
    val rnd = new scala.util.Random(5)
    def text() = Vector.fill(30)(s"w${rnd.nextInt(2000)}").mkString(" ")
    val bases = Vector.fill(40)(text())
    val docs = spark.createDataFrame(
        bases.indices.map(i => (i.toLong, bases(i))) ++
          (0 until 15).map(i => (100L + i, bases(i) + " extra")) ++
          (0 until 20).map(i => (200L + i, bases(i % 5))))
      .toDF("doc_id", "text")
    def survivors(artifacts: Boolean) = {
      val dir = if (artifacts)
        Some(java.nio.file.Files.createTempDirectory("graft_retry_art").toString) else None
      DedupOps.dedupCorpus(docs, "doc_id", "text", threshold = 0.7, artifactDir = dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val clean = survivors(artifacts = false)
    assert(clean == (0L until 40L).toSet, clean)
    assert(survivors(artifacts = true) == clean)
    for (kind <- kinds; artifacts <- Seq(false, true)) {
      val (got, fired) = InjectedFailures.during(kind)(survivors(artifacts))
      assert(fired > 0, s"$kind, artifactDir $artifacts: nothing injected")
      assert(got == clean, s"$kind, artifactDir $artifacts: " +
        s"missing=${clean -- got} extra=${got -- clean}")
    }
  }

  test("minhashNearDups and simhashNearDups: pairs and the bucket guard's WARN survive a retried task") {
    // 40 near-identical texts (one differing word) that crowd shared
    // buckets past the cap, beside near copies, exact copies and singletons
    val rnd = new scala.util.Random(9)
    def text() = Vector.fill(30)(s"w${rnd.nextInt(2000)}").mkString(" ")
    val bases = Vector.fill(30)(text())
    val docs = spark.createDataFrame(
        bases.indices.map(i => (i.toLong, bases(i))) ++
          (0 until 10).map(i => (100L + i, bases(i) + " extra")) ++
          (0 until 10).map(i => (200L + i, bases(i))) ++
          (0 until 40).map(i => (500L + i, s"the same boilerplate sentence repeated here again $i")))
      .toDF("doc_id", "text")
    def run(call: () => DataFrame): (Set[Seq[Any]], Seq[String]) = {
      var pairs = Set.empty[Seq[Any]]
      val warned = graft.LogCapture.messages("graft.dedup") {
        val result = call()
        try pairs = result.collect().map(_.toSeq).toSet finally result.unpersist()
      }.filter(_.contains("bucket guard"))
      (pairs, warned)
    }
    for ((name, call) <- Seq[(String, () => DataFrame)](
        "minhashNearDups" -> (() =>
          DedupOps.minhashNearDups(docs, "doc_id", "text", threshold = 0.7, maxBucket = 5)),
        "simhashNearDups" -> (() =>
          DedupOps.simhashNearDups(docs, "doc_id", "text", maxBucket = 5)))) {
      val clean = run(call)
      assert(clean._1.nonEmpty && clean._2.size == 1, s"$name: $clean")
      for (kind <- kinds) {
        val (got, fired) = InjectedFailures.during(kind)(run(call))
        assert(fired > 0, s"$name, $kind: nothing injected")
        assert(got._2 == clean._2, s"$name, $kind")
        assert(got._1 == clean._1, s"$name, $kind: " +
          s"missing=${clean._1 -- got._1} extra=${got._1 -- clean._1}")
      }
    }
  }

  test("ExtractJob.runResumable: committed rows and buckets survive a retried task") {
    // the turns arrive through a shuffle, so a "map" kind has a stage to fail
    val turns = TranscriptGen.turns(spark, 2000, seed = 42, partitions = 4)
      .repartition(4, col("conv_id"))
    def run() = {
      val dir = java.nio.file.Files.createTempDirectory("graft_retry_resume").toString
      val buckets = ExtractJob.runResumable(spark, turns, dir, buckets = 8)
      // offsets is an array column: compare it by value
      val rows = spark.read.parquet(dir).withColumn("offsets", to_json(col("offsets"))).collect()
      (rows.toSet, rows.length, buckets)
    }
    val clean = run()
    assert(clean._2 == 2000 && clean._1.size == 2000 && clean._3 == (0 until 8).toSet, clean._3)
    for (kind <- kinds) {
      val ((rows, n, buckets), fired) = InjectedFailures.during(kind)(run())
      assert(fired > 0, s"$kind: nothing injected")
      assert(buckets == clean._3, s"$kind: buckets $buckets")
      assert(n == 2000 && rows == clean._1, s"$kind: $n rows, " +
        s"missing=${(clean._1 -- rows).size} extra=${(rows -- clean._1).size}")
    }
  }

  test("ExtractJob.runResumable: per-partition records under a retried task equal a clean run's") {
    val turns = TranscriptGen.turns(spark, 2000, seed = 42, partitions = 4)
      .repartition(4, col("conv_id"))
    def run() = {
      val dir = java.nio.file.Files.createTempDirectory("graft_retry_stats").toString
      val stats = ExtractJob.newStats(spark)
      ExtractJob.runResumable(spark, turns, dir, buckets = 8, stats = Some(stats))
      ExtractJob.records(stats).map(r => (r.partition_id, r.rows, r.parse_errors))
    }
    val clean = run()
    assert(clean.map(_._1) == (0 until 4) && clean.map(_._2).sum == 2000, clean)
    for (kind <- kinds) {
      val (got, fired) = InjectedFailures.during(kind)(run())
      assert(fired > 0, s"$kind: nothing injected")
      assert(got == clean, s"$kind: $got")
    }
  }
}
