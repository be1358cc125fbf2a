package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One local session per suite: `master` (`local[cores]`) with as many
  * shuffle partitions as cores, the UI off, UTC, WARN logging and the
  * native functions registered, plus the suite's own `conf`. The session is
  * stopped after the suite, so no suite sees another suite's conf,
  * checkpoint dir or listeners.
  */
trait SparkSuite extends BeforeAndAfterAll { self: Suite =>
  protected def cores: Int = 4
  protected def master: String = s"local[$cores]"
  protected def conf: Map[String, String] = Map.empty

  @transient private var session: SparkSession = _
  protected def spark: SparkSession = session

  override def beforeAll(): Unit = {
    super.beforeAll()
    session = SparkSession.builder()
      .master(master)
      .appName(getClass.getSimpleName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(conf)
      .getOrCreate()
    session.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(session)
  }

  /** The Spark jobs `body` starts. Listener events arrive in the order the
    * jobs start, so the jobs between a marker job run before `body` and
    * one run after it are `body`'s.
    */
  protected def jobsOf(body: => Unit): Int = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1)).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("__before")
      body
      marker("__after")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!started.contains("__after") && System.nanoTime() < deadline) Thread.sleep(10)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    started.asScala.toSeq.dropWhile(_ != "__before").drop(1).takeWhile(_ != "__after").size
  }

  override def afterAll(): Unit =
    try if (session != null) session.stop() finally super.afterAll()
}
