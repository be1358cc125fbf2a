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

  override def afterAll(): Unit =
    try if (session != null) session.stop() finally super.afterAll()
}
