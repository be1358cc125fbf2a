package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** The messages the log4j logger `name` receives while `body` runs. */
object LogCapture {
  def messages(name: String)(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(s"capture-$name", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(name).asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    try body
    finally {
      logger.removeAppender(appender)
      appender.stop()
    }
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }
}
