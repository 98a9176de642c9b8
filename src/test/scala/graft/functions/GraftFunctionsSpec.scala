package graft.functions

import graft.SparkTestBase
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.functions.{array, lit}

class GraftFunctionsSpec extends SparkTestBase {

  /** Run `body` with the function registry's logger at WARN and return the
    * messages it logged that mention a replaced function.
    */
  private def replacedLines(body: => Unit): Seq[String] = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("replaced-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry")
      .asInstanceOf[Logger]
    val prevLevel = logger.getLevel
    appender.start()
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try body
    finally {
      logger.removeAppender(appender)
      logger.setLevel(prevLevel)
      appender.stop()
    }
    import scala.jdk.CollectionConverters._
    lines.asScala.toSeq.filter(_.contains("replaced a previously registered function"))
  }

  private def vecDot() = GraftFunctions.vec_dot(
    array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0)))

  test("Column-API calls register each native function once per session") {
    assert(spark.range(1).select(vecDot()).head().getDouble(0) == 11.0)
    // the capture sees a real replacement, so an empty capture below is not
    // a silent appender
    val control = replacedLines {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "vec_dot", GraftFunctions.functions.toMap.apply("vec_dot"), "built-in")
    }
    assert(control.nonEmpty, "appender did not capture a replacement")
    val lines = replacedLines { vecDot(); vecDot() }
    assert(lines.isEmpty, s"re-registered: ${lines.mkString("; ")}")
  }
}
