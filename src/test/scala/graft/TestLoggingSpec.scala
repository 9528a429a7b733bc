package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator

/** The suite's log config (src/test/resources/log4j2.properties) and the
  * logger-silencing window that SparkSpec's zero-ERROR rule relies on. */
class TestLoggingSpec extends SparkSpec {

  private def level(name: String) = LogManager.getLogger(name).getLevel

  test("the test log config puts the root logger at WARN") {
    assert(spark.sparkContext.isLocal) // Spark has initialised its logging
    assert(LogManager.getRootLogger.getLevel == Level.WARN)
    assert(level("org.apache.spark.scheduler.DAGScheduler") == Level.WARN)
  }

  test("quietLoggers turns the named loggers off and restores their levels") {
    Configurator.setLevel("graft.test.quiet", Level.INFO)
    val names = Seq("org.apache.spark.scheduler.TaskSetManager", "graft.test.quiet")
    val before = names.map(level)
    assert(before == Seq(Level.WARN, Level.INFO))
    assert(quietLoggers(names)(names.map(level)) == Seq(Level.OFF, Level.OFF))
    assert(names.map(level) == before)
    intercept[IllegalStateException](quietLoggers(names)(throw new IllegalStateException))
    assert(names.map(level) == before)
  }
}
